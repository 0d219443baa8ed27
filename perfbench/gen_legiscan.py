"""Seeded LegiScan-shaped inputs for the ``pipelines-json`` workload.

:func:`make_corpus` draws every record from the seed; :func:`write_inputs`
lays them out the way the LegiScan API hands them over:

- ``datasets/<session_id>.b64``: one base64 zip per session holding
  ``CA/<session_title_underscored>/{bill,people}/*.json``;
- ``texts/<doc_id>.b64``: base64 HTML of every chaptered bill text;
- ``sbud/<year>_sbud.pdf``: one SBUD budget PDF per fiscal year, built with
  ``sources.extract.make_simple_pdf``.

:class:`ApiTransport` serves those files to ``sources.rest.RestClient`` in
process. :func:`expected_reports` computes the three pipeline reports in
plain Python from the corpus records, without the engine, following the
reference rules (FIXTURES.md section A): keep-latest legislator, primary
sponsors with first-listed fallback, drop when nothing matches, committee
filter, Rep->Asm and HD-->AD- labels, chaptered texts only, even/odd year
session parity, and bills with empty ``sponsors`` or ``texts`` arrays (no
sponsor: dropped; no text: null link).
"""

from __future__ import annotations

import base64
import io
import json
import random
import zipfile
from dataclasses import dataclass
from pathlib import Path

STATE = "CA"
SPECIAL_PEOPLE_ID = 16285  # the reference's side-collected legislator
SEARCH_TERMS = ["affordab", "budget", "transit"]  # case-sensitive stems
BUDGET_TERMS = ["budget", "Housing", "wildfire"]  # case-insensitive
LEGINFO_PREFIX = "https://leginfo.legislature.ca.gov/faces/billTextClient.xhtml?bill_id="
_ZIP_DATE = (2024, 1, 1, 0, 0, 0)

_COMMON_WORDS = (
    "water schools health energy roads taxes labor courts parks privacy "
    "elections pensions ports tourism veterans insurance libraries fisheries"
).split()
# the words the search terms look for; drawn rarely so searches select
_TOPICAL_WORDS = (
    "housing affordable affordability budget Budget transit Transit "
    "wildfire Wildfire"
).split()
_SURNAMES = (
    "Adams Baker Chen Diaz Evans Flores Garcia Hill Ito Jones Kim Lopez "
    "Moore Nguyen Ortiz Patel Quinn Reyes Singh Tran Umar Vega Wong Young"
).split()
_GIVEN = "Ann Ben Cruz Dana Eli Fay Gus Hana Ivan Jo Kai Lia Max Noor".split()


@dataclass
class Person:
    people_id: int
    role: str
    name: str
    district: str
    committee_id: int = 0

    def doc(self) -> dict:
        return {"person": {
            "people_id": self.people_id, "role": self.role, "name": self.name,
            "district": self.district, "committee_id": self.committee_id,
        }}


@dataclass
class Bill:
    number: str
    bill_type: str
    status: int
    status_date: str
    title: str
    description: str
    session_name: str
    texts: list[tuple[int, str, str]]  # (doc_id, type, state_link)
    sponsors: list[tuple[int, int]]  # (people_id, sponsor_type_id)

    def doc(self) -> dict:
        return {"bill": {
            "bill_number": self.number, "bill_type": self.bill_type,
            "status": self.status, "status_date": self.status_date,
            "title": self.title, "description": self.description,
            "session": {"session_name": self.session_name},
            "texts": [{"doc_id": d, "type": t, "state_link": s}
                      for d, t, s in self.texts],
            "sponsors": [{"people_id": p, "sponsor_type_id": t}
                         for p, t in self.sponsors],
        }}


@dataclass
class Corpus:
    sessions: list[str]  # titles, oldest first
    people: dict[str, list[Person]]
    bills: dict[str, list[Bill]]
    html: dict[int, tuple[str, bytes]]  # doc_id -> (extracted text, html)
    sbud: dict[int, list[str]]  # fiscal year -> PDF text lines
    search_years: list[int]  # start years run_search_all_bills searches


def session_title(start_year: int) -> str:
    return f"{start_year}-{start_year + 1} Regular Session"


def session_label(year: int) -> str:
    """Odd year y -> 'y-(y+1)', even year y -> '(y-1)-y'."""
    return f"{year}-{year + 1}" if year % 2 == 1 else f"{year - 1}-{year}"


def _phrase(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(
        rng.choice(_TOPICAL_WORDS if rng.random() < 0.04 else _COMMON_WORDS)
        for _ in range(rng.randint(lo, hi))
    )


def _html(rng: random.Random, bill: str) -> tuple[str, bytes]:
    """(text an HTML-to-text extractor must yield, the HTML document)."""
    body = [_phrase(rng, 5, 30) for _ in range(rng.randint(1, 4))]
    if rng.random() < 0.3:
        body.append("funds & appropriations")  # written as an entity below
    pieces = [bill] + body
    markup = "".join(
        f"<p>{p.replace('&', '&amp;')}</p>" for p in body
    )
    doc = (
        f"<html><head><title>{bill}</title>"
        f"<style>.budget {{ color: red }}</style></head>"
        f"<body>{markup}</body></html>"
    )
    return "".join(pieces), doc.encode("utf-8")


def _fixed_bills(session: str, start: int) -> list[Bill]:
    """Two bills every session has, whatever the seed: a passed bill with
    no sponsors, and a bill with no texts whose title holds every search
    term. LegiScan hands over both shapes; the seeded share of them may
    miss the records a pipeline reads."""
    date = f"{start}-06-30"
    return [
        Bill("AB3001", "B", 4, date, "water rights", "water rights", session,
             texts=[], sponsors=[]),
        Bill("AB3002", "B", 1, date, " ".join(SEARCH_TERMS), "no texts yet",
             session, texts=[], sponsors=[]),
    ]


def make_corpus(
    seed: int, n_sessions: int = 3, bills_per_session: int = 100
) -> Corpus:
    rng = random.Random(seed)
    starts = [2015 + 2 * i for i in range(n_sessions)]
    sessions = [session_title(y) for y in starts]

    # legislator pool: each serves a random run of sessions, and may change
    # chamber between them (keep-latest must pick the newest record)
    pool = []
    for i in range(30 * n_sessions):
        name = f"{rng.choice(_SURNAMES)}, {rng.choice(_GIVEN)} {i}"
        pool.append((1000 + i, name))
    pool.append((SPECIAL_PEOPLE_ID, "Dodd, Bill"))
    people: dict[str, list[Person]] = {s: [] for s in sessions}
    for pid, name in pool:
        first = rng.randrange(n_sessions)
        last = rng.randrange(first, n_sessions)
        if pid == SPECIAL_PEOPLE_ID:
            first, last = 0, n_sessions - 1
        for s in sessions[first:last + 1]:
            senate = rng.random() < 0.35
            district = f"{'SD' if senate else 'HD'}-{rng.randint(1, 80):02d}"
            people[s].append(Person(pid, "Sen" if senate else "Rep", name, district))
    # committees are people records too (committee_id > 0) and may sponsor
    for j, s in enumerate(sessions):
        for c in range(6):
            cid = 9000 + 10 * j + c
            people[s].append(Person(cid, "", f"Committee on {_COMMON_WORDS[c]}", "", cid))

    roster = {s: [p.people_id for p in people[s]] for s in sessions}
    doc_id = 100_000
    bills: dict[str, list[Bill]] = {s: [] for s in sessions}
    html: dict[int, tuple[str, bytes]] = {}
    for s, start in zip(sessions, starts):
        numbers = rng.sample(range(1, 3000), bills_per_session)
        for k, num in enumerate(numbers):
            number = f"{'AB' if k % 3 else 'SB'}{num}"
            members = roster[s]
            legislator = lambda: rng.choice(members)  # noqa: E731
            stranger = lambda: rng.randint(50_000, 60_000)  # noqa: E731
            case = rng.random()
            if case < 0.45:  # one or two primaries plus co-authors
                sponsors = [(legislator(), 1) for _ in range(rng.randint(1, 2))]
                sponsors += [(legislator(), 2) for _ in range(rng.randint(0, 3))]
                rng.shuffle(sponsors)
            elif case < 0.55:  # the same primary listed twice
                p = legislator()
                sponsors = [(p, 1), (legislator(), 2), (p, 1)]
            elif case < 0.70:  # no primary: first-listed fallback
                sponsors = [(legislator(), 2) for _ in range(rng.randint(1, 3))]
            elif case < 0.78:  # unknown primary, legislator co-author first
                sponsors = [(legislator(), 2), (stranger(), 1)]
            elif case < 0.86:  # unknown primary listed first: dropped
                sponsors = [(stranger(), 1), (legislator(), 2)]
            elif case < 0.95:  # nothing matches: dropped
                sponsors = [(stranger(), 2), (stranger(), 1)]
            elif case < 0.97:
                sponsors = [(SPECIAL_PEOPLE_ID, 1), (legislator(), 2)]
            else:  # no sponsors at all: nothing to fall back on, dropped
                sponsors = []
            status = 4 if rng.random() < 0.4 else rng.choice([1, 2, 3, 5, 6])
            n_texts = 0 if rng.random() < 0.03 else rng.choice([1, 1, 2, 2, 3])
            chaptered = n_texts > 0 and status == 4 and rng.random() < 0.7
            texts = []
            for t in range(n_texts):
                doc_id += 1
                kind = "Introduced" if t == 0 else "Amended"
                if chaptered and t == n_texts - 1:
                    kind = "Chaptered"
                link = f"https://leginfo.legislature.ca.gov/bill/{start}0{number}/v{t}"
                if rng.random() < 0.5:
                    link += f"#section-{t}"
                texts.append((doc_id, kind, link))
            if chaptered:
                html[texts[-1][0]] = _html(rng, f"{number[:2]} {number[2:]}")
            year = start + rng.randint(0, 1)
            bills[s].append(Bill(
                number=number,
                bill_type=rng.choice(["B", "B", "B", "R", "CA", "JR"]),
                status=status,
                status_date=f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
                title=_phrase(rng, 2, 8),
                description=_phrase(rng, 4, 16) + (", and related matters" if rng.random() < 0.2 else ""),
                session_name=s,
                texts=texts,
                sponsors=sponsors,
            ))
        bills[s].extend(_fixed_bills(s, start))

    # SBUD PDFs: one per fiscal year of every session, plus a year with no
    # session in the tree; each lists a sample of that session's bills
    # (chaptered or not) and a few bill numbers that do not exist
    sbud: dict[int, list[str]] = {}
    for year in [starts[0] - 2] + [y + d for y in starts for d in (0, 1)]:
        label = session_label(year)
        match = [s for s in sessions if s.startswith(label)]
        candidates = bills[match[0]] if match else []
        picked = rng.sample(candidates, min(len(candidates), 12))
        lines = [f"SUMMARY OF BUDGET ACTIONS {year}", "", "Bill Description"]
        for b in picked:
            pad = " " * rng.randint(0, 3)
            lines.append(f"{pad}{b.number[:2]} {b.number[2:]}  {_phrase(rng, 1, 4)}")
        lines.append(f"AB {rng.randint(5000, 6000)}  not a real bill")
        lines.append(f"Total budget {year}")
        sbud[year] = lines
    return Corpus(sessions, people, bills, html, sbud, search_years=starts[1:])


def _zip_session(corpus: Corpus, session: str) -> bytes:
    base = f"{STATE}/{session.replace(' ', '_')}"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for b in corpus.bills[session]:
            info = zipfile.ZipInfo(f"{base}/bill/{b.number}.json", _ZIP_DATE)
            zf.writestr(info, json.dumps(b.doc(), indent=1), zipfile.ZIP_DEFLATED)
        for p in corpus.people[session]:
            info = zipfile.ZipInfo(f"{base}/people/{p.people_id}.json", _ZIP_DATE)
            zf.writestr(info, json.dumps(p.doc(), indent=1), zipfile.ZIP_DEFLATED)
    return buf.getvalue()


def write_inputs(corpus: Corpus, out_dir: str) -> dict:
    """Write the API payloads and PDFs; returns a size summary."""
    from legislative_bills_database_spark.sources.extract import make_simple_pdf

    out = Path(out_dir)
    for sub in ("datasets", "texts", "sbud"):
        (out / sub).mkdir(parents=True, exist_ok=True)
    listing = []
    for i, s in enumerate(corpus.sessions):
        sid = 2000 + i
        (out / "datasets" / f"{sid}.b64").write_bytes(
            base64.b64encode(_zip_session(corpus, s))
        )
        listing.append({"session_id": sid, "session_title": s,
                        "access_key": f"key{sid}"})
    (out / "datasets" / "list.json").write_text(json.dumps(listing))
    for d, (_, doc) in corpus.html.items():
        (out / "texts" / f"{d}.b64").write_bytes(base64.b64encode(doc))
    for year, lines in corpus.sbud.items():
        (out / "sbud" / f"{year}_sbud.pdf").write_bytes(make_simple_pdf(lines))
    return {
        "sessions": len(corpus.sessions),
        "bill_files": sum(len(v) for v in corpus.bills.values()),
        "people_files": sum(len(v) for v in corpus.people.values()),
        "html_texts": len(corpus.html),
        "sbud_pdfs": len(corpus.sbud),
        "bytes": sum(f.stat().st_size for f in out.rglob("*") if f.is_file()),
    }


class ApiTransport:
    """In-process LegiScan API over the files :func:`write_inputs` wrote;
    a ``sources.rest.Transport``."""

    def __init__(self, inputs_dir: str) -> None:
        self.root = Path(inputs_dir)

    def __call__(self, url: str, params: dict) -> tuple[int, dict]:
        op = params["op"]
        if op == "getDataSetList":
            listing = json.loads((self.root / "datasets" / "list.json").read_text())
            return 200, {"datasetlist": listing}
        if op == "getDataSet":
            path = self.root / "datasets" / f"{params['id']}.b64"
            if params["access_key"] != f"key{params['id']}" or not path.exists():
                return 404, {}
            return 200, {"dataset": {"zip": path.read_text()}}
        if op == "getBillText":
            path = self.root / "texts" / f"{params['id']}.b64"
            if not path.exists():
                return 404, {}
            return 200, {"text": {"doc": path.read_text()}}
        return 400, {}


# ---------------------------------------------------------------------------
# plain-Python reports
# ---------------------------------------------------------------------------

def _matched_people(bill: Bill, legislator_ids: set[int]) -> list[int]:
    """Distinct primary sponsors that are legislators; else the first-listed
    sponsor if a legislator; else nobody."""
    primary = []
    for pid, kind in bill.sponsors:
        if kind == 1 and pid in legislator_ids and pid not in primary:
            primary.append(pid)
    if primary:
        return primary
    if bill.sponsors and bill.sponsors[0][0] in legislator_ids:
        return [bill.sponsors[0][0]]
    return []


def expected_reports(corpus: Corpus) -> dict:
    """The rows each pipeline writes, as lists of string/number cells:

    - ``counts``: header + rows of run_legislator_bill_counts (Name order);
    - ``special``: header + rows of its side table (session, bill order);
    - ``search``: header + rows of run_search_all_bills (session, bill order);
    - ``budget``: {term: sorted rows} of run_budget_bill_search.
    """
    sessions = corpus.sessions
    latest: dict[int, Person] = {}
    for s in sessions:  # oldest first: later sessions overwrite
        for p in corpus.people[s]:
            latest[p.people_id] = p
    ids = set(latest)

    per: dict[int, dict[str, int]] = {pid: {s: 0 for s in sessions} for pid in ids}
    special = []
    for s in sessions:
        for b in corpus.bills[s]:
            if b.status != 4:
                continue
            for pid in _matched_people(b, ids):
                per[pid][s] += 1
                if pid == SPECIAL_PEOPLE_ID:
                    special.append([s, b.number, b.status_date, b.title, b.description])
    counts = []
    for pid, p in latest.items():
        if p.committee_id != 0:
            continue
        row = [per[pid][s] for s in sessions]
        total = sum(row)
        years = 2 * sum(1 for n in row if n > 0)
        counts.append(
            [p.role.replace("Rep", "Asm"), p.name, p.district.replace("HD-", "AD-")]
            + row + [total, years, total / years if years else None]
        )
    counts.sort(key=lambda r: r[1])
    special.sort(key=lambda r: (r[0], r[1]))

    search = []
    wanted = {session_title(y) for y in corpus.search_years}
    for s in sessions:
        if s not in wanted:
            continue
        for b in corpus.bills[s]:
            if not any(t in f for t in SEARCH_TERMS for f in (b.title, b.description)):
                continue
            link = b.texts[0][2].split("#", 1)[0] if b.texts else None
            search.append([b.number, b.session_name, b.status, link, b.title, b.description])
    search.sort(key=lambda r: (r[1], r[0]))

    by_key = {}
    for s in sessions:
        for b in corpus.bills[s]:
            by_key[(s, b.number)] = b
    budget: dict[str, list[list[str]]] = {t: [] for t in BUDGET_TERMS}
    files = set()
    for year, lines in corpus.sbud.items():
        for line in lines:
            line = line.lstrip(" ")
            parts = line.split(" ")
            if len(parts) < 3 or parts[0] not in ("AB", "SB") or not parts[1].isdigit():
                continue
            number = parts[0] + parts[1]
            b = by_key.get((session_label(year) + " Regular Session", number))
            if b and any(t == "Chaptered" for _, t, _ in b.texts):
                files.add((year, number, b.texts[-1][0]))
    for year, number, doc in sorted(files):
        text = corpus.html[doc][0].lower()
        bill = f"{number[:2]} {number[2:]}"
        fiscal = session_label(year)
        link = (LEGINFO_PREFIX + fiscal + "0" + bill).replace("-", "").replace(" ", "")
        for term in BUDGET_TERMS:
            if term.lower() in text:
                budget[term].append([bill, fiscal, "", "", "", link, ""])
    budget = {t: sorted(rows) for t, rows in budget.items() if rows}

    return {
        "counts": [["Chamber", "Name", "District", *sessions, "Total",
                    "Years in Data", "Bills per Year"]] + counts,
        "special": [["session", "bill", "date", "title", "desc"]] + special,
        "search": [["bill_number", "session", "status", "link", "title",
                    "description"]] + search,
        "budget": budget,
    }

