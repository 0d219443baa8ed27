"""Tests of the benchmark's own pieces (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
from pathlib import Path

import pytest

import gen_legiscan as gen
import gen_tables
from checks import same_table
from gen_legiscan import Bill, Corpus, Person

S21 = "2021-2022 Regular Session"
S23 = "2023-2024 Regular Session"


def _same_tree(a: Path, b: Path) -> bool:
    files_a = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    files_b = sorted(p.relative_to(b) for p in b.rglob("*") if p.is_file())
    return files_a == files_b and all(
        filecmp.cmp(a / f, b / f, shallow=False) for f in files_a
    )


def test_tables_are_byte_identical_for_a_seed(tmp_path):
    for run in ("a", "b"):
        gen_tables.write_tables(str(tmp_path / run), 0.001, seed=5)
    gen_tables.write_tables(str(tmp_path / "other"), 0.001, seed=6)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not filecmp.cmp(tmp_path / "a" / "lineitem.parquet",
                           tmp_path / "other" / "lineitem.parquet", shallow=False)


def test_legiscan_inputs_are_byte_identical_for_a_seed(tmp_path):
    for run in ("a", "b"):
        gen.write_inputs(gen.make_corpus(5, bills_per_session=30), str(tmp_path / run))
    gen.write_inputs(gen.make_corpus(6, bills_per_session=30), str(tmp_path / "other"))
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "other")


def test_transport_feeds_the_rest_client(tmp_path):
    from legislative_bills_database_spark.sources.rest import (
        RestClient,
        fetch_bill_text_html,
        fetch_datasets,
    )

    corpus = gen.make_corpus(3, n_sessions=2, bills_per_session=10)
    gen.write_inputs(corpus, str(tmp_path / "in"))
    client = RestClient("legiscan://in-process/", "k",
                        transport=gen.ApiTransport(str(tmp_path / "in")),
                        rate_limit_per_sec=1e9)
    assert fetch_datasets(client, str(tmp_path / "data")) == corpus.sessions
    bill = corpus.bills[corpus.sessions[0]][0]
    bill_file = (tmp_path / "data" / corpus.sessions[0] / "CA"
                 / corpus.sessions[0].replace(" ", "_") / "bill" / f"{bill.number}.json")
    assert bill_file.exists()
    doc_id, (_, html) = next(iter(corpus.html.items()))
    assert fetch_bill_text_html(client, doc_id) == html


def _person(pid, role, name, district, committee=0):
    return Person(pid, role, name, district, committee)


def _bill(number, status, sponsors, texts, title="t", desc="d", session=S23,
          btype="B", date="2023-09-01"):
    return Bill(number, btype, status, date, title, desc, session, texts, sponsors)


@pytest.fixture
def edge_corpus() -> Corpus:
    """The FIXTURES.md edge cases, one record each."""
    people = {
        S21: [
            _person(101, "Sen", "Alice", "SD-03"),
            _person(102, "Rep", "Bob", "HD-11"),
            _person(103, "", "Committee on water", "", 7),
        ],
        S23: [
            # Alice again: keep-latest picks this record
            _person(101, "Rep", "Alice", "HD-09"),
            _person(16285, "Sen", "Dodd, Bill", "SD-03"),
        ],
    }
    bills = {
        S21: [
            _bill("AB10", 4, [(102, 1)], [(21, "Introduced", "http://x/ab10")],
                  title="Roads", desc="road funding", session=S21),
            _bill("AB128", 4, [(16285, 1)],
                  [(22, "Introduced", "http://x/ab128"), (23, "Chaptered", "http://x/ab128c")],
                  title="Budget Act of 2021", desc="state budget", session=S21,
                  date="2021-06-28"),
            # a committee is the primary: credited to it, then filtered out
            _bill("SB20", 4, [(103, 1), (101, 2)], [(24, "Chaptered", "http://x/sb20")],
                  session=S21),
        ],
        S23: [
            _bill("AB1", 4, [(101, 1), (16285, 1), (101, 1)],
                  [(11, "Introduced", "http://x/ab1#frag"), (12, "Chaptered", "http://x/ab1c")],
                  title="Affordable housing", desc="housing affordability program"),
            _bill("AB2", 4, [(999, 1), (102, 2)], [(13, "Introduced", "http://x/ab2")]),
            _bill("SB3", 4, [(102, 2), (888, 2)], [(14, "Introduced", "http://x/sb3")],
                  desc="transit"),
            _bill("AB4", 2, [(101, 1)], [(15, "Introduced", "http://x/ab4")],
                  title="budget"),
            _bill("SB5", 4, [(101, 1)], [(16, "Introduced", "http://x/sb5")], btype="R"),
            # empty arrays: no sponsor to credit (dropped), no text to link
            _bill("AB6", 4, [], [], title="budget plan"),
        ],
    }
    html = {
        23: ("AB 128Budget appropriations", b""),
        24: ("SB 20wildfire & HOUSING", b""),
        12: ("AB 1housing", b""),
    }
    sbud = {
        2021: ["AB 128  Budget Act of 2021", "intro text", "AB 9999  no such bill"],
        2022: ["  SB 20  fire relief", "AB 10  roads, not chaptered"],
        2023: ["AB 1  housing"],
        2019: ["AB 128  no session in the tree"],
    }
    return Corpus([S21, S23], people, bills, html, sbud, search_years=[2021, 2023])


def test_expected_reports_cover_the_edge_cases(edge_corpus):
    want = gen.expected_reports(edge_corpus)
    link = gen.LEGINFO_PREFIX
    assert want["counts"] == [
        ["Chamber", "Name", "District", S21, S23, "Total", "Years in Data",
         "Bills per Year"],
        # keep-latest record (Rep -> Asm, HD- -> AD-); AB1 once despite the
        # repeated primary; the type-R bill counts; AB4 is not passed
        ["Asm", "Alice", "AD-09", 0, 2, 2, 2, 1.0],
        # SB3 through the first-listed fallback; AB2 dropped (its first-listed
        # sponsor is unknown), AB6 too (no sponsors)
        ["Asm", "Bob", "AD-11", 1, 1, 2, 4, 0.5],
        ["Sen", "Dodd, Bill", "SD-03", 1, 1, 2, 4, 0.5],
    ]
    assert want["special"] == [
        ["session", "bill", "date", "title", "desc"],
        [S21, "AB128", "2021-06-28", "Budget Act of 2021", "state budget"],
        [S23, "AB1", "2023-09-01", "Affordable housing", "housing affordability program"],
    ]
    assert [r[:4] for r in want["search"]] == [
        ["bill_number", "session", "status", "link"],
        ["AB128", S21, 4, "http://x/ab128"],
        ["AB1", S23, 4, "http://x/ab1"],
        ["AB4", S23, 2, "http://x/ab4"],
        ["AB6", S23, 4, None],
        ["SB3", S23, 4, "http://x/sb3"],
    ]
    assert want["budget"] == {
        # 2021 is odd -> 2021-2022; 2022 is even -> 2021-2022 too
        "budget": [["AB 128", "2021-2022", "", "", "",
                    link + "202120220AB128", ""]],
        "Housing": [
            ["AB 1", "2023-2024", "", "", "", link + "202320240AB1", ""],
            ["SB 20", "2021-2022", "", "", "", link + "202120220SB20", ""],
        ],
        "wildfire": [["SB 20", "2021-2022", "", "", "", link + "202120220SB20", ""]],
    }


def test_every_corpus_holds_bills_with_empty_arrays():
    for seed in (1, 2):
        corpus = gen.make_corpus(seed, bills_per_session=20)
        for s in corpus.sessions:
            bills = corpus.bills[s]
            assert any(b.status == 4 and not b.sponsors for b in bills)
            assert any(not b.texts and any(t in b.title for t in gen.SEARCH_TERMS)
                       for b in bills)


def test_same_table_reads_numbers_and_nulls():
    want = [["a", "n", "x"], ["Asm", 2, None], ["Sen", 0.5, 1.0]]
    assert same_table([["a", "n", "x"], ["Asm", "2", ""], ["Sen", "0.5", "1.0"]], want)
    assert not same_table([["a", "n", "x"], ["Asm", "3", ""], ["Sen", "0.5", "1.0"]], want)
    assert not same_table([["a", "n", "x"], ["Asm", "2", ""]], want)
