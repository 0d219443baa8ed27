"""Correctness checks run after the timed passes, against computations made
apart from the engine: DuckDB twins, plain-Python graph algorithms, and
the plain-Python pipeline reports of ``gen_legiscan``
(compared with :func:`same_table`)."""

from __future__ import annotations

import csv
import datetime as dt
from collections import Counter, defaultdict
from decimal import Decimal
from pathlib import Path

import duckdb


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per parquet table in ``sf_dir``."""
    con = duckdb.connect()
    for path in sorted(Path(sf_dir).glob("*.parquet")):
        con.execute(
            f"CREATE VIEW {path.stem} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _cell(v) -> str:
    """Full-precision rendering; both sides go through pandas first."""
    if v is None or (isinstance(v, (float, dt.datetime)) and v != v):
        return "NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return repr(v + 0.0 if v == 0 else v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is None and (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if type(v).__name__ == "ndarray":
        return _cell(v.tolist())
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _canonical(pdf) -> tuple[list[str], list[str]]:
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = pdf.itertuples(index=False, name=None)
    return [cols[i] for i in order], sorted(
        "|".join(_cell(r[i]) for i in order) for r in rows
    )


def twin_mismatch(df, sql: str, con: duckdb.DuckDBPyConnection) -> str | None:
    """Spark result vs its DuckDB twin in sorted canonical form; None when
    equal, else the first difference."""
    s_cols, s_rows = _canonical(df.toPandas())
    d_cols, d_rows = _canonical(con.execute(sql).df())
    if s_cols != d_cols:
        return f"columns differ: {s_cols} vs {d_cols}"
    if len(s_rows) != len(d_rows):
        return f"rows differ: {len(s_rows)} vs {len(d_rows)}"
    for a, b in zip(s_rows, d_rows):
        if a != b:
            return f"value differs: {a!r} vs {b!r}"
    return None


# ---------------------------------------------------------------------------
# graph queries without a SQL twin
# ---------------------------------------------------------------------------

def label_prop_mismatch(rows, con, n_iter: int = 5, top: int = 10) -> str | None:
    """q_label_prop: synchronous closed-neighbourhood label propagation with
    min-label tie-break on the strong-tie graph (>= 3 distinct shared
    orders), in plain Python."""
    pairs = con.execute(
        "SELECT 'c' || o_custkey, 's' || l_suppkey FROM orders "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "GROUP BY o_custkey, l_suppkey HAVING count(DISTINCT o_orderkey) >= 3"
    ).fetchall()
    nbrs: dict[str, set[str]] = defaultdict(set)
    for a, b in pairs:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    labels = {v: v for v in nbrs}
    for _ in range(n_iter):
        new = {}
        for v, ns in nbrs.items():
            votes = Counter(labels[u] for u in ns)
            votes[labels[v]] += 1
            new[v] = min(votes, key=lambda lab: (-votes[lab], lab))
        labels = new
    sizes = Counter(labels.values())
    want = sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0]))[:top]
    got = [tuple(r) for r in rows]
    return None if got == want else f"{got[:3]} vs {want[:3]}"


GRAPH_CHECKS = {
    "q_label_prop": label_prop_mismatch,
}


# ---------------------------------------------------------------------------
# pipeline CSV reports
# ---------------------------------------------------------------------------

def read_csv_dir(path: str) -> list[list[str]]:
    """Header then data rows of every part file in a Spark CSV directory."""
    rows: list[list[str]] = []
    for part in sorted(Path(path).glob("part-*.csv")):
        with part.open(newline="") as f:
            body = list(csv.reader(f))
        if body:
            if not rows:
                rows.append(body[0])
            rows.extend(body[1:])
    return rows


def read_partitioned_csv(path: str, key: str) -> dict[str, list[list[str]]]:
    """{partition value: sorted data rows} of a partitionBy(key) CSV write."""
    out = {}
    for sub in sorted(Path(path).glob(f"{key}=*")):
        out[sub.name.split("=", 1)[1]] = sorted(read_csv_dir(str(sub))[1:])
    return out


def same_table(got: list[list[str]], want: list[list]) -> bool:
    """CSV rows read back with the csv module against expected cells:
    numbers compare as exact floats, None as the empty cell."""
    if len(got) != len(want):
        return False
    for g_row, w_row in zip(got, want):
        if len(g_row) != len(w_row):
            return False
        for g, w in zip(g_row, w_row):
            if w is None:
                if g != "":
                    return False
            elif isinstance(w, (int, float)):
                try:
                    if float(g) != float(w):
                        return False
                except ValueError:
                    return False
            elif g != w:
                return False
    return True
