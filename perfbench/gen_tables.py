"""Seeded generator for the two TPC-H-shaped tables the ``iterative-sf0.01``
queries read: ``orders`` and ``lineitem``.

Writes ``<out>/<table>.parquet`` with the schemas, key ranges and value
distributions of the project's fixtures (FIXTURES.md section B): uniform
foreign keys into customer, part and supplier key ranges sized by ``sf``,
and one row group per file.

The same ``(sf, seed)`` gives byte-identical files.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_ORDER_START = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2405  # through 2001-08-01
_SHIP_START = np.datetime64("1995-01-02", "us")
_SHIP_DAYS = 2499  # through 2001-11-04


def _n(base: int, sf: float) -> int:
    return max(1, int(round(base * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days: int, n: int) -> np.ndarray:
    return start + rng.integers(0, n_days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    customers, suppliers, parts = _n(150_000, sf), _n(10_000, sf), _n(200_000, sf)
    n_orders, n_lines = _n(1_500_000, sf), _n(6_000_000, sf)

    r = np.random.default_rng([seed, 4])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, customers, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_orders),
        "o_orderdate": pa.array(_days(r, _ORDER_START, _ORDER_DAYS, n_orders),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_orders)],
    })

    r, n = np.random.default_rng([seed, 5]), n_lines
    lineitem = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, parts, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, suppliers, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": pa.array(_days(r, _SHIP_START, _SHIP_DAYS, n), pa.timestamp("us")),
    })
    return {"orders": orders, "lineitem": lineitem}


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write both tables; returns {table: rows}."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, out / f"{name}.parquet", row_group_size=1 << 21)
        rows[name] = table.num_rows
    return rows
