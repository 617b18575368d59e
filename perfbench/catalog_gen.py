"""Seeded generator for the catalog tables the query workload reads.

Writes the TPC-H-ish star schema of the engine's catalog (region,
nation, customer, supplier, part, orders, lineitem), one parquet file
per table, with the catalog's column names and types and uniform keys
and measures. The catalog's ``events``, ``documents`` and
``embeddings`` tables are not written: no query of the mix reads them.

Sizes are TPC-H scale factor 0.1; the files are byte-identical from
run to run.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20260101
# Row counts at TPC-H scale factor 0.1.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, like the catalog's DECIMAL-origin doubles
    return np.round(rng.uniform(lo, hi, n) * 100) / 100


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = ROWS["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
        }
    )
    n_cust = n
    n = ROWS["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        }
    )
    n_supp = n
    n = ROWS["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 1),
        }
    )
    n_part = n
    n = ROWS["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000, 500000, n),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
        }
    )
    n_ord = n
    n = ROWS["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900, 105000, n),
            "l_discount": rng.integers(0, 11, n) / 100,
            "l_tax": rng.integers(0, 9, n) / 100,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n),
        }
    )
    return t


def write_tables(out_dir: str) -> list[str]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, table in build_tables().items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        paths.append(path)
    return paths
