"""Seeded TPC-H-shaped tables for the query mix.

Same table names, column names, types and value ranges as the analytic
tables the query registry reads, at the row counts of TPC-H scale
``SCALE`` (120,000 ``lineitem`` rows), written as one parquet file per
table. Only the tables the mix reads are made: ``lineitem`` (q01, q05,
q09, q10, q39) and ``customer`` (q28).

``(l_orderkey, l_linenumber)`` is unique, as in TPC-H, so the row each
``(l_partkey, l_suppkey)`` group keeps in q05 is fully determined.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

#: TPC-H scale factor of the tables: a fifth of the scale-0.1 test data,
#: so a run's cold round and warm rounds fit the benchmark's time budget
SCALE = 0.02
#: rows (and key ranges) per table at scale 1
SCALE_1 = {"customer": 150_000, "orders": 1_500_000, "part": 200_000, "supplier": 10_000,
           "lineitem": 6_000_000}
SHIP_FIRST = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2499


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: round(v * SCALE) for k, v in SCALE_1.items()}
    nc = n["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })

    li = n["lineitem"]
    # each line goes to a random order and is numbered within it
    orderkey = np.sort(rng.integers(0, n["orders"], li))
    first = np.r_[True, orderkey[1:] != orderkey[:-1]]
    starts = np.flatnonzero(first)
    linenumber = np.arange(li) - np.repeat(starts, np.diff(np.r_[starts, li])) + 1
    perm = rng.permutation(li)
    qty = rng.integers(1, 51, li).astype(np.float64)
    ship = np.datetime64(SHIP_FIRST, "us") + (
        rng.integers(0, SHIP_DAYS, li) * np.timedelta64(86_400_000_000, "us"))
    lineitem = pa.table({
        "l_orderkey": pa.array(orderkey[perm]),
        "l_partkey": pa.array(rng.integers(0, n["part"], li)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li)),
        "l_linenumber": pa.array(linenumber[perm].astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 3000, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100),
        "l_returnflag": pa.array(np.array(list("ANR"))[rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(list("FO"))[rng.integers(0, 2, li)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    return {"customer": customer, "lineitem": lineitem}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
