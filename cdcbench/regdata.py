"""Seeded input table for the registry workload.

Writes ``lineitem`` with the column names and types of the repository's
TPC-H-like test fixture (FIXTURES.md) and the row, order and part counts
of its sf0.001 scale (6000 lines over 1500 orders and 200 parts).

The order-part incidence is one fixed random draw; the seed relabels
orders and parts by random permutations, shuffles the rows and draws
every other column. So every seed gives different files with the same
co-purchase graph up to relabelling: the k-core peel takes the same
rounds over the same sizes, and a run's cost does not depend on the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_LINES, N_ORDERS, N_PARTS, N_SUPP = 6000, 1500, 200, 10


def generate(seed: int, out_dir: str) -> None:
    """Write ``<out_dir>/lineitem.parquet``."""
    shape = np.random.default_rng(0)
    orders = shape.integers(0, N_ORDERS, N_LINES)
    parts = shape.integers(0, N_PARTS, N_LINES)
    rng = np.random.default_rng(seed)
    rows = rng.permutation(N_LINES)
    n = N_LINES
    ship = np.datetime64("1995-01-01", "D") + rng.integers(0, 2500, n).astype("timedelta64[D]")
    table = pa.table(
        {
            "l_orderkey": pa.array(rng.permutation(N_ORDERS)[orders[rows]], pa.int64()),
            "l_partkey": pa.array(rng.permutation(N_PARTS)[parts[rows]], pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPP, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "lineitem.parquet"))
