"""Seeded data drops: a row-permuted copy of the base fixture.

A drop holds every table of the base fixture with the same rows and the
same schema (parquet logical types included, e.g. the unit of
events.ts), but each table's rows in an order fixed by the seed. The
engine only ever receives the drop's directory.

    python3 perfbench/drop.py SEED DST_DIR
"""
import os
import sys

import numpy as np
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def make_drop(seed, dst, src=BASE):
    """Writes the permuted tables under `dst`; returns the bytes written."""
    os.makedirs(dst, exist_ok=True)
    total = 0
    for i, name in enumerate(TABLES):
        table = pq.read_table(os.path.join(src, f"{name}.parquet"))
        rng = np.random.default_rng([seed, i])
        permuted = table.take(rng.permutation(table.num_rows))
        out = os.path.join(dst, f"{name}.parquet")
        # One row group per table, as in the base fixture.
        pq.write_table(permuted, out, row_group_size=max(table.num_rows, 1))
        total += os.path.getsize(out)
    return total


if __name__ == "__main__":
    make_drop(int(sys.argv[1]), sys.argv[2])
