"""Benchmark inputs: the committed sf0.01 tables, row-permuted by seed.

Seed 42 is the tables as committed (a copy of the repository's seed-42
sf0.01 test data). Any other seed writes a deterministic row-permuted
copy, so a claim can be re-checked on a seed not used while it was
developed. Each table keeps the committed layout: one parquet file
with one row group.
"""
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
BASE = HERE / "data" / "sf0.01"
BASE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def ensure(cache: Path, seed: int) -> Path:
    """The table directory for `seed`, written once under `cache`."""
    if seed == BASE_SEED:
        return BASE
    out = cache / f"seed{seed}"
    if (out / "_DONE").exists():
        return out
    tmp = cache / f"seed{seed}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for i, t in enumerate(TABLES):
        table = pq.read_table(BASE / f"{t}.parquet")
        perm = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(table.take(perm), tmp / f"{t}.parquet",
                       row_group_size=max(1, table.num_rows))
    (tmp / "_DONE").write_text(f"seed {seed}\n")
    if out.exists():
        shutil.rmtree(out)
    os.replace(tmp, out)
    return out
