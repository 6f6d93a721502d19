"""Seed-permuted copy of the test corpus for the query workload.

``perfbench/data/<scale>/`` holds tables of the project's standard test
corpus, one parquet file each, as the registered queries read them: the
LLM-pipeline tables ``documents`` and ``embeddings`` at sf0.1 and the
TPC-H-like tables plus ``events`` at sf0.01. A run copies them into one
scratch directory before anything is timed. A workload may cap a table at
its first rows, the same rows for every seed. The run seed permutes each
table's row order and picks its row-group size, so the bytes the program
reads change with the seed while order-insensitive answers do not.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def write_corpus(out_dir: str, sources: list[str], seed: int, caps: dict[str, int] | None = None) -> dict[str, int]:
    """Copy every table of each ``data/<source>`` to ``{out_dir}/{name}.parquet``,
    cut to its first ``caps[name]`` rows and permuted by ``seed``; return the
    row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    counts = {}
    for source in sources:
        src = os.path.join(DATA, source)
        for fname in sorted(os.listdir(src)):
            name = fname.removesuffix(".parquet")
            table = pq.read_table(os.path.join(src, fname))
            if caps and name in caps:
                table = table.slice(0, caps[name])
            n = table.num_rows
            row_group = max(1, n // int(rng.integers(1, 5)))
            pq.write_table(table.take(rng.permutation(n)), os.path.join(out_dir, fname), row_group_size=row_group)
            counts[name] = n
    return counts
