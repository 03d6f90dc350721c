"""Seeded row permutation of the reference lake kept under perfbench/lake.

`perfbench/lake/` holds the engine's reference test lake at scale factor
0.001: the TPC-H-shaped tables, an `events` stream, a `documents` corpus
and `embeddings`, 9,890 rows in all. Measured on the kept ops, the survey
path and the curation ops run the same Spark jobs at 0.001 as at 0.1; see
README.md for the figures and for where the two scales differ.

A run writes every table again with its rows in a seeded random order, in
the same layout: ONE parquet file holding ONE row group per table
(`<lake>/<table>.parquet`). A single row group means a single scan task per
table, so the known single-task-scan hazard stays visible to the benchmark
instead of being hidden by a friendlier layout. The same seed always gives
the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "lake")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def write_lake(lake_dir: str, seed: int) -> dict[str, int]:
    """Write a seeded row permutation of every reference table, each as one
    file with one row group; return the row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(lake_dir, exist_ok=True)
    counts = {}
    for name in TABLES:
        tab = pq.read_table(os.path.join(REFERENCE, f"{name}.parquet"))
        tab = tab.take(rng.permutation(tab.num_rows))
        pq.write_table(
            tab, os.path.join(lake_dir, f"{name}.parquet"), row_group_size=max(1, tab.num_rows)
        )
        counts[name] = tab.num_rows
    return counts
