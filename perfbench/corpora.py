"""Seeded corpora for the workloads.

The log-pages corpus is written by ``generate.py`` (a separate untimed
process) through the engine's own writer, so the benchmark reads the
``bucket=N/`` layout users get.  Row ``i`` is a pure function of
(seed, i), so the same seed always gives the same rows in the same
buckets.  The stream corpus is those rows cut into ascending seq_no
ranges, one file per range, with ascending mtimes (the file source
orders by mtime); it is derived with pyarrow, without a JVM.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def read_sorted_table(path: str) -> pa.Table:
    """Every row under ``path`` (bucket column dropped), by seq_no."""
    table = pq.read_table(path)
    if "bucket" in table.column_names:
        table = table.drop_columns(["bucket"])
    return table.sort_by("seq_no")


def read_sorted(path: str) -> pd.DataFrame:
    return read_sorted_table(path).to_pandas()


def write_stream_files(pages: pa.Table, root: str, n_files: int):
    """Ascending seq_no ranges, one file each, mtimes one second apart
    so ``maxFilesPerTrigger=1`` replays them in seq_no order."""
    cuts = np.linspace(0, pages.num_rows, n_files + 1).astype(int)
    base = 1_700_000_000
    for i in range(n_files):
        path = os.path.join(root, f"chunk{i:03d}", "part-00000.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pages.slice(cuts[i], cuts[i + 1] - cuts[i]), path,
                       compression="snappy")
        os.utime(path, (base + i, base + i))

