"""Write the synthetic log-pages corpus in the layout users get.

    python3 perfbench/generate.py <out_dir> <n_rows> <seed>

Rows come from ``grammar.render_rows`` -- the per-row kernel that
``sources.pages.generate_and_write`` maps over Spark partitions, so
row ``i`` is the same pure function of (seed, i) -- rendered here by a
small process pool, then written by the engine's own writer
(``sources.pages.write_pages``: ``bucket=N/`` url-hash buckets).

A fresh process: it builds the engine's SparkSession as a user's job
would and prints ``@@ready <time>`` once the session is up, so the
harness counts it as a set-up sample.  Once the corpus is written it
leaves at once; the harness stops the rest of its process session.  The corpus is the load
generator's cost; it is reported but is no end-to-end metric.
"""

import os
import sys
import time
from multiprocessing import Pool

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from perfbench import session  # noqa: E402


def log_hosts(n_rows: int) -> int:
    """Host count rule of ``sources.pages.generate_and_write``."""
    return max(16, min(4096, n_rows // 4000))


def _render(args):
    from ai_log_analyzer_spark import grammar
    ids, seed, n_hosts = args
    return grammar.render_rows(ids, seed=seed, n_hosts=n_hosts)


def render(n_rows: int, seed: int, workers: int) -> pd.DataFrame:
    chunks = np.array_split(np.arange(n_rows), workers * 4)
    with Pool(workers) as pool:
        parts = pool.map(_render, [(c, seed, log_hosts(n_rows)) for c in chunks])
    return pd.concat(parts, ignore_index=True)


if __name__ == "__main__":
    out_dir, n_rows, seed = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    spark = session.build(out_dir + ".session")
    print(f"@@ready {time.time():.6f}", flush=True)
    rows = render(n_rows, seed, len(os.sched_getaffinity(0)))
    from ai_log_analyzer_spark.sources import pages as pages_src
    pages_src.write_pages(pages_src.pages_to_spark(spark, rows), out_dir)
    sys.stdout.flush()
    os._exit(0)             # the harness stops the JVM
