"""Severity bucketing + fan-out routing (SURVEY.md O7/O17/O31).

Severity is a pure Catalyst ``when`` chain (whole-stage codegen, no
Python) kept in lockstep with ``scorer.severity`` — the oracle's numpy
rule.  Fan-out is ONE write partitioned by severity (single pass over
the data; per-severity directories are the per-sink tables), plus the
per-sink aggregate counts the north rule's acceptance check needs.

Counting contract: every routed row is one page — the END event of one
``(host, seq_no)`` window — and url is the pages table's primary key,
1:1 with ``(host, seq_no)`` (FIXTURES.md F1).  So a sink's distinct
urls equal its rows.  ``sink_counts`` relies on this when url was
pruned (``carry=()``), and ``footer_sink_counts`` relies on it to take
both counts from the route write's parquet footers without a Spark job.
"""

from __future__ import annotations

import os
from collections import Counter
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import scorer


def with_severity(scored: DataFrame) -> DataFrame:
    # one SQL string: each ``F.when``/``F.col`` call costs ~10 py4j round
    # trips (see windows.window_score_grouped); ``D`` makes the
    # thresholds the exact doubles of scorer.py
    hi, lo = f"{scorer.T_HI!r}D", f"{scorer.T_LO!r}D"
    return scored.selectExpr("*", f"""CASE
        WHEN is_anomaly AND anomaly_score >= {hi} THEN 'crit'
        WHEN is_anomaly THEN 'high'
        WHEN anomaly_score >= {hi} THEN 'med'
        WHEN anomaly_score >= {lo} THEN 'low'
        ELSE 'info' END AS severity""")


def write_sinks(routed: DataFrame, base_path: str):
    """Fan-out: one partitioned write = N per-severity sinks, one pass."""
    (routed.write.mode("overwrite")
     .partitionBy("severity")
     .parquet(base_path))


def sink_counts(routed: DataFrame) -> DataFrame:
    """Per-sink aggregate counts (north-rule acceptance aggregate).

    n_urls = distinct source pages per sink.  When the scoring branch
    ran with carry=() (url pruned before the Arrow hop), the page
    identity key (host, seq_no) stands in for url — exactly equal by
    the counting contract above (asserted in tests/test_engine_parity.py)."""
    n_urls = (F.countDistinct("url") if "url" in routed.columns
              else F.countDistinct("host", "seq_no"))
    return (routed.groupBy("severity")
            .agg(F.count("*").alias("n_rows"),
                 n_urls.alias("n_urls"))
            .orderBy("severity"))


def footer_sink_counts(file_rows: Iterable[tuple[str, int]]) -> list[dict]:
    """``sink_counts`` records of a ``write_sinks`` output, from the
    ``(relative path, footer num_rows)`` of each of its parquet files:
    rows are summed per ``severity=`` directory and, by the counting
    contract, ``n_urls = n_rows``."""
    rows = Counter()
    for rel, n in file_rows:
        top = rel.split(os.sep, 1)[0]
        if top.startswith("severity="):
            rows[top[len("severity="):]] += n
    return [{"severity": s, "n_rows": rows[s], "n_urls": rows[s]}
            for s in sorted(rows) if rows[s]]
