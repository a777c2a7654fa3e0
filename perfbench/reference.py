"""Output checks against the single-node referee (``oracle.pipeline``).

The distributed fit and ``oracle.pipeline.fit_catalog`` can mine
different catalogs on the same corpus (the fit merge depends on the
input partitioning), so the referee runs its parse → windows/score →
route stages on the catalog the engine froze, and the fit itself is
compared separately as a count (``fit.oracle_template_diff``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from .workloads import counts_records


class Reference:
    def __init__(self, pages: pd.DataFrame, catalog_rows: pd.DataFrame):
        from ai_log_analyzer_spark.catalog import from_rows
        from ai_log_analyzer_spark.oracle import pipeline as O

        entries = from_rows(catalog_rows)
        self.pages = pages
        self.catalog_rows = catalog_rows
        self.parsed = O.parse(pages, entries)
        self.scored = O.window_score(self.parsed, num_classes=len(entries))
        self.counts = counts_records(O.route_counts(self.scored))

    def template_diff(self) -> int:
        """Templates in exactly one of the engine and oracle catalogs."""
        from ai_log_analyzer_spark.catalog import to_rows
        from ai_log_analyzer_spark.oracle import pipeline as O

        oracle = set(to_rows(O.fit_catalog(self.pages))["template"])
        return len(oracle ^ set(self.catalog_rows["template"]))


def row_set_hash(df: pd.DataFrame, cols: list[str]) -> str:
    rows = df[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    return hashlib.md5(
        pd.util.hash_pandas_object(rows, index=False).to_numpy().tobytes()
    ).hexdigest()


def catalog_token(catalog_rows: pd.DataFrame) -> str:
    from ai_log_analyzer_spark.operators import parse as parse_op
    return parse_op._catalog_token(catalog_rows)


def check_counts(out: dict, ref: Reference) -> list[str]:
    if out["counts"] != ref.counts:
        return [f"sink counts {out['counts']} != oracle {ref.counts}"]
    return []


def check_checkpointed(out: dict, ref: Reference) -> list[str]:
    from ai_log_analyzer_spark.plans.pipeline import PipelineRunner

    problems = check_counts(out, ref)
    expected = [PipelineRunner.STAGES]
    if "resume_counts" in out:
        expected += [["route"], []]
        if out["resume_counts"] != ref.counts:
            problems.append("sink counts after resume differ from oracle")
    if out["executed"] != expected:
        problems.append(f"stages executed {out['executed']}, expected {expected}")
    return problems


def check_checkpointed_rows(out: dict, ref: Reference, spark) -> list[str]:
    problems = []
    routed = spark.read.parquet(out["paths"]["routed_path"]) \
        .select("url", "severity").toPandas()
    if row_set_hash(routed, ["url", "severity"]) != \
            row_set_hash(ref.scored, ["url", "severity"]):
        problems.append("routed row set differs from oracle")
    parsed = (spark.read.parquet(out["paths"]["parsed_path"])
              .select("url", "template_id", "extracted_text").toPandas()
              .sort_values("url").reset_index(drop=True))
    exp = ref.parsed.sort_values("url").reset_index(drop=True)
    if parsed["url"].tolist() != exp["url"].tolist() or \
            parsed["extracted_text"].tolist() != exp["extracted_text"].tolist():
        problems.append("extracted_text is not byte-identical to oracle")
    return problems


def check_stream_rows(out: dict, ref: Reference, spark) -> list[str]:
    keys = ["host", "seq_no"]
    got = (spark.read.parquet(out["out"]).toPandas()
           .sort_values(keys).reset_index(drop=True))
    exp = ref.scored.sort_values(keys).reset_index(drop=True)
    if len(got) != len(exp):
        return [f"stream rows {len(got)} != batch {len(exp)}"]
    for c in ("host", "seq_no", "template_id", "label_id", "is_anomaly"):
        if got[c].tolist() != exp[c].tolist():
            return [f"stream column {c} differs from batch"]
    if not np.allclose(got["anomaly_score"], exp["anomaly_score"],
                       rtol=1e-5, atol=1e-7):
        return ["stream anomaly_score outside float32-GEMM tolerance"]
    return []
