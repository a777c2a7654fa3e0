"""Stateful streaming scorer (applyInPandasWithState) ↔ batch parity.

The incremental per-host scorer must produce the same samples as the
batch fused windows+score stage on the same corpus — including windows
that SPAN micro-batch boundaries (state carries the tail).  Decisions
(is_anomaly, label, template) must match exactly; anomaly_score to
float32-GEMM tolerance (BLAS accumulation order varies with the batch
shape the rows arrive in)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ai_log_analyzer_spark.operators import fit as fit_op
from ai_log_analyzer_spark.operators import parse as parse_op
from ai_log_analyzer_spark.operators import windows as win_op
from ai_log_analyzer_spark.sources import pages as pages_src
from ai_log_analyzer_spark.streaming import stream_pipeline as SP


@pytest.fixture(scope="module")
def split_corpus(spark, pages_df, tmp_path_factory):
    """Pages corpus written as 4 seq-ordered parquet files so that
    maxFilesPerTrigger=1 yields 4 micro-batches and every host's series
    crosses batch boundaries."""
    import time
    base = tmp_path_factory.mktemp("stream_split")
    sdf = pages_src.pages_to_spark(spark, pages_df)
    n = len(pages_df)
    cuts = [0, n // 4, n // 2, 3 * n // 4, n]
    # generation order: per-host seq_no ascends with global row order, so
    # row-range chunks keep every host's series in order across files
    pdf = pages_df
    for i in range(4):
        part = pdf.iloc[cuts[i]:cuts[i + 1]]
        pages_src.pages_to_spark(spark, part.reset_index(drop=True)) \
            .coalesce(1).write.mode("overwrite") \
            .parquet(str(base / f"chunk{i}"))
        time.sleep(1.1)   # file-source ordering is mtime-based
    cat = fit_op.fit_catalog(sdf)
    return str(base), cat


def _batch_expected(spark, path, cat):
    pages = spark.read.option("recursiveFileLookup", "true").parquet(path)
    parsed = parse_op.parse_template_ids(pages, cat)
    return (win_op.window_score_grouped(parse_op.matched(parsed), len(cat),
                                        host_lookup=pages, carry=())
            .toPandas().sort_values(["host", "seq_no"])
            .reset_index(drop=True))


def _assert_matches_batch(got, exp):
    for c in ("host", "seq_no", "template_id", "label_id", "is_anomaly"):
        assert got[c].tolist() == exp[c].tolist(), f"column {c} diverges"
    np.testing.assert_allclose(got["anomaly_score"], exp["anomaly_score"],
                               rtol=1e-5, atol=1e-7)


def _drain_to_parquet(spark, path, cat, tmp_path):
    """Run the stateful scorer over ``path`` one file per micro-batch
    into a fresh parquet sink and read the sink back."""
    out = str(tmp_path / "scored_out")
    SP.run_stateful_scores_to_parquet(spark, path, cat, len(cat), out,
                                      str(tmp_path / "ckpt"),
                                      max_files_per_trigger=1)
    return spark.read.parquet(out)


def test_stateful_stream_scores_match_batch(spark, split_corpus, tmp_path):
    path, cat = split_corpus
    got = (_drain_to_parquet(spark, path, cat, tmp_path)
           .toPandas().sort_values(["host", "seq_no"]).reset_index(drop=True))
    exp = _batch_expected(spark, path, cat)
    assert len(got) == len(exp) and len(got) > 0
    _assert_matches_batch(got, exp)


def test_stateful_stream_multiple_batches_ran(spark, split_corpus,
                                              tmp_path):
    """Sanity: the parity above must actually exercise cross-batch
    state — with 4 files and maxFilesPerTrigger=1 the expected sample
    count per host (n_host − w − 1) only comes out right if tails carry
    across micro-batches (otherwise each batch drops w+lead−1 samples)."""
    path, cat = split_corpus
    pages = spark.read.option("recursiveFileLookup", "true").parquet(path)
    per_host = (pages.groupBy("host").count().toPandas()
                .set_index("host")["count"])
    import ai_log_analyzer_spark.scorer as SC
    expected_total = sum(max(0, int(c) - SC.WINDOW_SIZE - SC.LABEL_LEAD + 1)
                         for c in per_host)
    got = _drain_to_parquet(spark, path, cat, tmp_path)
    assert got.count() == expected_total


def test_stateful_stream_runs_the_parse_udf_once(spark, split_corpus,
                                                tmp_path):
    """The stream's dead-letter filter is not pushed below the parse: a
    micro-batch's executed plan holds one ArrowEvalPython, which feeds
    both the filter and the scorer."""
    path, cat = split_corpus
    q = (SP.stateful_scores(spark, path, cat, len(cat), max_files_per_trigger=2)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def _drain_with_restart(spark, path, cat, tmp_path, first_partitions=None):
    """Drain chunks 0-1, stop, land chunks 2-3 and re-run on the SAME
    checkpoint.  ``first_partitions`` sets the session's shuffle-
    partition count for the first run only.  Returns the sink's row
    count after the first run, the sorted sink after the second, and
    the checkpoint path."""
    import shutil

    src = tmp_path / "incoming"
    out = str(tmp_path / "scored_out")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    for i in range(2):
        shutil.copytree(f"{path}/chunk{i}", src / f"chunk{i}")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if first_partitions is not None:
        spark.conf.set(key, str(first_partitions))
    try:
        SP.run_stateful_scores_to_parquet(spark, str(src), cat, len(cat),
                                          out, ckpt, max_files_per_trigger=1)
    finally:
        spark.conf.set(key, prev)
    mid_rows = spark.read.parquet(out).count()
    for i in (2, 3):
        shutil.copytree(f"{path}/chunk{i}", src / f"chunk{i}")
    SP.run_stateful_scores_to_parquet(spark, str(src), cat, len(cat),
                                      out, ckpt, max_files_per_trigger=1)
    got = (spark.read.parquet(out).toPandas()
           .sort_values(["host", "seq_no"]).reset_index(drop=True))
    return mid_rows, got, ckpt


def test_stateful_parquet_sink_checkpoint_restart(spark, split_corpus,
                                                  tmp_path):
    """r3 verdict item 4: the parquet-sink wrapper must survive a
    mid-corpus restart — drain half the files, stop, land the rest,
    re-run with the SAME checkpoint, and the sink must hold exactly the
    batch stage's scored row set (per-host state recovered, no window
    dropped or double-scored at the restart boundary)."""
    path, cat = split_corpus
    mid_rows, got, _ = _drain_with_restart(spark, path, cat, tmp_path)
    exp = _batch_expected(spark, path, cat)
    assert mid_rows < len(got) == len(exp)   # restart actually appended
    _assert_matches_batch(got, exp)


def test_stateful_restart_keeps_checkpoint_partition_count(spark,
                                                           split_corpus,
                                                           tmp_path):
    """A checkpoint created at one shuffle-partition count (3 here, like
    a stream started under an older default) restarts under a session
    whose default differs: Spark restores the count from the offset log,
    so the state store keeps its 3 partitions and the sink still equals
    the batch stage's rows."""
    import json
    import os

    path, cat = split_corpus
    assert spark.conf.get("spark.sql.shuffle.partitions") != "3"
    mid_rows, got, ckpt = _drain_with_restart(spark, path, cat, tmp_path,
                                              first_partitions=3)
    exp = _batch_expected(spark, path, cat)
    assert mid_rows < len(got) == len(exp)
    _assert_matches_batch(got, exp)
    offsets = sorted(f for f in os.listdir(f"{ckpt}/offsets")
                     if f.isdigit())
    assert len(offsets) == 4                 # 2 batches per run
    for f in offsets:
        with open(f"{ckpt}/offsets/{f}") as fh:
            meta = json.loads(fh.read().splitlines()[1])
        assert meta["conf"]["spark.sql.shuffle.partitions"] == "3", f
    assert sorted(d for d in os.listdir(f"{ckpt}/state/0")
                  if d.isdigit()) == ["0", "1", "2"]


def test_stateful_stream_out_of_order_batch_raises(spark, split_corpus,
                                                   tmp_path):
    """A micro-batch whose host rows sit at or below the stored tail's
    seq_no (here chunk1 lands before chunk0, e.g. a late backfill file)
    must raise, naming the host and both seq_no values, instead of
    scoring windows that splice old and new rows."""
    import os
    import shutil

    path, cat = split_corpus
    src = tmp_path / "incoming"
    src.mkdir()
    for i, mtime in ((1, 1_000_000_000), (0, 1_000_000_100)):
        shutil.copytree(f"{path}/chunk{i}", src / f"chunk{i}")
        for f in os.listdir(src / f"chunk{i}"):
            os.utime(src / f"chunk{i}" / f, (mtime, mtime))
    with pytest.raises(Exception,
                       match=r"host '[^']+' received seq_no \d+ at or below "
                             r"its last seen seq_no \d+"):
        _drain_to_parquet(spark, str(src), cat, tmp_path)
