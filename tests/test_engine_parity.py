"""Engine ↔ oracle parity (SURVEY.md §5.1-5.2): the correctness core.

Asserts, on the same deterministic pages corpus:
- identical frozen catalog (distributed fit + canonical merge vs oracle)
- identical per-url template assignment and BYTE-IDENTICAL extracted
  text (BASELINE.json per-row invariant)
- identical per-severity routed counts AND routed row sets (left-anti
  empty both directions — north rule acceptance)
- checkpoint resume: second run executes zero stages; a lost route
  output (or its per-sink counts) reruns route alone
- lineage: one row per writing task, read from parquet footers
- enrichment: every enrichment column per url equals the oracle's
- job budget: each runner stage launches only the jobs that move data
- the driver-written catalog snapshot, and the enrich branch that runs
  beside score → route: its failures, its manifest entry, its thread
- property 3c: catalog invariant to input partition count
"""

import json
import os
import threading

import pandas as pd
import pytest

from ai_log_analyzer_spark import grammar, schemas
from ai_log_analyzer_spark.oracle import pipeline as oracle_pipeline
from ai_log_analyzer_spark.operators import enrich as enrich_op
from ai_log_analyzer_spark.operators import fit as fit_op
from ai_log_analyzer_spark.operators import route as route_op
from ai_log_analyzer_spark.plans.pipeline import Manifest, PipelineRunner
from ai_log_analyzer_spark.sources import pages as pages_src


@pytest.fixture(scope="module")
def workspace(spark, pages_df, tmp_path_factory):
    base = tmp_path_factory.mktemp("e2e")
    pages_path = str(base / "pages")
    pages_src.write_pages(pages_src.pages_to_spark(spark, pages_df), pages_path,
                          n_buckets=8)
    runner = PipelineRunner(spark, pages_path, str(base / "work"))
    result = runner.run()
    return {"base": base, "pages_path": pages_path, "result": result,
            "runner": runner}


def test_catalog_parity(spark, workspace, oracle_result):
    got = fit_op.read_catalog(spark, workspace["result"]["catalog_path"])
    exp = oracle_result.catalog
    assert list(got["template"]) == list(exp["template"])
    assert list(got["template_id"]) == list(exp["template_id"])
    assert list(got["freq"]) == list(exp["freq"])
    assert list(got["regex"]) == list(exp["regex"])


def test_parse_byte_identity(spark, workspace, oracle_result):
    got = (spark.read.parquet(workspace["result"]["parsed_path"])
           .select("url", "template_id", "extracted_text")
           .toPandas().sort_values("url").reset_index(drop=True))
    exp = (oracle_result.parsed[["url", "template_id", "extracted_text"]]
           .sort_values("url").reset_index(drop=True))
    assert got["url"].tolist() == exp["url"].tolist()
    assert got["template_id"].tolist() == exp["template_id"].astype("int64").tolist()
    # THE byte-identity invariant
    assert got["extracted_text"].tolist() == exp["extracted_text"].tolist()


def test_id_only_parse_matches_full_parse(spark, workspace):
    """parse_template_ids (projection pushdown into the parse UDF — the
    scoring branch's fast path) must assign the IDENTICAL template_id
    per url as the full extracting parse."""
    from ai_log_analyzer_spark.operators import parse as parse_op
    pages = spark.read.parquet(workspace["pages_path"])
    cat = fit_op.read_catalog(spark, workspace["result"]["catalog_path"])
    full = (parse_op.parse_pages(pages, cat).select("url", "template_id")
            .toPandas().sort_values("url").reset_index(drop=True))
    ids = (parse_op.parse_template_ids(pages, cat).select("url", "template_id")
           .toPandas().sort_values("url").reset_index(drop=True))
    assert ids["url"].tolist() == full["url"].tolist()
    assert ids["template_id"].fillna(-1).tolist() == \
        full["template_id"].fillna(-1).tolist()


def test_pruned_carry_equals_full_sink_counts(spark, workspace):
    """The bench/entry fast path (id-only parse + carry=() windows, url
    never crossing Arrow) must produce per-sink counts identical to the
    full-column DAG — n_urls via the 1:1 (host, seq_no) key."""
    from ai_log_analyzer_spark.operators import parse as parse_op
    from ai_log_analyzer_spark.operators import route as route_op
    from ai_log_analyzer_spark.operators import windows as win_op
    pages = spark.read.parquet(workspace["pages_path"])
    cat = fit_op.read_catalog(spark, workspace["result"]["catalog_path"])
    nc = len(cat)
    full = route_op.sink_counts(route_op.with_severity(
        win_op.window_score_grouped(
            parse_op.matched(parse_op.parse_pages(pages, cat)), nc,
            host_lookup=pages))).collect()
    pruned = route_op.sink_counts(route_op.with_severity(
        win_op.window_score_grouped(
            parse_op.matched(parse_op.parse_template_ids(pages, cat)), nc,
            host_lookup=pages, carry=()))).collect()
    assert [r.asDict() for r in full] == [r.asDict() for r in pruned]


def test_routed_counts_and_row_sets(spark, workspace, oracle_result):
    res = workspace["result"]
    got_counts = pd.DataFrame(res["sink_counts"]).sort_values("severity") \
        .reset_index(drop=True)
    exp_counts = oracle_result.routed_counts.rename(
        columns={}).sort_values("severity").reset_index(drop=True)
    assert got_counts[["severity", "n_rows", "n_urls"]].to_dict("records") == \
        exp_counts[["severity", "n_rows", "n_urls"]].to_dict("records")

    got_rows = (spark.read.parquet(res["routed_path"])
                .select("url", "severity").toPandas())
    exp_rows = oracle_result.scored[["url", "severity"]]
    g = set(map(tuple, got_rows.itertuples(index=False)))
    e = set(map(tuple, exp_rows.itertuples(index=False)))
    assert g == e  # routed-row equality, both directions


def test_scores_match_oracle(spark, workspace, oracle_result):
    got = (spark.read.parquet(workspace["result"]["scored_path"])
           .select("url", "anomaly_score", "is_anomaly")
           .toPandas().sort_values("url").reset_index(drop=True))
    exp = (oracle_result.scored[["url", "anomaly_score", "is_anomaly"]]
           .sort_values("url").reset_index(drop=True))
    assert got["url"].tolist() == exp["url"].tolist()
    assert got["is_anomaly"].tolist() == exp["is_anomaly"].tolist()
    pd.testing.assert_series_equal(got["anomaly_score"], exp["anomaly_score"],
                                   check_exact=False, rtol=1e-12)


def test_resume_skips_done_stages(spark, workspace):
    r2 = PipelineRunner(spark, workspace["pages_path"],
                        str(workspace["base"] / "work"))
    out = r2.run()
    assert out["executed"] == []
    assert out["sink_counts"] == workspace["result"]["sink_counts"]


def _read_lineage(work):
    """The lineage table as pandas, read by pyarrow (as the benchmark's
    lineage_skew does), in a fixed row order."""
    import pyarrow.parquet as pq
    return (pq.read_table(os.path.join(work, "lineage")).to_pandas()
            .sort_values(["run_id", "stage", "partition_id"])
            .reset_index(drop=True))


def _task_ids(path):
    """Writing-task ids NNNNN of the part-NNNNN-*.parquet files under path."""
    return {int(f.split("-")[1]) for _root, _dirs, files in os.walk(path)
            for f in files if f.startswith("part-") and f.endswith(".parquet")}


def test_lineage_written(spark, workspace):
    """One lineage row per writing task of every stage: the rows sum to
    the manifest's count and to the output's count, the partition ids
    are the part files' task ids, and Spark and pyarrow read the same
    table with the unchanged schema."""
    work = str(workspace["base"] / "work")
    res = workspace["result"]
    manifest = workspace["runner"].manifest.entries
    lin_spark = spark.read.parquet(os.path.join(work, "lineage"))
    assert lin_spark.dtypes == [("stage", "string"), ("partition_id", "int"),
                                ("rows", "bigint"), ("run_id", "string")]
    got = (lin_spark.toPandas().sort_values(["run_id", "stage", "partition_id"])
           .reset_index(drop=True))
    lin = _read_lineage(work)
    pd.testing.assert_frame_equal(got, lin)
    lin = lin[lin["run_id"] == res["run_id"]]
    assert set(lin["stage"]) == set(PipelineRunner.STAGES)
    assert (lin["rows"] >= 0).all()
    outputs = {"fit": res["catalog_path"], "parse": res["parsed_path"],
               "enrich": res["enriched_path"], "score": res["scored_path"],
               "route": res["routed_path"]}
    for stage, out in outputs.items():
        g = lin[lin["stage"] == stage]
        assert int(g["rows"].sum()) == manifest[stage]["rows"] == \
            spark.read.parquet(out).count(), stage
        assert set(g["partition_id"]) == _task_ids(out), stage


def test_resume_after_lost_sink_counts(spark, workspace, tmp_path):
    """Losing the routed output's per-sink counts loses the route stage:
    resume reruns route alone, gets the same counts, and appends lineage
    rows only for route and only under its own run id."""
    import shutil
    work = str(tmp_path / "work")
    shutil.copytree(str(workspace["base"] / "work"), work)
    before = _read_lineage(work)
    os.remove(os.path.join(work, "routed", "_sink_counts.json"))
    r2 = PipelineRunner(spark, workspace["pages_path"], work)
    out = r2.run()
    assert out["executed"] == ["route"]
    assert out["sink_counts"] == workspace["result"]["sink_counts"]
    after = _read_lineage(work)
    old = after[after["run_id"] != r2.run_id].reset_index(drop=True)
    pd.testing.assert_frame_equal(old, before)
    new = after[after["run_id"] == r2.run_id]
    assert set(new["stage"]) == {"route"}
    assert int(new["rows"].sum()) == r2.manifest.entries["route"]["rows"]


def test_fitted_rows_share_catalog_token_with_snapshot(spark, workspace):
    """run() parses with the rows its fit returned and reads the snapshot
    back only on resume; both must give the same catalog token, so the
    worker-side Matcher cache still hits after a resume."""
    from ai_log_analyzer_spark.operators import parse as parse_op
    pages = spark.read.parquet(workspace["pages_path"])
    fitted = fit_op.fit_catalog(pages)
    snapshot = fit_op.read_catalog(spark, workspace["result"]["catalog_path"])
    assert parse_op._catalog_token(fitted) == parse_op._catalog_token(snapshot)


def test_lineage_launches_no_spark_job(spark, workspace, tmp_path):
    """Lineage bookkeeping reads parquet footers on the driver: no Spark
    job may run under its job group (a Spark read under another group is
    the positive control that job groups are tracked at all)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    parsed = workspace["result"]["parsed_path"]
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    try:
        sc.setJobGroup("lineage-guard-control", "positive control")
        spark.read.parquet(parsed).count()
        sc.setJobGroup("lineage-guard", "lineage bookkeeping")
        rows = PipelineRunner(spark, workspace["pages_path"],
                              str(tmp_path / "work"))._lineage("parse", parsed)
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    assert tracker.getJobIdsForGroup("lineage-guard-control")
    assert tracker.getJobIdsForGroup("lineage-guard") == []
    assert rows == workspace["runner"].manifest.entries["parse"]["rows"]


ENRICH_COLS = ["tld", "lang_family", "lang_weight", "tld_region", "tld_risk",
               "freq", "freq_rank"]
ENRICH_TYPES = [("tld", "string"), ("lang_family", "string"),
                ("lang_weight", "double"), ("tld_region", "string"),
                ("tld_risk", "double"), ("freq", "bigint"), ("freq_rank", "int")]


def _enrichment(pdf: pd.DataFrame) -> dict:
    """url -> the enrichment columns, a missing value (NULL/NaN) as None."""
    return {r[0]: tuple(None if pd.isna(v) else v for v in r[1:])
            for r in pdf[["url"] + ENRICH_COLS].itertuples(index=False)}


def _assert_enrich_matches_oracle(spark, parsed_pdf, catalog_rows):
    """Enrich ``parsed_pdf`` (PARSED rows) in Spark and in the oracle and
    compare every enrichment column per url."""
    got = enrich_op.enrich(spark.createDataFrame(parsed_pdf, schemas.PARSED),
                           catalog_rows)
    exp = oracle_pipeline.enrich(parsed_pdf, catalog_rows, parsed_pdf[["url"]])
    assert [d for d in got.dtypes if d[0] in ENRICH_COLS] == ENRICH_TYPES
    assert _enrichment(got.toPandas()) == _enrichment(exp)


def test_enriched_matches_oracle(spark, workspace, oracle_result):
    """The runner's ``enriched`` table carries, per url, the oracle's
    enrichment columns with unchanged names and types."""
    got = spark.read.parquet(workspace["result"]["enriched_path"])
    assert [d for d in got.dtypes if d[0] in ENRICH_COLS] == ENRICH_TYPES
    exp = _enrichment(oracle_result.enriched)
    assert _enrichment(got.toPandas()) == exp
    assert len(exp) == len(oracle_result.parsed)


def _parsed_rows(template_ids, langs, urls) -> pd.DataFrame:
    n = len(template_ids)
    return pd.DataFrame({
        "url": urls,
        "warc_ts": pd.date_range("2024-01-01", periods=n, freq="s"),
        "lang": langs, "host": "h", "seq_no": range(n),
        "template_id": pd.array(template_ids, dtype="Int64"),
        "extracted_text": "x"})


def test_enrich_misses_are_null_like_the_oracle(spark, oracle_result):
    """A lang outside LANG_DIM, a tld outside TLD_DIM, a url that does not
    match TLD_REGEX and a dead-letter template_id each enrich to NULL,
    as the oracle's left joins give."""
    cat = oracle_result.catalog
    pdf = _parsed_rows(
        [0, 1, None, len(cat) - 1, 2, None],
        ["en", "xx", "fr", None, "zh", "de"],
        ["https://a.example.com/p/0", "https://b.example.io/p/1",
         "ftp://c.example.com/p/2", "not a url", "https://d.example.cn:8080/x",
         "https://e.example.de"])
    _assert_enrich_matches_oracle(spark, pdf, cat)
    got = enrich_op.enrich(spark.createDataFrame(pdf, schemas.PARSED), cat) \
        .toPandas().set_index("url")
    assert got.loc["https://b.example.io/p/1", ["lang_family", "tld_region"]] \
        .isna().all()
    assert got.loc["ftp://c.example.com/p/2", ["tld", "freq", "freq_rank"]] \
        .isna().all()


def test_enrich_wide_catalog_indexes_every_id(spark):
    """A 48k-template catalog: the first, last and random ids (and ties in
    freq, ranked first-come) must read their own frequency row, so an
    off-by-one in the array index fails; building the plan stays O(1)
    in py4j calls."""
    import time

    import numpy as np
    n = 48_000
    rng = np.random.default_rng(11)
    cat = pd.DataFrame({"template_id": np.arange(n, dtype="int64"),
                        "freq": rng.integers(1, 500, n).astype("int64")})
    ids = [0, 1, 2, n - 2, n - 1, None] + \
        rng.integers(0, n, 200).tolist()
    pdf = _parsed_rows(ids, ["en"] * len(ids),
                       [f"https://h.example.com/p/{i}" for i in range(len(ids))])
    _assert_enrich_matches_oracle(spark, pdf, cat)
    df = spark.createDataFrame(pdf, schemas.PARSED)
    t0 = time.perf_counter()
    enrich_op.enrich(df, cat)
    # measured ~0.1 s; a per-entry F.lit build costs ~1 ms per entry
    assert time.perf_counter() - t0 < 5.0
    with pytest.raises(ValueError, match="dense"):
        enrich_op.enrich(df, cat.iloc[1:])


def test_stage_outputs_have_declared_schemas(spark, workspace):
    """The runner reads parsed, scored and the catalog with the schemas
    ``schemas`` declares; what the stages wrote must have exactly those
    field names and types."""
    res = workspace["result"]
    for path, declared in ((res["parsed_path"], schemas.PARSED),
                           (res["scored_path"], schemas.SCORED),
                           (res["catalog_path"], schemas.CATALOG)):
        got = spark.read.parquet(path).schema
        assert [(f.name, f.dataType) for f in got] == \
            [(f.name, f.dataType) for f in declared], path


def test_pages_without_contract_column_raises(spark, pages_df, tmp_path):
    """A declared read would give a missing column as NULLs: a pages table
    written without ``host`` must raise before any stage is marked done."""
    pages_path = str(tmp_path / "pages")
    pages_src.write_pages(
        pages_src.pages_to_spark(spark, pages_df.head(200)).drop("host"),
        pages_path, n_buckets=2)
    work = str(tmp_path / "work")
    with pytest.raises(ValueError, match="host"):
        PipelineRunner(spark, pages_path, work).run()
    assert Manifest.load(os.path.join(work, "manifest.json")).entries == {}


def test_footer_sink_counts_equal_routed_counts(spark, workspace, oracle_result):
    """The per-sink counts the route stage takes from its parquet footers
    equal ``route.sink_counts`` over the routed rows, n_urls (distinct
    urls) included, and the oracle's per-sink nunique(url)."""
    res = workspace["result"]
    routed = spark.read.parquet(res["routed_path"])
    assert res["sink_counts"] == \
        [r.asDict() for r in route_op.sink_counts(routed).collect()]
    exp = oracle_result.scored.groupby("severity")["url"].nunique()
    assert {c["severity"]: c["n_urls"] for c in res["sink_counts"]} == exp.to_dict()


def test_runner_job_budget(spark, workspace, tmp_path):
    """One full run launches only the Spark jobs that read or write stage
    data: fit (its collect; the snapshot is driver-written), enrich and
    route one job each, none outside a stage, at most 8 in all.  Each
    stage runs under its own job group, set on the thread that runs the
    stage (job counts per group accumulate over the session, so the
    groups are fresh)."""
    import uuid
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    runner = PipelineRunner(spark, workspace["pages_path"], str(tmp_path / "work"))
    tag = uuid.uuid4().hex[:8]
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    inner = runner._stage

    def _stage(name, *args, **kwargs):
        sc.setJobGroup(f"{tag}-{name}", name)
        try:
            return inner(name, *args, **kwargs)
        finally:
            sc.setJobGroup(f"{tag}-outside", "outside any stage")
    runner._stage = _stage
    try:
        sc.setJobGroup(f"{tag}-outside", "outside any stage")
        result = runner.run()
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
    assert result["executed"] == PipelineRunner.STAGES
    jobs = {g: len(tracker.getJobIdsForGroup(f"{tag}-{g}"))
            for g in ["outside"] + PipelineRunner.STAGES}
    assert jobs["fit"] == 1 and jobs["enrich"] == 1 and jobs["route"] == 1, jobs
    assert jobs["outside"] == 0, jobs
    assert 0 < sum(jobs.values()) <= 8, jobs


def test_catalog_snapshot_is_one_driver_written_file(spark, workspace, tmp_path):
    """The fit stage's snapshot is one ``part-00000-*.parquet`` file with
    the CATALOG columns and types; it reads back through ``read_catalog``
    equal to the fitted rows, and its lineage row is task 0.  Writing
    again replaces the file."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    res = workspace["result"]
    cat_path = res["catalog_path"]
    [name] = [f for f in os.listdir(cat_path) if not f.startswith(("_", "."))]
    assert name.startswith("part-00000-") and name.endswith(".parquet")
    assert pq.read_schema(os.path.join(cat_path, name)).remove_metadata() == \
        to_arrow_schema(schemas.CATALOG)
    fitted = fit_op.fit_catalog(spark.read.parquet(workspace["pages_path"]))
    pd.testing.assert_frame_equal(fit_op.read_catalog(spark, cat_path), fitted)
    lin = _read_lineage(str(workspace["base"] / "work"))
    fit_lin = lin[(lin["run_id"] == res["run_id"]) & (lin["stage"] == "fit")]
    assert fit_lin["partition_id"].tolist() == [0]
    assert fit_lin["rows"].tolist() == [len(fitted)]
    again = str(tmp_path / "catalog")
    fit_op.write_catalog(fitted, again)
    fit_op.write_catalog(fitted.head(3), again)
    assert len([f for f in os.listdir(again) if f.endswith(".parquet")]) == 1
    pd.testing.assert_frame_equal(fit_op.read_catalog(spark, again),
                                  fitted.head(3))


def test_concurrent_run_keeps_stage_order_and_manifest(workspace):
    """A fresh run reports ``executed`` in STAGES order although enrich
    ran on its own thread, and the manifest on disk holds all 5 entries."""
    assert workspace["result"]["executed"] == PipelineRunner.STAGES
    on_disk = Manifest.load(
        os.path.join(str(workspace["base"] / "work"), "manifest.json")).entries
    assert sorted(on_disk) == sorted(PipelineRunner.STAGES)
    assert all(e["status"] == "done" for e in on_disk.values())


def test_manifest_concurrent_marks(tmp_path):
    """Marks from several threads never corrupt or lose an entry."""
    path = str(tmp_path / "manifest.json")
    m = Manifest.load(path)

    def _marks(i):
        for j in range(50):
            m.mark(f"s{i}", "fp", j, 0.0)
    threads = [threading.Thread(target=_marks, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert Manifest.load(path).entries == {
        f"s{i}": {"status": "done", "input_fp": "fp", "rows": 49, "wall_s": 0.0}
        for i in range(8)}


def _other_threads():
    """Live non-daemon threads other than the main thread."""
    return {t for t in threading.enumerate()
            if not t.daemon and t is not threading.main_thread()}


def test_failing_enrich_raises_after_score_and_route(spark, workspace, tmp_path,
                                                     monkeypatch):
    """An enrich failure reaches the caller only after score and route
    are done; enrich is not marked done, so the next run reruns it alone."""
    def _fail(parsed, catalog_rows):
        raise RuntimeError("enrich failed")
    work = str(tmp_path / "work")
    threads = _other_threads()
    with monkeypatch.context() as mp:
        mp.setattr(enrich_op, "enrich", _fail)
        with pytest.raises(RuntimeError, match="enrich failed"):
            PipelineRunner(spark, workspace["pages_path"], work).run()
    assert _other_threads() == threads
    entries = Manifest.load(os.path.join(work, "manifest.json")).entries
    assert sorted(entries) == ["fit", "parse", "route", "score"]
    assert os.path.exists(os.path.join(work, "routed", "_sink_counts.json"))
    out = PipelineRunner(spark, workspace["pages_path"], work).run()
    assert out["executed"] == ["enrich"]
    assert out["sink_counts"] == workspace["result"]["sink_counts"]


def test_failing_score_waits_for_enrich(spark, workspace, tmp_path, monkeypatch):
    """A score failure reaches the caller only after the enrich branch
    has finished: enrich is marked done, no thread of the run is left and
    no Spark job of it is still running."""
    import time

    from ai_log_analyzer_spark.operators import windows as win_op
    real_enrich = enrich_op.enrich

    def _slow_enrich(parsed, catalog_rows):
        time.sleep(1.0)
        return real_enrich(parsed, catalog_rows)

    def _fail(*args, **kwargs):
        raise RuntimeError("score failed")
    work = str(tmp_path / "work")
    threads = _other_threads()
    with monkeypatch.context() as mp:
        mp.setattr(enrich_op, "enrich", _slow_enrich)
        mp.setattr(win_op, "window_score_grouped", _fail)
        with pytest.raises(RuntimeError, match="score failed"):
            PipelineRunner(spark, workspace["pages_path"], work).run()
    assert _other_threads() == threads
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    entries = Manifest.load(os.path.join(work, "manifest.json")).entries
    assert sorted(entries) == ["enrich", "fit", "parse"]


def test_weights_broadcast_is_built_once(spark, workspace):
    """Repeated windows+score builds over one catalog reuse one weights
    broadcast: the driver's broadcast files do not grow."""
    from ai_log_analyzer_spark.operators import parse as parse_op
    from ai_log_analyzer_spark.operators import windows as win_op
    sc = spark.sparkContext
    parsed = spark.read.parquet(workspace["result"]["parsed_path"])
    ncls = workspace["result"]["num_classes"]

    def _build():
        return win_op.window_score_grouped(parse_op.matched(parsed), ncls,
                                           host_lookup=parsed)
    _build()
    before = sorted(os.listdir(sc._temp_dir))
    for _ in range(3):
        _build()
    assert sorted(os.listdir(sc._temp_dir)) == before


def test_fit_partition_invariance(spark, pages_df, oracle_result):
    """Property 3c: catalog identical for 1-partition vs 8-partition fit."""
    df1 = pages_src.pages_to_spark(spark, pages_df).coalesce(1)
    df8 = pages_src.pages_to_spark(spark, pages_df).repartition(8, "url")
    cat1 = fit_op.fit_catalog(df1)
    cat8 = fit_op.fit_catalog(df8)
    assert list(cat1["template"]) == list(cat8["template"])
    assert list(cat1["freq"]) == list(cat8["freq"])
    assert list(cat1["template"]) == list(oracle_result.catalog["template"])


def test_compact_shuffle_host_restore_shuffle_join_fallback(spark, workspace):
    """r3 verdict item 3: above HOST_BROADCAST_LIMIT distinct hosts the
    restore dictionary must switch from broadcast to a shuffle hash join
    — drive that branch via n_hosts_hint and require output equality
    with the broadcast path."""
    import pandas as pd

    from ai_log_analyzer_spark.operators import parse as parse_op
    from ai_log_analyzer_spark.operators import windows as win_op

    parsed = spark.read.parquet(workspace["result"]["parsed_path"])
    ncls = workspace["result"]["num_classes"]
    bcast = win_op.window_score_grouped(
        parse_op.matched(parsed), ncls, host_lookup=parsed)
    shuf = win_op.window_score_grouped(
        parse_op.matched(parsed), ncls, host_lookup=parsed,
        n_hosts_hint=win_op.HOST_BROADCAST_LIMIT + 1)
    # the fallback plan must NOT broadcast the host dictionary
    assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in shuf._jdf.queryExecution().executedPlan().toString()
    b = bcast.toPandas().sort_values(["host", "seq_no"]).reset_index(drop=True)
    s = shuf.toPandas().sort_values(["host", "seq_no"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(b, s, check_exact=True)


def test_compact_shuffle_missing_host_raises(spark, workspace):
    """r3 advice item 2: a host present in matched_events but absent
    from host_lookup must raise at execution time, not silently drop
    that host's scored rows."""
    import pytest
    from pyspark.sql import functions as F

    from ai_log_analyzer_spark.operators import parse as parse_op
    from ai_log_analyzer_spark.operators import windows as win_op

    parsed = spark.read.parquet(workspace["result"]["parsed_path"])
    ncls = workspace["result"]["num_classes"]
    one_host = parsed.select("host").distinct().limit(1).collect()[0]["host"]
    incomplete = parsed.filter(F.col("host") != one_host)
    with pytest.raises(Exception, match="missing from host_lookup"):
        win_op.window_score_grouped(
            parse_op.matched(parsed), ncls,
            host_lookup=incomplete).toPandas()
