"""Physical-plan assertions (SURVEY.md §4): the plans we ship must be
the plans we designed — broadcast joins stay broadcast, scans prune the
fat html column, filters push down, and no Python UDF appears in
Catalyst-only stages."""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_path(spark, pages_df, tmp_path_factory):
    from ai_log_analyzer_spark.sources import pages as P
    p = str(tmp_path_factory.mktemp("plans") / "pages")
    P.write_pages(P.pages_to_spark(spark, pages_df), p, n_buckets=4)
    return p


@pytest.fixture(scope="module")
def catalog_rows(spark, pages_path):
    from ai_log_analyzer_spark.operators import fit as fit_op
    return fit_op.fit_catalog(spark.read.parquet(pages_path))


def test_parse_scan_prunes_html(spark, pages_path, catalog_rows):
    from ai_log_analyzer_spark.operators import parse as parse_op
    plan = _plan(parse_op.parse_pages(spark.read.parquet(pages_path), catalog_rows))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" not in read_schema, f"fat column not pruned: {read_schema}"
    assert "text" in read_schema


_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "MapInArrow", "FlatMapGroupsInPandas")


def test_enrich_is_one_projection(spark, pages_path, catalog_rows, tmp_path):
    """Enrich serves its dims as Catalyst literals: over the parse it adds
    no Join, no Exchange, no BroadcastExchange and no Python node (the
    parse's own Arrow UDF stays the only one), and over the runner's
    declared read of the parse output the plan has no Python at all."""
    from ai_log_analyzer_spark import schemas
    from ai_log_analyzer_spark.operators import enrich as enrich_op
    from ai_log_analyzer_spark.operators import parse as parse_op
    parsed = parse_op.parse_pages(spark.read.parquet(pages_path), catalog_rows)

    def names(df):
        return [n.nodeName() for n in
                _nodes(df._jdf.queryExecution().executedPlan())]
    got = names(enrich_op.enrich(parsed, catalog_rows))
    assert not [n for n in got if "Join" in n or "Exchange" in n], got
    python = [n for n in got if n in _PYTHON_NODES]
    assert python and python == [n for n in names(parsed) if n in _PYTHON_NODES]
    parsed.write.parquet(str(tmp_path / "parsed"))
    read = spark.read.schema(schemas.PARSED).parquet(str(tmp_path / "parsed"))
    got = names(enrich_op.enrich(read, catalog_rows))
    assert not [n for n in got if "Join" in n or "Exchange" in n
                or n in _PYTHON_NODES], got


def test_bucket_filter_prunes_partitions(spark, pages_path):
    df = spark.read.parquet(pages_path).filter(F.col("bucket") == 2)
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(bucket" in plan \
        or "bucket#" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_severity_is_codegen_not_python(spark, pages_path, catalog_rows):
    from ai_log_analyzer_spark.operators import route as route_op
    scored = spark.createDataFrame(
        [("h", 1, "u", None, 1, 2, [1, 2], 0.5, True)],
        "host string, seq_no long, url string, warc_ts timestamp, "
        "template_id long, label_id long, window_ids array<long>, "
        "anomaly_score double, is_anomaly boolean")
    plan = _plan(route_op.with_severity(scored))
    assert "PythonUDF" not in plan and "MapInPandas" not in plan


def test_sink_counts_is_partial_agg(spark, pages_path, catalog_rows):
    from ai_log_analyzer_spark.operators import route as route_op
    scored = spark.range(10).select(
        F.lit("h").alias("host"), F.col("id").alias("seq_no"),
        F.col("id").cast("string").alias("url"),
        F.current_timestamp().alias("warc_ts"),
        F.lit(0).cast("long").alias("template_id"),
        F.lit(1).cast("long").alias("label_id"),
        F.array(F.lit(1).cast("long")).alias("window_ids"),
        F.rand(7).alias("anomaly_score"), (F.rand(8) > 0.5).alias("is_anomaly"))
    plan = _plan(route_op.sink_counts(route_op.with_severity(scored)))
    assert "partial" in plan.lower()  # map-side combine before the exchange


def _nodes(plan):
    """Pre-order walk of a JVM physical plan (AQE root unwrapped)."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def _output(node) -> list:
    out = node.output()
    return [(out.apply(i).name(), out.apply(i).dataType().simpleString())
            for i in range(out.size())]


@pytest.mark.parametrize("series_parts", [None, 32])
def test_window_score_one_int_key_exchange(spark, pages_path, catalog_rows,
                                           series_parts):
    """The windows stage shuffles ONCE, on the int host key: exactly one
    hashpartitioning Exchange feeds FlatMapGroupsInPandas (series_parts
    widens that exchange rather than adding one), no Exchange outside
    the host dictionary carries the host string, and the string is
    restored by a BroadcastHashJoin."""
    from ai_log_analyzer_spark.operators import parse as parse_op
    from ai_log_analyzer_spark.operators import windows as win_op
    pages = spark.read.parquet(pages_path)
    scored = win_op.window_score_grouped(
        parse_op.matched(parse_op.parse_template_ids(pages, catalog_rows)),
        len(catalog_rows), host_lookup=pages, carry=(),
        series_parts=series_parts)
    nodes = list(_nodes(scored._jdf.queryExecution().executedPlan()))
    [fmg] = [n for n in nodes if n.nodeName() == "FlatMapGroupsInPandas"]
    feeding = [n for n in _nodes(fmg) if n.nodeName() == "Exchange"]
    assert len(feeding) == 1, [n.toString() for n in feeding]
    assert "hashpartitioning(_b" in feeding[0].toString()
    assert all(name != "host" and typ != "string"
               for name, typ in _output(feeding[0])), _output(feeding[0])

    [bhj] = [n for n in nodes if n.nodeName() == "BroadcastHashJoin"]
    assert any(n.nodeName() == "FlatMapGroupsInPandas"
               for n in _nodes(bhj.children().apply(0)))
    [bx] = [n for n in nodes if n.nodeName() == "BroadcastExchange"]

    def host_exchanges(tree):
        return [n for n in tree if n.nodeName() == "Exchange"
                and ("host", "string") in _output(n)]
    # only the distinct-host dictionary (beneath the broadcast) shuffles
    # host strings
    assert len(host_exchanges(nodes)) == len(host_exchanges(_nodes(bx)))


def test_round5_projection_ops_zero_shuffle_zero_python(spark):
    """script_stats, extract_links, and the html_outlinks explode are
    pure projections: no Exchange, no Python eval node anywhere."""
    from ai_log_analyzer_spark.functions import text as TX
    from ai_log_analyzer_spark.functions import urls as U
    docs = spark.createDataFrame(
        [(1, "abc Привет"), (2, "hola")], ["doc_id", "text"])
    for df in (TX.script_stats(docs),
               U.extract_links(docs.select(
                   "doc_id",
                   F.encode(F.col("text"), "UTF-8").alias("html")))):
        plan = _plan(df)
        assert "Exchange" not in plan, plan
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                     "FlatMapGroupsInPandas"):
            assert node not in plan, plan


def test_vocab_coverage_window_is_histogram_sized(spark):
    """vocab_coverage's window must partition by lang over the
    frequency-value histogram — the plan may contain exchanges for the
    two aggs + window, but NO global single-partition sort (the
    vocab-scale sort this operator exists to avoid)."""
    from ai_log_analyzer_spark.functions import text as TX
    docs = spark.createDataFrame(
        [(1, "a a b", "en"), (2, "c", "fr")], ["doc_id", "text", "lang"])
    plan = _plan(TX.vocab_coverage(docs))
    assert "Exchange SinglePartition" not in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan


def test_web_projection_ops_zero_shuffle_zero_python(spark):
    """html_meta, dom_structure, sitemap parsing, encoding triage, and
    main-content block scoring are Catalyst-only; the pure projections
    among them also never exchange."""
    from ai_log_analyzer_spark.functions import encodings as EN
    from ai_log_analyzer_spark.functions import htmlmeta as HM
    from ai_log_analyzer_spark.functions import maincontent as MC
    from ai_log_analyzer_spark.functions import sitemaps as SM
    docs = spark.createDataFrame(
        [(1, b"<html><title>t</title><div>x</div></html>")],
        "doc_id long, html binary")
    sm = spark.createDataFrame(
        [("h", "<urlset><url><loc>u</loc></url></urlset>")],
        "host string, sitemap_xml string")
    pure = [HM.html_meta(docs), HM.dom_structure(docs),
            SM.parse_sitemap(sm),
            EN.encoding_triage(docs.withColumnRenamed("html", "body"))]
    for df in pure:
        plan = _plan(df)
        assert "Exchange" not in plan, plan
    # main_content aggregates (one exchange, partial-aggregated) but
    # must stay Python-free and its agg must have a map-side partial
    plan = _plan(MC.main_content(docs))
    for df_plan in [plan] + [_plan(d) for d in pure]:
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                     "FlatMapGroupsInPandas"):
            assert node not in df_plan, df_plan
    assert "partial_" in plan.lower() or "HashAggregate" in plan, plan


def test_pmi_unigram_joins_are_broadcast(spark):
    """pmi_collocations joins the bigram table to the unigram counts
    twice — both must be broadcast (vocab-sized side), never a shuffle
    of the pair table on a word key."""
    from ai_log_analyzer_spark.functions import collocations as CL
    docs = spark.createDataFrame([(f"w{i} w{(i + 1) % 9} common",)
                                  for i in range(40)], ["text"])
    plan = _plan(CL.pmi_collocations(docs, min_count=2))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_topk_ranks_are_take_ordered_not_global_window(spark):
    """bm25_rank and bpe_pair_counts compute global top-k via
    TakeOrderedAndProject (per-partition partial take-k) — the
    data-sized score/pair table must never cross an unpartitioned
    row_number window (one Exchange SinglePartition over n_docs rows).
    The rank window runs AFTER the limit, over ≤ top_k rows, so the
    only allowed SinglePartition exchange feeds a LocalLimit/Window
    over the already-reduced set."""
    from ai_log_analyzer_spark.functions import text as TX
    docs = spark.createDataFrame(
        [(1, "spark rules the web"), (2, "spark spark"), (3, "web")],
        ["doc_id", "text"])
    for df in (TX.bm25_rank(docs, ["spark", "web"], top_k=2),
               TX.bpe_pair_counts(docs, "text", top_k=3)):
        plan = _plan(df)
        assert "TakeOrderedAndProject" in plan, plan
        # the window must consume the take-ordered output, never a raw
        # exchange of the full table: TakeOrderedAndProject appears
        # BELOW (after, in toString order) the Window node
        assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan


def test_boilerplate_dfq_is_window_not_self_join(spark):
    """boilerplate_shingle_stats learns each shingle's doc frequency
    via ONE (grp, shingle_hash)-partitioned count window — the heavy
    distinct-occurrence table must never be self-joined on
    shingle_hash (the pre-rewrite shape shuffled it twice).  Allowed
    joins: the broadcast per-group doc-count table and the final
    doc_id left join."""
    from ai_log_analyzer_spark.functions import dedup as D
    docs = spark.createDataFrame(
        [(1, "a", "x y z x y"), (2, "a", "x y q"), (3, "b", "q r s")],
        ["doc_id", "source", "text"])
    plan = _plan(D.boilerplate_shingle_stats(docs))
    assert "Window" in plan, plan
    for line in plan.splitlines():
        if "Join" in line and "shingle_hash" in line:
            raise AssertionError(f"shingle_hash join survived: {line}")


def test_new_ops_have_no_single_partition_exchange(spark):
    """pack_pairs (histogram rank: per-length window + pair groupBy +
    broadcast base) and dup_passage_stats (positional window-min +
    doc_id groupBy) must never funnel the corpus through an
    unpartitioned exchange — the global-sort scale-killer their
    designs explicitly avoid."""
    from ai_log_analyzer_spark.functions import dedup as D
    from ai_log_analyzer_spark.functions import packing as PK
    docs = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1)) for i in range(1, 40)],
        ["doc_id", "text"])
    for df in (PK.pack_pairs(docs, capacity=10),
               D.dup_passage_stats(docs, n=2)):
        plan = _plan(df)
        assert "Exchange SinglePartition" not in plan, plan


def test_reuse_spans_window_is_pair_partitioned(spark):
    """text_reuse_spans' gaps-and-islands window is partitioned by
    (doc_a, doc_b, diag) — the corpus-sized match table must never
    cross an unpartitioned exchange, and the stop-shingle filter must
    be a broadcast anti-join (never a shuffled one)."""
    from ai_log_analyzer_spark.functions import dedup as D
    docs = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(6)], ["doc_id", "text"])
    plan = _plan(D.text_reuse_spans(docs, df_cap=10))
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_zipf_fit_window_is_take_ordered(spark):
    """zipf_stats ranks via TakeOrderedAndProject; the row_number
    window must consume the ≤ top_n survivors, never a raw exchange of
    the full vocabulary (same contract as bm25/bpe ranks)."""
    from ai_log_analyzer_spark.functions import text as TX
    docs = spark.createDataFrame(
        [(1, "spark rules the web"), (2, "spark spark web")],
        ["doc_id", "text"])
    plan = _plan(TX.zipf_stats(docs, top_n=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan


def test_bfs_joins_frontier_not_settled(spark):
    """bfs_depths per-round join is frontier ⨝ edges: after the run,
    the returned plan is a checkpoint scan union — no residual joins
    of the full settled set (delta-frontier BFS, the property that
    keeps round cost frontier-sized at 10^12 edges)."""
    from ai_log_analyzer_spark.functions import graph as G
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["node"])
    out = G.bfs_depths(edges, seeds, max_depth=3)
    plan = _plan(out)
    # localCheckpoint per round bounds the plan: the final DataFrame
    # reads checkpointed RDDs, no join/exchange chain survives
    assert "Join" not in plan, plan


def test_batch2_ops_no_single_partition_no_python(spark):
    """tfidf_keywords (doc-partitioned rank window), bpe_fertility
    (codegen projection + lang groupBy), incremental_lsh_pairs
    (new⨝old band probe): none may funnel the corpus through an
    unpartitioned exchange, fall back to a cartesian product, or touch
    a Python worker."""
    from ai_log_analyzer_spark.functions import dedup as D
    from ai_log_analyzer_spark.functions import text as TX
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma w{i} delta", "en") for i in range(8)],
        ["doc_id", "text", "lang"])
    plans = [
        _plan(TX.bpe_fertility(docs)),
        _plan(D.incremental_lsh_pairs(
            docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0"))),
    ]
    for plan in plans:
        assert "Exchange SinglePartition" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    # tfidf's scalar n_docs agg legitimately finalizes on one partition
    # (input = one pre-reduced row per upstream partition); the guard
    # here is the RANK window, which must partition by doc_id — the
    # corpus-sized (doc, word) table never crosses an unpartitioned sort
    tp = _plan(TX.tfidf_keywords(docs, top_k=2))
    assert "CartesianProduct" not in tp, tp
    assert "BatchEvalPython" not in tp and "ArrowEval" not in tp, tp
    win = [ln for ln in tp.splitlines() if "Window [" in ln]
    assert win and all("doc_id" in ln.split("], [")[1] for ln in win), tp


def test_lpa_plan_is_checkpoint_bounded(spark):
    """label_propagation localCheckpoints every round: the returned
    plan must be a checkpoint scan, not an iters-deep join chain."""
    from ai_log_analyzer_spark.functions import graph as G
    edges = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    plan = _plan(G.label_propagation(edges, iters=3))
    assert "Join" not in plan, plan


def test_batch3_ops_no_single_partition_no_python(spark):
    """source_report (fingerprint window-min + source groupBy) and
    label_centroid_cosine ((label,dim) partial-agg mean; downstream
    over the centroid table only): no unpartitioned exchange, no
    cartesian, no Python workers."""
    from ai_log_analyzer_spark.functions import similarity as S
    from ai_log_analyzer_spark.functions import text as TX
    docs = spark.createDataFrame(
        [(i, f"w{i} common text", "en", f"s{i % 2}") for i in range(6)],
        ["doc_id", "text", "lang", "source"])
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 3) for i in range(9)],
        ["vec_id", "embedding", "label"])
    for df in (TX.source_report(docs), S.label_centroid_cosine(emb)):
        plan = _plan(df)
        assert "Exchange SinglePartition" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_kcore_plan_is_checkpoint_bounded(spark):
    """kcore_peel localCheckpoints per round: the returned plan is one
    aggregate over the final checkpointed edge set — no residual
    join/peel chain."""
    from ai_log_analyzer_spark.functions import graph as G
    edges = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], ["src", "dst"])
    plan = _plan(G.kcore_peel(edges, k=2, max_rounds=4))
    assert "Join" not in plan, plan


def test_winnow_single_exchange(spark):
    """winnow_fingerprints costs ONE exchange total: the ordered
    lag/lead window, the unordered count-over-doc window, and the
    final groupBy(doc_id) all reuse the same hashpartitioning — and
    nothing touches a Python worker."""
    from ai_log_analyzer_spark.functions import dedup as D
    docs = spark.createDataFrame(
        [(i, f"a b c w{i} d e") for i in range(8)], ["doc_id", "text"])
    plan = _plan(D.winnow_fingerprints(docs))
    ex = [ln for ln in plan.splitlines() if "Exchange" in ln
          and "Reused" not in ln]
    assert len(ex) == 1 and "hashpartitioning(doc_id" in ex[0], plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_backoff_and_drift_plans(spark):
    """stupid_backoff_score: trigram/bigram count joins stay SHUFFLE
    joins (corpus-keyed — never broadcast), unigram/(N,V) sides are
    broadcast, no cartesian, no Python.  token_drift: one conditional-
    sum groupBy, broadcast 1-row totals, no SinglePartition funnel
    ahead of the final scalar agg."""
    from ai_log_analyzer_spark.functions import text as TX
    docs = spark.createDataFrame(
        [(i, f"a b c w{i % 3} d") for i in range(12)], ["doc_id", "text"])
    sb = _plan(TX.stupid_backoff_score(docs))
    assert "CartesianProduct" not in sb, sb
    assert "BatchEvalPython" not in sb and "ArrowEval" not in sb, sb
    assert "SortMergeJoin" in sb or "ShuffledHashJoin" in sb, sb
    td = _plan(TX.token_drift(docs.filter("doc_id % 2 = 0"),
                              docs.filter("doc_id % 2 = 1")))
    assert "CartesianProduct" not in td, td
    assert "BatchEvalPython" not in td and "ArrowEval" not in td, td
    # the only SinglePartition exchange allowed is the 1-row totals agg
    sp = [ln for ln in td.splitlines() if "Exchange SinglePartition" in ln]
    assert len(sp) <= 1, td


def test_trustrank_plan_is_checkpoint_bounded(spark):
    """trustrank localCheckpoints every round: the returned plan is a
    checkpoint scan join'd once against nothing — no iters-deep chain."""
    from ai_log_analyzer_spark.functions import graph as G
    edges = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], "node long")
    plan = _plan(G.trustrank(edges, seeds, iters=2))
    assert "Join" not in plan, plan


def test_pq_encode_is_zero_shuffle_zero_python(spark):
    """PQ encoding must compile to a pure projection over codebook
    literals — no Exchange, no Python eval node: at 100 TB the encode
    pass is a map-only scan."""
    from ai_log_analyzer_spark.functions import similarity as S
    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(16)]) for i in range(20)],
        ["vec_id", "embedding"])
    books = [[[0.1 * (s + c + i) for i in range(2)]
              for c in range(4)] for s in range(8)]
    plan = _plan(S.pq_encode(emb, books))
    assert "Exchange" not in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, plan


def test_ivfpq_codes_is_zero_shuffle_zero_python(spark):
    """The IVF-PQ index build (cell assign + residual + codes) must be
    pure chained projections over literals — no Exchange, no Python
    eval node: at 100 TB the index pass is a map-only scan."""
    from ai_log_analyzer_spark.functions import similarity as S
    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(16)]) for i in range(20)],
        ["vec_id", "embedding"])
    cents = [[0.1 * (c + i) for i in range(16)] for c in range(4)]
    books = [[[0.1 * (s + c + i) for i in range(2)]
              for c in range(4)] for s in range(8)]
    plan = _plan(S.ivfpq_codes(emb, cents, books))
    assert "Exchange" not in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, plan


def test_sq8_encode_is_zero_shuffle_zero_python(spark):
    """SQ8 encoding must compile to a pure projection over per-dim
    [min,max] literals — no Exchange, no Python eval node."""
    from ai_log_analyzer_spark.functions import similarity as S
    emb = spark.createDataFrame(
        [(i, [float(i + j) for j in range(16)]) for i in range(20)],
        ["vec_id", "embedding"])
    params = [(0.0, 1.0 + i) for i in range(16)]
    plan = _plan(S.sq8_encode(emb, params))
    assert "Exchange" not in plan, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                 "FlatMapGroupsInPandas"):
        assert node not in plan, plan


def test_round5_late_ops_plan_shapes(spark):
    """The ten late-round curation ops keep their declared shapes:
    slug coherence and soft-404 flags are pure projections (+ one
    partial agg for the rollup); doc_entropy / shard_checksums /
    lang mixing / JS divergence never cross an unpartitioned exchange,
    a cartesian product, or a Python worker.  Scalar 1-row aggregates
    (heaps/freshness corpus-max) legitimately finalize single-partition
    over pre-reduced rows and are exempted individually."""
    from ai_log_analyzer_spark.functions import crawlfunnel as CFX
    from ai_log_analyzer_spark.functions import sampling as SAX
    from ai_log_analyzer_spark.functions import text as TX
    from ai_log_analyzer_spark.functions import urls as UX
    docs = spark.createDataFrame(
        [(i, f"w{i} alpha beta. gamma delta", "en", f"s{i % 2}",
          f"https://a.org/p/x-{i}", f"h{i % 2}")
         for i in range(8)],
        ["doc_id", "text", "lang", "source", "url", "host"])
    no_single = [
        TX.doc_entropy(docs),
        TX.source_js_divergence(docs),
        TX.lang_mixing_stats(docs),
        SAX.shard_checksums(docs),
        CFX.soft404_stats(docs),
    ]
    for df in no_single:
        plan = _plan(df)
        assert "Exchange SinglePartition" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    # pure projection: NO exchange of any kind
    slug = _plan(UX.slug_text_coherence(docs))
    assert "Exchange" not in slug, slug
    assert "BatchEvalPython" not in slug and "ArrowEval" not in slug, slug
    # scalar-agg ops: the only SinglePartition exchanges feed 1-row
    # aggregates; still no cartesian / Python, and the broadcast of the
    # scalar must be a BroadcastNestedLoopJoin, never CartesianProduct
    from ai_log_analyzer_spark.functions import temporal as TPX
    for df in (TX.heaps_law_fit(docs),
               TPX.freshness_scores(
                   docs.select("host", F.current_timestamp()
                               .alias("warc_ts")))):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_percentile_gate_windows_are_bucket_partitioned(spark):
    """The corpus-sized row_number window must partition by
    (grp, bucket) — never by grp alone (the naive per-group sort) and
    never unpartitioned; the grp-only running-sum window runs over the
    tiny (group × bucket) count table by construction."""
    from ai_log_analyzer_spark.functions import sampling as SAX
    df = spark.createDataFrame(
        [(i, f"g{i % 2}", i % 40) for i in range(20)],
        ["doc_id", "grp", "score_m"])
    plan = _plan(SAX.percentile_gate(df, "grp", "score_m", "doc_id"))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    rn_windows = [ln for ln in plan.splitlines()
                  if "row_number()" in ln and "Window" in ln]
    assert rn_windows, plan
    for ln in rn_windows:
        assert "_b" in ln.split("], [")[1], ln


def test_chi2_rank_is_two_phase(spark):
    """source_keywords_chi2's global rank must consume only the
    phase-1 survivors: both row_number windows appear, the first
    partitioned by (source, _pid)."""
    from ai_log_analyzer_spark.functions import text as TX
    docs = spark.createDataFrame(
        [(f"s{i % 2}", "alpha beta casino " * 3) for i in range(6)],
        ["source", "text"])
    plan = _plan(TX.source_keywords_chi2(docs))
    assert "CartesianProduct" not in plan, plan
    win_specs = [ln for ln in plan.splitlines()
                 if "Window [row_number()" in ln]
    assert len(win_specs) == 2, plan
    assert any("_pid" in ln for ln in win_specs), plan
    # Spark 4 additionally pushes WindowGroupLimit below both windows —
    # the rank filter prunes before the exchange, gravy on top of the
    # two-phase shape
    assert "WindowGroupLimit" in plan, plan


def test_cidr_enrich_is_broadcast_only(spark):
    """Longest-prefix CIDR enrichment must never sort-merge: all three
    dimension joins broadcast, the event stream's only exchange is the
    final bounded groupBy(label), and no Python worker appears."""
    from ai_log_analyzer_spark.functions import netenrich as NE
    ev = spark.range(64).select(F.col("id").alias("event_id"),
                                F.col("id").alias("user_id"))
    plan = _plan(NE.cidr_enrich_stats(ev))
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_rate_burst_single_exchange(spark):
    """The trailing-window burst screen reuses ONE hash exchange on the
    key for both the range frame and the per-key fold — no second
    shuffle, no single-partition window, no Python."""
    from ai_log_analyzer_spark.functions import temporal as TP
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + i * 7, i % 4) for i in range(32)],
        "event_id long, es long, user_id long") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"), "user_id")
    plan = _plan(TP.rate_burst_stats(ev))
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_funnel_one_user_exchange_no_python(spark):
    """The funnel fold is a JVM higher-order aggregate over each user's
    sorted array: one user-key exchange for the collect_list, the stage
    table from a single conditional-sum agg — no per-step join rounds,
    no Python workers."""
    from ai_log_analyzer_spark.functions import temporal as TP
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + i * 11, i % 5,
          ["view", "click", "purchase"][i % 3]) for i in range(30)],
        "event_id long, es long, user_id long, event_type string") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"),
                "user_id", "event_type")
    plan = _plan(TP.funnel_stages(ev, ("view", "click", "purchase")))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_retention_sizes_join_is_broadcast(spark):
    """Retention's cohort-size restore must broadcast (cohort grid ≪
    corpus) and the raw stream must die at the distinct — no
    single-partition exchange anywhere."""
    from ai_log_analyzer_spark.functions import temporal as TP
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + (i % 9) * 86400 + i, i % 6)
         for i in range(54)],
        "event_id long, es long, user_id long") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"), "user_id")
    plan = _plan(TP.retention_cohorts(ev))
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_seasonal_deviation_grid_joins_are_broadcast(spark):
    """Both baseline and day-count restores broadcast onto the calendar
    grid; no sort-merge join, no Python."""
    from ai_log_analyzer_spark.functions import temporal as TP
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + (i % 5) * 86400 + (i % 24) * 3600, "t%d" % (i % 3))
         for i in range(60)],
        "event_id long, es long, event_type string") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"), "event_type")
    plan = _plan(TP.seasonal_deviation(ev))
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_km_survival_windows_only_on_grid(spark):
    """KM's cumulative windows run on the bucketed duration GRID (after
    the groupBy), never over version rows: the single-partition
    exchange must consume a grid-sized aggregate, and the version-grain
    stages stay hash-partitioned by page key."""
    from ai_log_analyzer_spark.functions import snapshots as SN
    obs = spark.createDataFrame(
        [(f"p{i % 7}", 1_700_000_000 + i * 3600, f"f{i % 3}")
         for i in range(42)],
        "page_key string, es long, fp string") \
        .select("page_key", F.timestamp_seconds("es").alias("snap_ts"), "fp")
    plan = _plan(SN.km_survival(obs, bucket_s=3600))
    # grid windows exist (SinglePartition) but only downstream of the
    # dur_bucket aggregate — assert the version table's key windows
    # stayed partitioned and no Python appeared
    assert "hashpartitioning(page_key" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_alert_episodes_one_pair_exchange_no_python(spark):
    """Sessionization windows and BOTH downstream groupBys ride ONE
    (key, type) hash exchange — superset grouping keys satisfy the
    existing partitioning; no SinglePartition, no Python workers."""
    from ai_log_analyzer_spark.functions import temporal as TP
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + i * 13, i % 4, "t%d" % (i % 3))
         for i in range(40)],
        "event_id long, es long, user_id long, event_type string") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"),
                "user_id", "event_type")
    plan = _plan(TP.alert_episodes(ev))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_template_transitions_grid_only_exchanges(spark):
    """One key exchange for the lag window; every later exchange is of
    the (#types)²-bounded grid; totals restore by broadcast — no
    sort-merge join, no Python."""
    from ai_log_analyzer_spark.functions import temporal as TP
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + i * 17, i % 5, "t%d" % (i % 4))
         for i in range(60)],
        "event_id long, es long, user_id long, event_type string") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"),
                "user_id", "event_type")
    df = TP.template_transitions(ev)
    df.collect()   # AQE final plan: the grid exchange must be REUSED
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ReusedExchange" in plan, plan
    # count real exchange nodes only (a ReusedExchange line embeds the
    # reused node's description)
    assert plan.count("+- Exchange hashpartitioning") <= 3, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_cusum_drift_raw_stream_dies_at_grid(spark):
    """The raw stream dies at ONE groupBy onto the calendar grid; the
    densify joins and every window run grid-side only (the window sort
    never partitions the raw stream), and no Python appears."""
    from ai_log_analyzer_spark.functions import temporal as TP
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + (i % 30) * 3600 + i, "t%d" % (i % 3))
         for i in range(90)],
        "event_id long, es long, event_type string") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"),
                "event_type")
    df = TP.cusum_drift(ev)
    df.collect()
    plan = _plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in plan, plan  # types × hour range
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    # SinglePartition exchanges carry only the bounded 4-value
    # (min, max) hour-range agg — ≤2 because ExistingRDD test inputs
    # don't canonicalize for exchange reuse (parquet scans do; the
    # second instance is a ReusedExchange on the real source path)
    assert plan.count("Exchange SinglePartition") - plan.count(
        "ReusedExchange [min") <= 2, plan
    # the raw stream must never sort: every Window runs on the grid
    assert all("es#" not in l for l in plan.splitlines()
               if "Sort [" in l and "event_id" in l), plan


def test_first_seen_novelty_broadcast_restores(spark):
    """Support table and the 1-row corpus clock broadcast back onto the
    (key, type) grid; the grid itself takes one hash exchange."""
    from ai_log_analyzer_spark.functions import temporal as TP
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + i * 19, i % 6, "t%d" % (i % 4))
         for i in range(48)],
        "event_id long, es long, user_id long, event_type string") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"),
                "user_id", "event_type")
    plan = _plan(TP.first_seen_novelty(ev))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_burn_rate_window_is_grid_sized(spark):
    """The stream dies at the hour-grid groupBy; the only
    unpartitioned window and SinglePartition exchanges run over
    hours-of-history rows (plus the bounded 1-row range agg) — and no
    Python appears."""
    from ai_log_analyzer_spark.functions import incidents as IC
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + (i % 20) * 3600 + i,
          "error" if i % 7 == 0 else "view") for i in range(80)],
        "event_id long, es long, event_type string") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"),
                "event_type")
    plan = _plan(IC.burn_rate(ev))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    # raw stream partially aggregates map-side before its one exchange
    assert "partial_sum" in plan or "partial" in plan.lower(), plan


def test_alert_correlation_broadcast_restores(spark):
    """Pair counts join singleton counts and the basket total by
    broadcast; the basket self-join is the only non-broadcast join."""
    from ai_log_analyzer_spark.functions import incidents as IC
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + (i % 6) * 3600, i % 5, "t%d" % (i % 4))
         for i in range(60)],
        "event_id long, es long, user_id long, event_type string") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"),
                "user_id", "event_type")
    plan = _plan(IC.alert_correlation(ev))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan, plan   # 1-row total
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_spike_attribution_spike_join_is_broadcast(spark):
    """The spike table (one row per type) and the type totals broadcast
    onto the stream/grid; no Python, no SinglePartition of event-sized
    relations (the argmax window partitions by type)."""
    from ai_log_analyzer_spark.functions import incidents as IC
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + (i % 8) * 3600 + i, i % 5, "t%d" % (i % 3))
         for i in range(80)],
        "event_id long, es long, user_id long, event_type string") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"),
                "user_id", "event_type")
    plan = _plan(IC.spike_attribution(ev))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_latency_percentiles_window_is_histogram_sized(spark):
    """The cumulative window partitions by type over the milli-value
    HISTOGRAM (post-groupBy), never the event stream; no global
    single-partition sort, no Python."""
    from ai_log_analyzer_spark.functions import incidents as IC
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + i, "t%d" % (i % 3), (i % 17) / 7.0)
         for i in range(60)],
        "event_id long, es long, event_type string, value double") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"),
                "event_type", "value")
    plan = _plan(IC.latency_percentiles(ev))
    assert "Exchange SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    # map-side partial agg before the histogram exchange
    assert "partial_count" in plan or "partial" in plan.lower(), plan


def test_json_key_coverage_totals_join_is_broadcast(spark):
    """Key explode feeds one (type, key) grid groupBy; totals broadcast
    back; no Python (json_object_keys is a JVM expression)."""
    from ai_log_analyzer_spark.functions import incidents as IC
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + i, "t%d" % (i % 3), '{"k": 1}')
         for i in range(30)],
        "event_id long, es long, event_type string, props string") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"),
                "event_type", "props")
    plan = _plan(IC.json_key_coverage(ev))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_incident_summary_assembly_is_broadcast_joins(spark):
    """The capstone assembles type-grain tables by broadcast; rank-1
    windows partition by type (never single-partition); no Python."""
    from ai_log_analyzer_spark.functions import incidents as IC
    ev = spark.createDataFrame(
        [(i, 1_700_000_000 + (i % 8) * 3600 + i, i % 5, "t%d" % (i % 3))
         for i in range(80)],
        "event_id long, es long, user_id long, event_type string") \
        .select("event_id", F.timestamp_seconds("es").alias("ts"),
                "user_id", "event_type")
    plan = _plan(IC.incident_summary(ev))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_zorder_layout_single_aggregate_no_python(spark):
    """Layout audit = projection + one ≤128-group aggregate; the corpus
    time-bounds join is a broadcast (1 row); zero Python nodes."""
    from ai_log_analyzer_spark.functions import layout as LY
    ev = spark.range(500).selectExpr(
        "id as event_id", "cast(id * 7 % 100 as long) as user_id",
        "timestamp_micros(1700000000000000 + id * 60000000) as ts")
    plan = _plan(LY.zorder_layout(ev))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, \
        plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_range_partition_bounds_no_global_window(spark):
    """The distributed rank partitions its window by range bucket —
    no single-partition global window (the RangePartitioner-without-
    sampling claim); the base-offset join is broadcast."""
    from ai_log_analyzer_spark.functions import layout as LY
    ev = spark.range(1000).selectExpr(
        "id as event_id", "cast(id * 37 % 500 as double) / 100 as value")
    plan = _plan(LY.range_partition_bounds(ev, k=16))
    # a global window shows as 'Window [...], [v ASC ...]' with no
    # partitionBy → its exchange is SinglePartition
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_compaction_plan_windows_partition_by_directory(spark):
    """The compaction prefix sum is per-directory: its window exchange
    hashes on source — never SinglePartition; zero Python nodes."""
    from ai_log_analyzer_spark.functions import layout as LY
    docs = spark.range(2000).selectExpr(
        "id as doc_id", "concat('s', id % 7) as source",
        "cast(id % 300 + 10 as long) as n_chars")
    plan = _plan(LY.compaction_plan(docs))
    assert "SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_skew_profile_two_bounded_exchanges(spark):
    """Key-grid groupBy with map-side partials + a bounded global fold;
    zero Python nodes."""
    from ai_log_analyzer_spark.functions import salting as SAL
    df = spark.range(5000).selectExpr("id as event_id",
                                      "cast(id % 13 as long) as k")
    plan = _plan(SAL.skew_profile(df, "k"))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    # partial_count proves the first aggregate combines map-side
    assert "partial_count" in plan or "partial count" in plan.lower(), plan


def test_delta_bitwidth_audit_windows_partition_by_block(spark):
    """Lag windows hash on the block key — never SinglePartition; no
    Python nodes."""
    from ai_log_analyzer_spark.functions import layout as LY
    ev = spark.range(5000).selectExpr(
        "id as event_id",
        "timestamp_micros(1700000000000000 + id * 777) as ts")
    plan = _plan(LY.delta_bitwidth_audit(ev))
    assert "SinglePartition" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_join_filter_audit_distinct_before_join(spark):
    """Both sides reduce to key grids before the join: the join input
    exchanges carry aggregate output, and no Python nodes appear."""
    from ai_log_analyzer_spark.functions import stats as ST
    probe = spark.range(10000).selectExpr("cast(id % 500 as long) as k")
    build = spark.range(300).selectExpr("id as k")
    plan = _plan(ST.join_filter_audit(probe, build, "k", "k"))
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
    # partial aggregation on the probe side collapses rows map-side
    assert "partial_count" in plan or "partial count" in plan.lower(), plan


def test_data_contract_audit_is_one_scan(spark):
    """All rules ride one aggregate over one scan — a single pair of
    HashAggregates (partial + final), no joins, no Python nodes."""
    from ai_log_analyzer_spark.functions import contracts as CT
    ev = spark.range(1000).selectExpr(
        "id as event_id", "cast(id as double) as value",
        "'click' as event_type",
        "cast('2024-06-01' as timestamp_ntz) as ts",
        "cast(id % 10 as long) as user_id",
        "'{\"k\": 1}' as props")
    plan = _plan(CT.data_contract_audit(ev))
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_ingestion_completeness_grid_only_windows(spark):
    """The stream dies at one distinct onto the (type, hour) grid; the
    gap window partitions by type (no SinglePartition for it), the
    bounds join is broadcast, no Python nodes."""
    from ai_log_analyzer_spark.functions import incidents as IC
    ev = spark.range(5000).selectExpr(
        "concat('t', id % 4) as event_type",
        "cast(timestamp_seconds(1700000000 + id * 600) as timestamp_ntz)"
        " as ts")
    plan = _plan(IC.ingestion_completeness(ev))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, \
        plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_table_stats_profile_is_one_scan(spark):
    """Every column's stats ride one aggregate over one scan — no
    joins, no Python nodes (Expand for multi-distinct is expected)."""
    from ai_log_analyzer_spark.functions import stats as ST
    df = spark.range(2000).selectExpr("id as a", "id % 7 as b")
    plan = _plan(ST.table_stats_profile(df, ["a", "b"]))
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_dup_size_histogram_broadcast_total(spark):
    """The corpus total joins back as a broadcast single row; no
    Python nodes; no sort-merge join."""
    from ai_log_analyzer_spark.functions import dedup as D
    docs = spark.range(3000).selectExpr(
        "id as doc_id", "concat('t', id % 700) as text")
    plan = _plan(D.dup_size_histogram(docs))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, \
        plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan
