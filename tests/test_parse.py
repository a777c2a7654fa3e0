"""Spark parse stage (operators/parse.py): the id-only parse is one
Arrow-batched Matcher UDF for every catalog, per-row equal to the
in-process Matcher, plus the worker/driver catalog caches."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ai_log_analyzer_spark.catalog import Matcher, from_rows
from ai_log_analyzer_spark.operators import parse as parse_op
from ai_log_analyzer_spark.sources import pages as pages_src


@pytest.fixture(scope="module")
def grammar_catalog(oracle_result):
    # the conftest catalog: 2000 grammar pages, ~114 templates
    return oracle_result.catalog


def test_parse_ids_is_one_arrow_udf(spark, pages_df, grammar_catalog):
    """Small catalogs take the same path as large ones: exactly one
    ArrowEvalPython node running the Matcher UDF."""
    assert len(grammar_catalog) <= 200
    pages = pages_src.pages_to_spark(spark, pages_df)
    plan = (parse_op.parse_template_ids(pages, grammar_catalog)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("ArrowEvalPython") == 1


def test_matched_parse_ids_runs_the_udf_once(spark, pages_df, grammar_catalog):
    """The dead-letter filter of ``matched`` must not be pushed below the
    parse: one ArrowEvalPython feeds both the filter and the ids."""
    pages = pages_src.pages_to_spark(spark, pages_df)
    plan = (parse_op.matched(parse_op.parse_template_ids(pages, grammar_catalog))
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("ArrowEvalPython") == 1, plan


def test_dead_letter_and_whitespace_quirks(spark, grammar_catalog):
    """Unknown shapes → NULL; leading/trailing/inner whitespace follow
    the Matcher's anchored-regex quirks (one trailing \\n is tolerated,
    other edge whitespace dead-letters) — the Spark UDF must give the
    in-process Matcher's ids row for row."""
    texts = [
        "zzz never a template shape 123 !!!",
        "",
        "   ",
        " Interface eth0 link down",           # leading space
        "Interface eth0  link   down",         # inner runs
        "Interface eth0 link down ",           # trailing space
        "Connection from 10.0.0.1 port 80 closed",
        "Interface eth0 link down\n",          # trailing non-space
        "Interface eth0 link down\t",
        "Interface eth0 link down \n ",
        "\nInterface eth0 link down",          # leading newline
        "\t\n ",                               # all-whitespace
    ]
    df = (spark.createDataFrame(list(enumerate(texts)), ["seq_no", "text"])
          .withColumn("host", F.lit("h")).withColumn("url", F.lit("u"))
          .withColumn("lang", F.lit("en"))
          .withColumn("warc_ts", F.current_timestamp()))
    got = (parse_op.parse_template_ids(df, grammar_catalog)
           .select("seq_no", "template_id").toPandas()
           .sort_values("seq_no")["template_id"].reset_index(drop=True))
    exp = Matcher(from_rows(grammar_catalog)).match_ids(pd.Series(texts))
    assert got.isna().tolist() == exp.isna().tolist()
    assert got[exp.notna()].astype("int64").tolist() == \
        exp[exp.notna()].astype("int64").tolist()
    assert got.isna()[[0, 1, 2, 11]].all()     # dead letters are NULL
    assert got.notna().sum() >= 2              # and real lines match


def test_catalog_token_is_content_keyed(grammar_catalog):
    """The matcher/broadcast cache key is a CONTENT fingerprint: equal
    catalogs (even distinct objects / permuted rows) share a token, so
    repeat parses hit the worker-side Matcher; any change to what the
    Matcher consumes produces a fresh token."""
    t1 = parse_op._catalog_token(grammar_catalog)
    t2 = parse_op._catalog_token(
        grammar_catalog.sample(frac=1.0, random_state=7))  # permuted copy
    assert t1 == t2
    mutated = grammar_catalog.copy()
    mutated.loc[mutated.index[0], "template"] = "something <:NAME:> else"
    assert parse_op._catalog_token(mutated) != t1


def test_broadcast_cache_reuses_and_evicts(spark, grammar_catalog):
    sc = spark.sparkContext
    tok = parse_op._catalog_token(grammar_catalog)
    b1 = parse_op._broadcast_for(sc, tok, grammar_catalog)
    b2 = parse_op._broadcast_for(sc, tok, grammar_catalog)
    assert b1 is b2
    # overflow the LRU: the original entry is evicted and a fresh
    # request re-broadcasts instead of returning a dead handle
    for i in range(parse_op._MATCHER_CACHE_CAP):
        parse_op._broadcast_for(sc, f"{tok}-fill{i}", grammar_catalog)
    b3 = parse_op._broadcast_for(sc, tok, grammar_catalog)
    assert b3 is not b1
    assert (b3.value["template_id"] == grammar_catalog["template_id"]).all()
