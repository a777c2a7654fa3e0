"""Spark parse stage: broadcast frozen catalog → vectorized batch match.

The north star's core re-expression: drain3's per-line ``match`` +
``extract_parameters`` (/root/reference/ailoganalyzer/dataset/
template_miner.py:59-66) becomes ONE scalar ``pandas_udf`` over Arrow
record batches, calling the same ``catalog.Matcher`` kernel the oracle
uses — no per-row Python UDF calls.

Scale design:
- ONLY the ``text`` column crosses the JVM↔Python Arrow boundary; url/
  timestamps/keys never leave the JVM (a struct-returning scalar UDF,
  not a full-frame mapInPandas — measured ~2x less Arrow traffic).
- the parse output carries no derivable columns: ``params`` is
  recoverable by splitting ``extracted_text`` on PARAM_SEP and
  ``mask_names`` lives in the broadcast catalog keyed by template_id.
- the catalog is broadcast (KBs); matching is map-side only — zero
  shuffle in this stage; callers' column pruning keeps the fat ``html``
  out of the scan.
- unmatched rows keep ``template_id = NULL`` in the parsed output
  instead of crashing (reference fix, SURVEY.md §7); ``matched`` drops
  them before scoring.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

PARSE_INPUT_COLS = ["url", "warc_ts", "lang", "host", "seq_no", "text"]

_RESULT = T.StructType([
    T.StructField("template_id", T.LongType(), True),
    T.StructField("extracted_text", T.StringType(), True),
])

# per-PYTHON-WORKER-PROCESS matcher cache: Matcher(from_rows(...)) is
# O(catalog cardinality) (~0.4 s at 5k templates) and the UDF closure
# re-runs per TASK — without this, a 10k-task stage pays it 10k times.
# Keyed by a CONTENT fingerprint of the catalog (not a per-call uuid):
# two parse calls over the same frozen catalog — repeated driver
# queries, streaming restarts, the fit-offline production shape — hit
# the same worker-side Matcher WITH its memoized masked-form cache,
# instead of rebuilding and re-matching cold every call (measured:
# 5.0 s → 1.2 s for a repeat parse of 5k rows × 5k templates at
# local[32]).  Bounded LRU so long-lived workers serving many catalogs
# don't accumulate.
_MATCHER_CACHE: dict[str, object] = {}
_MATCHER_CACHE_CAP = 4


def _catalog_token(catalog_rows: pd.DataFrame) -> str:
    """Deterministic fingerprint of everything the Matcher consumes
    (template_id, template tokens, token_count, extract regex — see
    catalog.from_rows).  ~ms at 5k templates; collisions would need an
    md5 collision between catalog serializations."""
    import hashlib
    cols = [c for c in ("template_id", "template", "token_count", "regex")
            if c in catalog_rows.columns]
    # r6: vectorized per-row hash + sort instead of a full to_csv
    # render (~0.4 s per parse call at a 50k-template catalog, ~10 ms
    # now); sorting the row hashes keeps the token row-order-free, so
    # permuted-but-equal catalogs still share a worker-side Matcher.
    rh = pd.util.hash_pandas_object(catalog_rows[cols],
                                    index=False).to_numpy()
    rh.sort()
    return hashlib.md5(rh.tobytes()).hexdigest()


# driver-side broadcast cache, same key: re-broadcasting an identical
# multi-MB catalog per call re-ships it to every executor; evicted
# entries are unpersisted.  applicationId in the key guards against a
# Broadcast outliving its SparkContext across test sessions.
_BC_CACHE: dict[str, object] = {}


def cached_broadcast(cache: dict, sc, key: str, make):
    """The broadcast of ``make()`` kept in ``cache`` under ``key`` for
    this SparkContext, built on the first call only.  PySpark keeps each
    broadcast's pickle file on the driver until ``destroy()``, so a fresh
    broadcast per call of an unchanged value leaks one file per call.
    At most ``_MATCHER_CACHE_CAP`` entries; the oldest is unpersisted
    (not destroyed: a plan built earlier may still read it)."""
    key = f"{sc.applicationId}:{key}"
    bc = cache.get(key)
    if bc is None:
        while len(cache) >= _MATCHER_CACHE_CAP:
            old = cache.pop(next(iter(cache)))  # FIFO, oldest first
            try:
                old.unpersist(blocking=False)
            except Exception:  # noqa: BLE001 — stopped context
                pass
        bc = cache[key] = sc.broadcast(make())
    return bc


def _broadcast_for(sc, token: str, catalog_rows: pd.DataFrame):
    return cached_broadcast(_BC_CACHE, sc, token, lambda: catalog_rows)


def _cached_matcher(token: str, bc):
    from ..catalog import Matcher, from_rows
    m = _MATCHER_CACHE.get(token)
    if m is None:
        if len(_MATCHER_CACHE) >= _MATCHER_CACHE_CAP:
            _MATCHER_CACHE.pop(next(iter(_MATCHER_CACHE)))
        m = Matcher(from_rows(bc.value))
        _MATCHER_CACHE[token] = m
    return m


def parse_pages(pages: DataFrame, catalog_rows: pd.DataFrame) -> DataFrame:
    """pages (any superset of PARSE_INPUT_COLS) → PARSED rows
    (url, warc_ts, lang, host, seq_no, template_id, extracted_text)."""
    sc = pages.sparkSession.sparkContext
    token = _catalog_token(catalog_rows)
    bc = _broadcast_for(sc, token, catalog_rows)

    @pandas_udf(_RESULT)
    def _parse(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        matcher = _cached_matcher(token, bc)     # once per worker PROCESS
        for text in batches:
            # with_params=False: params/mask_names are derivable columns
            # (split extracted_text / catalog lookup) — skip the per-row
            # object churn in the hot path
            m = matcher.match_frame(text, with_params=False)
            yield pd.DataFrame({
                "template_id": m["template_id"].astype(object).where(
                    m["template_id"].notna(), None),
                "extracted_text": m["extracted_text"],
            })

    # SQL strings over ``F.*`` column functions: fewer py4j round trips per
    # build (see windows.window_score_grouped)
    return (pages
            .select("url", "warc_ts", "lang", "host", "seq_no",
                    _parse("text").alias("_p"))
            .selectExpr("url", "warc_ts", "lang", "host", "seq_no",
                        "_p.template_id AS template_id",
                        "_p.extracted_text AS extracted_text"))


# perfbench/worker.py reports it; drop at the next benchmark revision
JVM_PARSE_MAX_TEMPLATES = 0


def jvm_parse_eligible(catalog_rows: pd.DataFrame) -> bool:
    # perfbench/worker.py reports it; drop at the next benchmark revision
    return False


def parse_template_ids(pages: DataFrame, catalog_rows: pd.DataFrame) -> DataFrame:
    """Projection-pushdown parse for the windows→score branch: same
    decision rule as ``parse_pages`` (equality pinned by
    tests/test_engine_parity.py) but emits ONLY template_id.
    Parameter extraction never runs and no strings cross Arrow back to
    the JVM — 8 bytes/row instead of ~100 (round-1 verdict: reduce
    bytes/doc through the memory-bandwidth-bound stages).  Use when the
    consumer prunes extracted_text (scoring, counting, routing on
    severity); sinks that persist extracted text use ``parse_pages``.
    One Arrow-batched Matcher UDF for every catalog size: the worker-side
    form memo makes its cost independent of catalog cardinality."""
    sc = pages.sparkSession.sparkContext
    token = _catalog_token(catalog_rows)
    bc = _broadcast_for(sc, token, catalog_rows)

    @pandas_udf(T.LongType())
    def _match(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        matcher = _cached_matcher(token, bc)
        for text in batches:
            yield matcher.match_ids(text)

    # Nondeterministic is PySpark's documented guard against the
    # optimizer duplicating a UDF: without it a ``template_id IS NOT
    # NULL`` filter (``matched``, the stream's dead-letter filter) is
    # pushed below this projection and the plan runs the Matcher twice
    # per row, once for the Filter and once for the Project.  The ids
    # themselves are a pure function of (text, catalog).
    return pages.select("url", "warc_ts", "lang", "host", "seq_no",
                        _match.asNondeterministic()("text")
                        .alias("template_id"))


def matched(parsed: DataFrame) -> DataFrame:
    return parsed.filter("template_id IS NOT NULL")

