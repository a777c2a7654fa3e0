"""Distributed template fit: per-partition local Drain + canonical merge.

The reference's fit is inherently sequential (one ``add_log_message`` per
line, /root/reference/ailoganalyzer/dataset/template_miner.py:43-48).
Distribution strategy (SURVEY.md §7 hard-part 1):

  pages ──(sortWithinPartitions warc_ts,url)──► mapInPandas(local fit)
        ──(collect ~KB of partial-template rows)──► driver canonical_refit
        ──► frozen catalog (parquet snapshot, written by the driver)

Each partition runs the SAME online Drain the oracle runs, over its own
slice in canonical (warc_ts, url) order; partial catalogs (template
string, count, example — a few hundred rows, independent of data size)
merge deterministically on the driver.  At 100 TB the collect stays tiny
because partials scale with *template cardinality*, not row count; the
fit pass itself is embarrassingly parallel and can run on a sample
(``sample_fraction``) since the merge dedupes.

The merged catalog already lives on the driver, so ``write_catalog``
writes the snapshot there with pyarrow: one ``part-00000-*.parquet``
file with the ``schemas.CATALOG`` columns and types, and no Spark job.
``read_catalog`` reads it back through Spark with the declared schema.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Iterator, List

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from .. import schemas
from ..catalog import CatalogEntry, fit_local, freeze, to_rows
from ..drain import canonical_refit


def _fit_partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Local fit over the partition's DISTINCT MASKED lines (sorted,
    with multiplicities).  Log data is Zipfian, so distinct masked forms
    ≪ raw lines — this turns the per-line Python loop into a per-form
    loop (10-100× less work) AND makes the fit order-canonical within
    the partition (no arrival-order dependence at all)."""
    from .. import masking
    from ..drain import Drain

    # memory safeguard for TB-scale partitions: when the distinct-form
    # dict exceeds the cap, flush it into the tree and start a fresh
    # dict — templates stay bounded by catalog cardinality even when
    # masked forms are high-cardinality
    FORM_CAP = 500_000
    counts: dict[str, int] = {}
    tree = Drain()

    def _flush():
        for form in sorted(counts):
            tree.add(form, count=counts[form])
        counts.clear()

    for pdf in batches:
        masked = masking.mask_series(pdf["text"])
        for form, c in masked.value_counts().items():
            counts[form] = counts.get(form, 0) + int(c)
        if len(counts) > FORM_CAP:
            _flush()
    _flush()
    if tree.clusters:
        yield pd.DataFrame({
            "template": [c.template for c in tree.clusters],
            "count": pd.array([c.count for c in tree.clusters], dtype="int64"),
            "example": [c.example for c in tree.clusters],
        })


def fit_catalog(pages: DataFrame, sample_fraction: float | None = None,
                seed: int = 7) -> pd.DataFrame:
    """Returns the frozen catalog as CATALOG-schema pandas rows."""
    src = pages.select("text")
    if sample_fraction is not None and sample_fraction < 1.0:
        src = src.sample(fraction=sample_fraction, seed=seed)
    partial_df = src.mapInPandas(_fit_partial, schema=schemas.FIT_PARTIAL)
    partials = [(r["template"], int(r["count"]), r["example"])
                for r in partial_df.collect()]
    tree = canonical_refit(partials)
    return to_rows(freeze(tree))


_CATALOG_ARROW = to_arrow_schema(schemas.CATALOG)


def write_catalog(catalog_rows: pd.DataFrame, path: str):
    """Replace the snapshot dir ``path`` with one parquet file of
    ``catalog_rows``, written by the driver.  The file is named like a
    Spark task's part file (task 0), so lineage counts it as one writing
    task, and it stays hidden until complete."""
    table = pa.Table.from_pandas(catalog_rows[_CATALOG_ARROW.names],
                                 schema=_CATALOG_ARROW, preserve_index=False)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    name = f"part-00000-{uuid.uuid4()}-c000.snappy.parquet"
    tmp = os.path.join(path, "." + name)
    pq.write_table(table.replace_schema_metadata(None), tmp)
    os.replace(tmp, os.path.join(path, name))


def read_catalog(spark: SparkSession, path: str) -> pd.DataFrame:
    # declared schema: an inferred read costs one more Spark job
    return spark.read.schema(schemas.CATALOG).parquet(path).toPandas() \
        .sort_values("template_id") \
        .reset_index(drop=True)
