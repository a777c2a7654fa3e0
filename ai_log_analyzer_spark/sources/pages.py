"""Pages table source/sink (FIXTURES.md F1).

Parquet layout with explicit url-hash bucketing (north rule: "explicit
partitioning").  Iceberg jars are unavailable offline (checked at
session start — no iceberg-* in the pyspark jar dir), so the documented
fallback applies: parquet + a manifest file, same physical layout
(``bucket=N/`` directories ≙ ``PARTITIONED BY (bucket(N, url))``).
The parse stage reads bucket-aligned — no shuffle before parse.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import grammar, schemas

N_BUCKETS = 32


def pages_to_spark(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """Generator pandas frame → Spark DF with the PAGES schema (ground
    truth columns dropped — the engine never sees them)."""
    cols = [f.name for f in schemas.PAGES.fields]
    return spark.createDataFrame(pdf[cols], schema=schemas.PAGES)


def write_pages(df: DataFrame, path: str, n_buckets: int = N_BUCKETS):
    (df.withColumn("bucket", F.pmod(F.hash("url"), F.lit(n_buckets)))
       .repartition(n_buckets, "bucket")
       .write.mode("overwrite").partitionBy("bucket").parquet(path))


def generate_and_write(spark: SparkSession, path: str, n_rows: int,
                       seed: int = grammar.SEED, n_buckets: int = N_BUCKETS,
                       n_hosts: int | None = None):
    """Deterministic synthetic pages table at any scale, generated
    DISTRIBUTED: row i's content is a pure function of (seed, i)
    (grammar.render_rows), so the corpus is identical regardless of
    partitioning or cluster size — and generation parallelizes."""
    import pandas as pd

    if n_hosts is None:
        # realistic series-key cardinality: windows shuffle on host, so
        # hosts must comfortably exceed core count (web scale: millions)
        n_hosts = max(16, min(4096, n_rows // 4000))

    def _gen(batches):
        for pdf in batches:
            yield grammar.render_rows(pdf["id"].to_numpy(), seed=seed,
                                      n_hosts=n_hosts)

    parts = max(spark.sparkContext.defaultParallelism, n_buckets)
    df = (spark.range(n_rows).repartition(parts)
          .mapInPandas(_gen, schema=schemas.PAGES))
    (df.withColumn("bucket", F.pmod(F.hash("url"), F.lit(n_buckets)))
       .repartition(n_buckets, "bucket")
       .write.mode("overwrite").partitionBy("bucket").parquet(path))
