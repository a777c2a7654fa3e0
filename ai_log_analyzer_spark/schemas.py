"""Fixed explicit StructType schemas for every stage boundary.

One module so pandas-UDF return schemas, parquet layouts, and test
assertions never drift (SURVEY.md §1 "Schema system").
"""

from pyspark.sql import types as T

PAGES = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), False),
    T.StructField("lang", T.StringType(), True),
    T.StructField("host", T.StringType(), False),
    T.StructField("seq_no", T.LongType(), False),
])

# output of operators/parse.parse_pages — no derivable columns: params
# = split(extracted_text, PARAM_SEP); mask_names live in the catalog
PARSED = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("lang", T.StringType(), True),
    T.StructField("host", T.StringType(), False),
    T.StructField("seq_no", T.LongType(), False),
    T.StructField("template_id", T.LongType(), True),   # NULL = dead-letter
    T.StructField("extracted_text", T.StringType(), True),
])

# template catalog (frozen output of fit; D2/D13 in SURVEY.md §1)
CATALOG = T.StructType([
    T.StructField("template_id", T.LongType(), False),
    T.StructField("template", T.StringType(), False),
    T.StructField("token_count", T.IntegerType(), False),
    T.StructField("regex", T.StringType(), False),
    T.StructField("example", T.StringType(), True),
    T.StructField("freq", T.LongType(), False),
])

# per-partition partial catalogs emitted by the distributed fit
FIT_PARTIAL = T.StructType([
    T.StructField("template", T.StringType(), False),
    T.StructField("count", T.LongType(), False),
    T.StructField("example", T.StringType(), True),
])

SCORED = T.StructType([
    T.StructField("host", T.StringType(), False),
    T.StructField("seq_no", T.LongType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("template_id", T.LongType(), False),
    T.StructField("label_id", T.LongType(), False),
    T.StructField("anomaly_score", T.DoubleType(), False),
    T.StructField("is_anomaly", T.BooleanType(), False),
])
