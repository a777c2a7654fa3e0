"""Lookup enrichment as one projection (SURVEY.md O23; north rule
"lookup enrich").

All three dimensions are tiny and frozen, so they travel inside the
plan as Catalyst literals instead of as joined tables: no join, no
exchange, no broadcast job, one ``select`` over the parse.

- lang and tld: literal maps ``key -> struct``, read with
  ``try_element_at`` (a missing or NULL key gives NULL, as the left
  joins did; ``element_at`` would raise under ANSI mode).
- template frequency: two literal arrays indexed by ``template_id``
  (ids are dense ``[0, C)``), read with the 0-based ``get``, which gives
  NULL for a NULL or out-of-range id.  Not a ``C``-entry map:
  ``GetMapValue`` scans the keys, so each row would cost O(C).

Each literal is ONE ``from_json`` over one JSON string, which the
optimizer folds into a single literal: building the expression costs
O(1) py4j calls at any catalog size (a per-entry ``F.lit`` costs one
call per entry).  The tld is a Catalyst ``regexp_extract``; a url that
does not match ``dims.TLD_REGEX`` has tld NULL.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import dims

# output column order of the enriched table
_COLUMNS = ["template_id", "tld", "lang", "url", "warc_ts", "host", "seq_no",
            "extracted_text", "lang_family", "lang_weight", "tld_region",
            "tld_risk", "freq", "freq_rank"]


def _literal(value, ddl: str) -> Column:
    """``value`` as one folded Catalyst literal of type ``ddl``."""
    return F.from_json(F.lit(json.dumps(value)), ddl)


def _dim_map(dim: pd.DataFrame, key: str, ddl: str) -> Column:
    """A dimension table as a literal map ``key -> struct(other cols)``."""
    rows = dim.set_index(key).to_dict("index")
    return _literal(rows, f"map<string, struct<{ddl}>>")


def enrich(parsed: DataFrame, catalog_rows: pd.DataFrame) -> DataFrame:
    freq = dims.tmpl_freq_dim(catalog_rows).sort_values("template_id")
    ids = freq["template_id"].to_numpy()
    if not np.array_equal(ids, np.arange(len(ids))):
        raise ValueError("template ids are not dense [0, C)")
    lang = F.try_element_at(
        _dim_map(dims.LANG_DIM, "lang", "lang_family: string, lang_weight: double"),
        F.col("lang"))
    tld = F.nullif(F.regexp_extract("url", dims.TLD_REGEX, 1), F.lit(""))
    tld_row = F.try_element_at(
        _dim_map(dims.TLD_DIM, "tld", "tld_region: string, tld_risk: double"), tld)
    tid = F.col("template_id")
    cols = {
        "tld": tld,
        "lang_family": lang["lang_family"], "lang_weight": lang["lang_weight"],
        "tld_region": tld_row["tld_region"], "tld_risk": tld_row["tld_risk"],
        "freq": F.get(_literal(freq["freq"].tolist(), "array<bigint>"), tid),
        "freq_rank": F.get(_literal(freq["freq_rank"].tolist(), "array<int>"), tid),
    }
    return parsed.select([cols[c].alias(c) if c in cols else F.col(c)
                          for c in _COLUMNS])
