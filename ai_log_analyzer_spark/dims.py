"""Enrichment dimension tables (FIXTURES.md F4; SURVEY.md O23).

Tiny, frozen, code-defined: lang family/weight, tld region/risk.  The
template-frequency dim derives from the catalog at fit time.  The Spark
enrich (operators/enrich.py) ships all three inside its projection as
Catalyst literals — never joined, never shuffled; the oracle left-joins
the same frames.
"""

from __future__ import annotations

import pandas as pd

LANG_DIM = pd.DataFrame({
    "lang": ["en", "fr", "es", "de", "zh"],
    "lang_family": ["germanic", "romance", "romance", "germanic", "sinitic"],
    "lang_weight": [1.0, 0.8, 0.8, 0.9, 0.7],
})

TLD_DIM = pd.DataFrame({
    "tld": ["com", "org", "net", "de", "fr", "cn"],
    "tld_region": ["global", "global", "global", "eu", "eu", "apac"],
    "tld_risk": [0.1, 0.1, 0.2, 0.05, 0.05, 0.3],
})

TLD_REGEX = r"^https?://[^/]*\.([a-z]+)(?:[:/]|$)"


def tmpl_freq_dim(catalog_rows: pd.DataFrame) -> pd.DataFrame:
    """(template_id, freq, freq_rank) — the reference's template counter
    (dataset.py:56-58) keyed by stable id instead of mutable string."""
    df = catalog_rows[["template_id", "freq"]].copy()
    df["freq_rank"] = df["freq"].rank(method="first", ascending=False).astype("int32")
    return df
