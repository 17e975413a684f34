"""Deterministic (hash-gated) sampling for training-data curation.

Sampling a 100 TB corpus must be (a) a narrow filter — no shuffle, no
global coordination, pushdown-friendly — and (b) reproducible across
engines and runs, so a rerun or an audit selects byte-identical rows.
Both come from gating on a cryptographic hash of a stable key instead
of an RNG: keep a row iff the first 60 bits of sha256(key:salt),
taken mod 1e6, fall under rate·1e6. The same expression is exactly
computable in DuckDB (oracle twin in __spark_entry__.oracle_sql()),
unlike engine-native hash() or rand().

No reference counterpart in rustac; north-rule training-data-pipeline
operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_DENOM = 1_000_000


def sample_bucket(key: Column, salt: str = "") -> Column:
    """Uniform bucket in [0, 1e6) from the first 15 hex chars (60
    bits) of sha256(key || ':' || salt). Pure Column; matches
    DuckDB's CAST('0x' || substr(sha256(..), 1, 15) AS BIGINT)."""
    h = F.sha2(F.concat(key.cast("string"), F.lit(":" + salt)), 256)
    return (F.conv(F.substring(h, 1, 15), 16, 10)
            .cast("bigint") % _DENOM)


def stratified_sample(df: DataFrame, key_col: str, strata_col: str,
                      rates: dict[str, float], default_rate: float = 0.0,
                      salt: str = "") -> DataFrame:
    """Per-stratum hash sampling: stratum s keeps ≈rates[s] of its
    rows. Still a narrow filter — the per-stratum threshold is a CASE
    expression, so skewed strata cost nothing extra."""
    thresh = F.lit(int(default_rate * _DENOM))
    for value, rate in sorted(rates.items()):
        thresh = F.when(F.col(strata_col) == value,
                        F.lit(int(rate * _DENOM))).otherwise(thresh)
    return df.where(sample_bucket(F.col(key_col), salt) < thresh)
