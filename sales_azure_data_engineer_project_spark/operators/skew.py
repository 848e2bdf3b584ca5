"""Skew mitigation utilities.

AQE's skew-join splitting (enabled in ``session.py``) handles most
runtime skew; this helper covers the pattern AQE can't fix: a hot
groupBy key that funnels into one reducer (**salted aggregation**).
Two-phase: pre-aggregate on (key, salt) — map-side combine already
shrinks it — then final-aggregate on key.  Exact for decomposable
aggregates (sum/count/min/max).

Salts are deterministic (hash of a caller-chosen unique column, pmod
buckets) so results are reproducible run-to-run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_sum"]


def _salt(unique_col: str, buckets: int) -> Column:
    return F.pmod(F.xxhash64(F.col(unique_col)), F.lit(buckets)).cast("int")


def salted_sum(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, str],
    *,
    salt_from: str,
    buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-safe grouped sum: ``sums`` maps input column →
    output alias.  Equivalent to ``df.groupBy(keys).sum(...)`` for any
    decomposable aggregate, but the heavy shuffle carries (key, salt)."""
    salted = df.withColumn("__salt", _salt(salt_from, buckets))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[F.sum(c).alias(a) for c, a in sums.items()]
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(a).alias(a) for a in sums.values()]
    )

