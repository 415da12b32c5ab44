"""Skew mitigation for hot aggregation keys.

Joins get skew handling for free here (AQE ``skewJoin`` is enabled in the
session factory, splitting oversized partitions at runtime), but a groupBy
whose key distribution is pathological (one tenant = 30% of 100 TB) still
funnels one key into one task. ``salted_agg`` breaks the funnel with a
deterministic two-stage aggregate:

  stage 1: group by (key, salt) — the hot key fans out over ``n_salt``
           tasks, partial aggregates stay map-side combinable;
  stage 2: re-aggregate by key — input is now ≤ n_salt rows per key.

The salt is ``xxhash64`` of the whole row (content-deterministic, no
``rand()``): identical inputs always salt identically, so results are
reproducible and retry-safe — and the exact-decimal money sums stay
bit-identical to the unsalted plan because decimal addition is associative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions.core import MONEY_DECIMAL


def salted_money_sum(
    df: DataFrame,
    key: str | list[str],
    value_col: str,
    n_salt: int = 16,
    alias: str = "total",
) -> DataFrame:
    """Exact decimal SUM per key, salted across ``n_salt`` partial groups."""
    keys = [key] if isinstance(key, str) else list(key)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(
            F.sum(F.col(value_col).cast(MONEY_DECIMAL)).alias("__psum"),
            F.count(F.lit(1)).alias("__pcnt"),
        )
    )
    return (
        partial.groupBy(*keys)
        .agg(
            F.sum("__psum").cast("double").alias(alias),
            F.sum("__pcnt").alias(f"{alias}_count"),
        )
    )


def salted_count_distinct(
    df: DataFrame, key: str, distinct_col: str, n_salt: int = 16, alias: str = "n_distinct"
) -> DataFrame:
    """countDistinct per hot key without funneling: stage 1 dedups
    (key, value) pairs across salted groups, stage 2 counts."""
    salt = F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(n_salt))
    pairs = (
        df.select(key, distinct_col)
        .withColumn("__salt", salt)
        .groupBy(key, "__salt", distinct_col)
        .agg(F.lit(1).alias("__one"))
    )
    return pairs.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias(alias))
