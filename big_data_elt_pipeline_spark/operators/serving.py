"""Serving-view operators (SURVEY.md §2.4 A4/A7/A9, §2.5 W1/W3, §2.6).

The reference computes these in its Mongo publisher
(``serving_mongo/publish_gold_to_mongo.py:111-169``) and Flask repository
(``serving_api/repository.py:26-82``); in a Spark-native engine they are
first-class DataFrame plans over the gold tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions.core import (
    bucketize,
    fixed_sum,
    money_sum,
    safe_div,
)


def bounded_sort(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Total order for a result that is bounded by a dimension key.

    Only for outputs with at most one row per calendar day/week/month,
    country, product, segment or histogram bucket: rows that few fit one
    task, so ``coalesce(1)`` + ``sortWithinPartitions`` orders them with
    no range-sampling job and no range exchange, and leaves a single
    sorted partition that an unpartitioned window can consume as is. A
    result that grows with the fact table (one row per client or
    purchase) must keep a global ``orderBy``.
    """
    return df.coalesce(1).sortWithinPartitions(*cols)


def build_daily(fact: DataFrame) -> DataFrame:
    """A4 daily: revenue + order count per calendar day."""
    return bounded_sort(
        fact.filter(F.col("date_achat").isNotNull())
        .groupBy(F.date_format("date_achat", "yyyy-MM-dd").alias("jour"))
        .agg(money_sum("montant", "ca"), F.count("id_achat").alias("achats")),
        "jour",
    )


def build_weekly(fact: DataFrame) -> DataFrame:
    """A4 weekly: pandas ``to_period("W").start_time`` weeks start Monday;
    ``date_trunc('week', ...)`` is also Monday-anchored — compatible."""
    return bounded_sort(
        fact.filter(F.col("date_achat").isNotNull())
        .groupBy(F.date_format(F.date_trunc("week", F.col("date_achat")), "yyyy-MM-dd").alias("semaine"))
        .agg(money_sum("montant", "ca"), F.count("id_achat").alias("achats")),
        "semaine",
    )


def distribution_bounds(fact: DataFrame, col: str = "montant") -> tuple[float, float]:
    """Global min/max for histogram edges — one aggregate action (parquet
    footer stats can serve it)."""
    row = fact.agg(F.min(col).alias("mn"), F.max(col).alias("mx")).first()
    return float(row["mn"]), float(row["mx"])


def _round_frac(x: float, precision: int) -> float:
    """pandas' ``_round_frac``: round to ``precision`` significant digits of
    the fractional part when |x| < 1, else ``precision`` decimal digits.
    Reimplemented from public pandas behavior (pandas.core.reshape.tile)."""
    import numpy as np

    if not np.isfinite(x) or x == 0:
        return x
    frac, whole = np.modf(x)
    if whole == 0:
        digits = -int(np.floor(np.log10(abs(frac)))) - 1 + precision
    else:
        digits = precision
    return float(np.around(x, digits))


def interval_labels(mn: float, mx: float, bins: int, precision: int = 3) -> list[str]:
    """The exact ``(lo, hi]`` label strings ``pd.cut(x, bins)`` produces for
    data with the given min/max: linspace edges with the leftmost padded by
    0.1% of the range (right-closed), rounded at pandas' ADAPTIVE precision
    (the smallest >= ``precision`` that keeps all edges distinct), formatted
    with the shortest float repr — e.g. ``(10.49, 51.3]``, not
    ``(10.4900, 51.3000]``. Pure driver-side arithmetic on bins+1 scalars.
    """
    import numpy as np

    edges = np.linspace(mn, mx, bins + 1)
    edges[0] = mn - (mx - mn) * 0.001
    if len(set(edges.tolist())) != len(edges):
        # pandas contract: a span too narrow for distinct float64 edges
        # (e.g. mn/mx one ulp apart) is un-binnable — pd.cut raises the
        # same error on its identically-computed edge array.
        raise ValueError(f"Bin edges must be unique: {edges.tolist()}")
    for p in range(precision, 20):
        rounded = [_round_frac(float(b), p) for b in edges]
        if len(set(rounded)) == len(edges):
            break
    else:
        # unreachable for unique float64 edges (np.around at >=17 sig
        # digits is the identity) — keep the exact edges as a safety net
        rounded = [float(b) for b in edges]
    return [
        f"({np.float64(rounded[i])}, {np.float64(rounded[i + 1])}]" for i in range(bins)
    ]


def build_distribution(
    fact: DataFrame,
    bins: int = 12,
    bounds: tuple[float, float] | None = None,
    labels: bool = True,
) -> DataFrame:
    """A9 equal-width histogram of ``montant`` (``pd.cut(x, bins=12)``).

    Bucket assignment is a pure expression over driver-collected min/max
    scalars — no shuffle beyond the final tiny groupBy. With ``labels``,
    buckets get the exact pandas interval strings (adaptive precision, see
    ``interval_labels``) via an array-literal lookup.
    """
    mn, mx = bounds or distribution_bounds(fact)
    bucket = bucketize(F.col("montant"), mn, mx, bins)
    out = (
        # pd.cut drops missing values entirely — exclude SQL NULL and NaN
        # alike so neither emits a bucket=NULL row
        fact.filter(
            F.col("montant").isNotNull() & ~F.isnan(F.col("montant").cast("double"))
        )
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("count"))
    )
    if labels:
        arr = F.array(*[F.lit(s) for s in interval_labels(mn, mx, bins)])
        out = out.withColumn("bucket_label", F.element_at(arr, F.col("bucket") + 1))
    return bounded_sort(out, "bucket")


def build_monthly_growth(ca_monthly: DataFrame) -> DataFrame:
    """W1: month-over-month lag with null/zero-guarded growth pct.

    The window is unpartitioned but the input is one row per month —
    dimension-sized by construction, so a single-task sort is correct even
    at 100 TB of fact data. On ``aggregate_sales``' single sorted
    partition the window needs no exchange and no sort of its own.
    """
    w = Window.orderBy("mois")
    prev = F.lag("ca", 1).over(w)
    return bounded_sort(
        ca_monthly.select("mois", "ca")
        .withColumn("prev_ca", prev)
        .withColumn("growth_abs", F.col("ca") - F.col("prev_ca"))
        .withColumn(
            "growth_pct",
            F.when(
                F.col("prev_ca").isNotNull() & (F.col("prev_ca") != 0),
                F.col("growth_abs") / F.col("prev_ca"),
            ),
        ),
        "mois",
    )


def build_kpis(fact: DataFrame, scored: DataFrame | None = None) -> DataFrame:
    """A7 global KPIs in one aggregate per table (the reference's Mongo
    ``$addToSet``-then-len becomes ``countDistinct``)."""
    kpis = fact.agg(
        money_sum("montant", "total_ca"),
        F.count(F.lit(1)).alias("total_achats"),
        F.countDistinct("id_client").alias("total_clients"),
    ).withColumn("panier_moyen", safe_div(F.col("total_ca"), F.col("total_achats")))
    if scored is not None:
        # expected_value_12m is score-derived (not decimal-clean), so the
        # cross-engine-exact sum is fixed_sum, same idiom as
        # summarize_segments — see functions/core.py
        expected = scored.agg(fixed_sum("expected_value_12m", "expected_total"))
        kpis = kpis.crossJoin(F.broadcast(expected))
    return kpis


def top_k(df: DataFrame, order: list[tuple[str, bool]], k: int, tiebreak: str | None = None) -> DataFrame:
    """W3/O3/O4: deterministic top-K — multi-key mixed-direction sort plus a
    unique tie-break key so LIMIT is stable across engines and partitionings.
    Spark executes this as a TakeOrderedAndProject (per-partition top-K then
    merge) — no global sort materialization.
    """
    cols: list[Column] = [F.col(c).desc() if desc else F.col(c).asc() for c, desc in order]
    if tiebreak:
        cols.append(F.col(tiebreak).asc())
    return df.orderBy(*cols).limit(k)


def sort_spec(df: DataFrame, spec: str | None, limit: int | None = None) -> DataFrame:
    """O5: parse an API-style ``"field:asc|desc"`` sort spec (the Flask
    repository's query contract, ``serving_api/repository.py:15-23``)."""
    out = df
    if spec:
        field, _, direction = spec.partition(":")
        if field not in df.columns:
            raise ValueError(f"unknown sort field {field!r}")
        out = out.orderBy(F.col(field).desc() if direction == "desc" else F.col(field).asc())
    if limit is not None:
        out = out.limit(limit)
    return out
