"""Gold-layer star-schema operators (SURVEY.md §2.3-2.4, §3.2-3.3).

Re-expression of the reference's analytical core
(``flows/gold_transformation.py:114-316``) as lazy DataFrame plans:
fact enrichment (J1), dim/feature aggregation (A1-A2, J2-J3), scoring
(A8, F6-F10), summaries (A3, A5-A6), cohort (J5/W2).

Scale design:
- The fact scalars (``fact_scalars``: reference date + histogram bounds)
  and every quantile/min-max threshold used by scoring are each collected
  in ONE ``agg`` action and injected as literals — the reference fires 4+
  separate driver actions (``flows_spark/gold_transformation_spark.py:125-142``);
  at 100 TB each extra action is a full scan.
- Outputs bounded by a dimension key sort in one partition
  (``serving.bounded_sort``), not through a range exchange.
- The fact table feeds many sinks; callers should ``persist()`` it once
  (the reference recomputes the scan+join lineage 9× — SURVEY §3.3).
- Day-difference semantics follow pandas (``(ref - d).days`` = floor of the
  true timedelta in days), implemented as integer floor-division on epoch
  seconds — exact, and identical in any engine.
- Exact percentiles (``F.percentile``), not ``approxQuantile``: correctness
  gate parity, and still a single-pass aggregate.
"""

from __future__ import annotations

import datetime as dt
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions.core import (
    clip,
    fixed_sum,
    minmax_norm,
    money_avg,
    money_sum,
    safe_div,
)
from big_data_elt_pipeline_spark.operators.serving import bounded_sort

HORIZON_DAYS = 365


def days_between(ref: Column, d: Column) -> Column:
    """pandas ``(ref - d).days``: floor of the signed difference in days.

    NOT Spark's ``datediff`` (which diffs calendar dates and would count a
    2-hour overnight gap as 1 day). Integer epoch math — exact and portable.
    """
    return F.floor((ref.cast("long") - d.cast("long")) / F.lit(86400)).cast("long")


def build_fact(achats: DataFrame, clients: DataFrame) -> DataFrame:
    """J1: enrich purchases with country; derive period keys (F3).

    ``clients`` is dimension-sized → broadcast hint so the join never
    shuffles the (huge) fact side.
    """
    dim = F.broadcast(clients.select("id_client", "pays"))
    return (
        achats.join(dim, "id_client", "left")
        .withColumn("pays", F.coalesce(F.col("pays"), F.lit("Inconnu")))
        .withColumn("mois", F.date_format("date_achat", "yyyy-MM"))
        .withColumn("jour", F.date_format("date_achat", "yyyy-MM-dd"))
        .withColumn("annee", F.year("date_achat").cast("int"))
        .select(
            "id_achat", "id_client", "date_achat", "montant", "produit",
            "pays", "jour", "mois", "annee",
        )
    )


def _checked_ref(ref: dt.datetime | None) -> dt.datetime:
    if ref is None:
        raise ValueError("no valid purchase dates — cannot derive reference date")
    return ref


def reference_date(fact: DataFrame) -> dt.datetime:
    """Dataset max purchase timestamp (``flows/gold_transformation.py:183``).
    One action; parquet footer stats can answer it without a full scan."""
    return _checked_ref(fact.agg(F.max("date_achat")).first()[0])


def fact_scalars(fact: DataFrame) -> tuple[dt.datetime, tuple[float, float]]:
    """``reference_date`` and the ``montant`` histogram bounds
    (``serving.distribution_bounds``) in ONE action over the fact."""
    ref, mn, mx = fact.agg(
        F.max("date_achat"), F.min("montant"), F.max("montant")
    ).first()
    return _checked_ref(ref), (float(mn), float(mx))


def build_dim_clients(clients: DataFrame, fact: DataFrame, ref: dt.datetime) -> DataFrame:
    """A1 + J2: per-client all-time aggregates joined onto the dimension."""
    agg = fact.groupBy("id_client").agg(
        F.min("date_achat").alias("first_purchase"),
        F.max("date_achat").alias("last_purchase"),
        F.count("id_achat").alias("total_orders"),
        money_sum("montant", "total_spend"),
        F.countDistinct("produit").alias("product_count"),
    )
    ref_lit = F.lit(ref)
    return (
        clients.join(agg, "id_client", "left")
        .withColumn(
            "recency_days",
            F.coalesce(days_between(ref_lit, F.col("last_purchase")), F.lit(HORIZON_DAYS).cast("long")),
        )
        .withColumn(
            "tenure_days",
            F.coalesce(days_between(ref_lit, F.col("date_inscription").cast("timestamp")), F.lit(0).cast("long")),
        )
        .na.fill({"total_orders": 0, "total_spend": 0.0, "product_count": 0})
        .withColumn("avg_order_value", safe_div(F.col("total_spend"), F.col("total_orders")))
        .select(
            "id_client", "nom", "email", "pays", "date_inscription",
            "first_purchase", "last_purchase", "recency_days", "tenure_days",
            "total_orders", "total_spend", "avg_order_value", "product_count",
        )
    )


def build_client_features(
    fact: DataFrame,
    clients: DataFrame,
    ref: dt.datetime,
    horizon_days: int = HORIZON_DAYS,
) -> DataFrame:
    """A2 + A1 + J3: 365-day-window and all-time per-client aggregates.

    Single shuffle: both aggregates group on ``id_client``, and the window
    aggregate is a conditional aggregate over the same pass (``sum(case
    when in_window ...)``) instead of a second scan + second join.
    """
    ref_lit = F.lit(ref)
    window_start = ref - dt.timedelta(days=horizon_days)
    in_win = F.col("date_achat") >= F.lit(window_start)
    win = F.when(in_win, F.col("montant"))

    agg = fact.groupBy("id_client").agg(
        F.count(F.when(in_win, F.lit(1))).alias("freq_12m"),
        F.coalesce(money_sum(win), F.lit(0.0)).alias("monetary_12m"),
        F.coalesce(money_avg(win), F.lit(0.0)).alias("monetary_avg_12m"),
        F.countDistinct(F.when(in_win, F.col("produit"))).alias("product_diversity_12m"),
        F.max("date_achat").alias("last_purchase"),
        F.min("date_achat").alias("first_purchase"),
        F.count("id_achat").alias("total_orders_all"),
        money_sum("montant", "total_spend_all"),
    )
    base = clients.select("id_client").distinct()
    return (
        base.join(agg, "id_client", "left")
        .na.fill({
            "freq_12m": 0, "monetary_12m": 0.0, "monetary_avg_12m": 0.0,
            "product_diversity_12m": 0, "total_orders_all": 0, "total_spend_all": 0.0,
        })
        .withColumn(
            "recency_days",
            F.coalesce(days_between(ref_lit, F.col("last_purchase")), F.lit(horizon_days).cast("long")),
        )
        .withColumn(
            "tenure_days",
            F.coalesce(days_between(ref_lit, F.col("first_purchase")), F.lit(0).cast("long")),
        )
        .withColumn("avg_order_value_all", safe_div(F.col("total_spend_all"), F.col("total_orders_all")))
        .withColumn("reference_date", F.date_trunc("day", ref_lit))
        .select(
            "id_client", "freq_12m", "monetary_12m", "monetary_avg_12m",
            "product_diversity_12m", "last_purchase", "first_purchase",
            "recency_days", "tenure_days", "total_orders_all",
            "total_spend_all", "avg_order_value_all", "reference_date",
        )
    )


class ScoreThresholds(NamedTuple):
    """Scalar thresholds for scoring — ONE aggregate action computes all.

    min/max of the *clipped* series are derived algebraically from raw
    min/max (clip-upper can only lower the max; clip-lower only raise the
    min), so no second pass over the data is needed.
    """

    freq_min: float
    freq_max: float
    freq_q95: float
    freq_q75: float
    rec_min: float
    rec_max: float
    rec_q75: float
    rec_q25: float
    mon_min: float
    mon_max: float
    mon_q75: float
    div_min: float
    div_max: float


def compute_score_thresholds(features: DataFrame, horizon_days: int = HORIZON_DAYS) -> ScoreThresholds:
    rec = F.coalesce(F.col("recency_days").cast("double"), F.lit(float(horizon_days)))
    row = features.agg(
        F.min(F.col("freq_12m").cast("double")).alias("freq_min"),
        F.max(F.col("freq_12m").cast("double")).alias("freq_max"),
        F.percentile(F.col("freq_12m").cast("double"), F.lit(0.95)).alias("freq_q95"),
        F.percentile(F.col("freq_12m").cast("double"), F.lit(0.75)).alias("freq_q75"),
        F.min(rec).alias("rec_min"),
        F.max(rec).alias("rec_max"),
        F.percentile(rec, F.lit(0.75)).alias("rec_q75"),
        F.percentile(rec, F.lit(0.25)).alias("rec_q25"),
        F.min("monetary_12m").alias("mon_min"),
        F.max("monetary_12m").alias("mon_max"),
        F.percentile(F.col("monetary_12m"), F.lit(0.75)).alias("mon_q75"),
        F.min(F.col("product_diversity_12m").cast("double")).alias("div_min"),
        F.max(F.col("product_diversity_12m").cast("double")).alias("div_max"),
    ).first()
    return ScoreThresholds(**row.asDict())


def score_clients(
    features: DataFrame,
    horizon_days: int = HORIZON_DAYS,
    thresholds: ScoreThresholds | None = None,
) -> DataFrame:
    """A8 + F6-F10: normalized RFM-style score, expected value, segments.

    Pure column arithmetic over scalar literals — the segment ladder is a
    chained ``when`` (F10), NOT the reference's row-wise ``apply`` (D1).
    """
    t = thresholds or compute_score_thresholds(features, horizon_days)
    h = float(horizon_days)

    freq = F.col("freq_12m").cast("double")
    rec = F.coalesce(F.col("recency_days").cast("double"), F.lit(h))
    mon = F.col("monetary_12m")
    div = F.col("product_diversity_12m").cast("double")

    # clip-then-minmax, with clipped-series min/max derived from scalars
    freq_c = clip(freq, hi=t.freq_q95)
    freq_norm = minmax_norm(freq_c, min(t.freq_min, t.freq_q95), min(t.freq_max, t.freq_q95))
    rec_c = clip(rec, hi=h)
    rec_norm = F.lit(1.0) - minmax_norm(rec_c, min(t.rec_min, h), min(t.rec_max, h))
    mon_c = clip(mon, lo=0.0)
    mon_norm = minmax_norm(mon_c, max(t.mon_min, 0.0), max(t.mon_max, 0.0))
    div_norm = minmax_norm(div, t.div_min, t.div_max)

    prob = clip(
        F.lit(0.45) * freq_norm + F.lit(0.30) * rec_norm + F.lit(0.15) * mon_norm + F.lit(0.10) * div_norm,
        0.0, 1.0,
    )

    months_active = clip(clip(F.col("tenure_days").cast("double"), lo=1.0) / F.lit(30.0), lo=1.0, hi=h / 30.0)
    monthly_baseline = mon / months_active

    mon_hi, rec_hi, rec_lo, freq_hi = t.mon_q75, t.rec_q75, t.rec_q25, t.freq_q75
    scored = (
        features.withColumn("prob_reachat_12m", prob)
        .withColumn("expected_value_12m", monthly_baseline * F.lit(12.0) * F.col("prob_reachat_12m"))
        .withColumn("value_at_risk_12m", mon * (F.lit(1.0) - F.col("prob_reachat_12m")))
        .withColumn(
            "segment_label",
            F.when((F.col("prob_reachat_12m") >= 0.65) & (mon >= F.lit(mon_hi)), "VIP")
            .when((F.col("prob_reachat_12m") >= 0.55) & (rec <= F.lit(rec_lo)), "Actifs")
            .when((mon >= F.lit(mon_hi)) & (rec > F.lit(rec_hi)), "A relancer")
            .when((freq <= F.lit(max(1.0, freq_hi * 0.5))) & (rec > F.lit(rec_hi)), "Dormants")
            .otherwise("A potentiel"),
        )
    )
    return scored


def summarize_segments(scored: DataFrame) -> DataFrame:
    """A5: per-segment rollup with exact medians (F.median, Spark ≥3.4)."""
    return bounded_sort(
        scored.groupBy("segment_label")
        .agg(
            F.count("id_client").alias("clients"),
            money_sum("monetary_12m", "ca_12m"),
            fixed_sum("expected_value_12m", "expected_value_12m"),
            fixed_sum("value_at_risk_12m", "value_at_risk_12m"),
            F.median(F.col("freq_12m").cast("double")).alias("freq_med"),
            F.median(F.col("recency_days").cast("double")).alias("recency_med"),
        ),
        F.desc("expected_value_12m"),
    )


def aggregate_sales(fact: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """A3: revenue by month / country / product — partial-aggregated
    (map-side combine) hash aggregations, one shuffle each on a small key."""
    def by(key: str, order: Column | str) -> DataFrame:
        return bounded_sort(fact.groupBy(key).agg(money_sum("montant", "ca")), order)

    return by("mois", "mois"), by("pays", F.desc("ca")), by("produit", F.desc("ca"))


def build_cohort_first_purchase(fact: DataFrame) -> DataFrame:
    """A6 + W2: tag rows with their client's first-purchase month via a
    window (no extra join), then roll up per cohort month."""
    from pyspark.sql import Window

    w = Window.partitionBy("id_client")
    return bounded_sort(
        fact.withColumn(
            "first_purchase_month",
            F.date_format(F.min("date_achat").over(w), "yyyy-MM"),
        )
        .groupBy("first_purchase_month")
        .agg(
            F.countDistinct("id_client").alias("clients"),
            money_sum("montant", "ca"),
        ),
        "first_purchase_month",
    )
