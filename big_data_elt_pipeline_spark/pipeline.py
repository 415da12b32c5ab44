"""Medallion pipeline runner: bronze → silver → gold → serving views.

The end-to-end flow of the reference (``tools/run.py:131-145`` chains 9
subprocess stages across containers; each Spark stage cold-starts its own
session and re-downloads jars — 95% of its 118 s baseline). Here the whole
flow is ONE SparkSession and one lazy plan graph per stage:

- bronze: raw CSV → parquet retention copy (S2/S3), explicit schemas.
- silver: cleaning suite (P1-P9, W4, J4) + one-pass quality audit; the
  audit's ``initial_rows`` is also the run's bronze row count.
- gold: star schema (J1-J5, A1-A8, F2-F10) with ``fact``/``features``
  persisted once and reused by every downstream table — the reference
  recomputes the scan+join lineage for each of its 9 sinks (SURVEY §3.3).
- serving: daily/weekly/distribution/monthly-growth views (A4/A9/W1).

At benchmark size a pass is bound by the number of jobs that run one
after another, not by data, so every stage keeps its serial prefix short
and computes each fact once: bronze only writes (silver's audit counts
its rows), silver runs no action ahead of its writes and audits, lake
tables this module wrote are read back with their ``schemas.py``
StructTypes (no footer-inference job per read), gold collects its fact
scalars in one action and computes the score thresholds inside the sink
pool, and the bounded sinks sort in one partition (no range-sampling
job).

``golden_check`` ports the reference's ``scripts/check_gold.py`` schema +
invariant gate; it reads with inferred schemas on purpose, since its job
is to check what is on disk.
"""

from __future__ import annotations

import datetime as dt
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark import io as eio
from big_data_elt_pipeline_spark.operators import gold, serving, silver
from big_data_elt_pipeline_spark.schemas import (
    ACHATS_RAW,
    ACHATS_SILVER,
    CLIENTS_RAW,
    CLIENTS_SILVER,
    GOLD_EXPECTED_COLUMNS,
)

GOLD_TABLES = [
    "fact_achats", "dim_clients", "client_features", "client_scores",
    "segment_summary", "ca_monthly", "ca_country", "ca_product",
    "cohort_first_purchase",
]
SERVING_TABLES = ["daily", "weekly", "distribution", "monthly_growth"]


def bronze_ingest(spark: SparkSession, source_dir: str, lake_dir: str) -> None:
    """S2/S3: raw retention — CSV → parquet, no transformation.

    The two tables are independent: their writes run as overlapped jobs
    (guide §2.6). Nothing is counted back here: silver's quality audit
    counts every bronze row (``initial_rows``) in the scan it runs anyway.
    """
    def _ingest(item: tuple[str, object]) -> None:
        name, schema = item
        spark.sparkContext.setJobDescription(f"bronze ingest: {name}")
        df = eio.read_csv(spark, f"{source_dir}/{name}.csv", schema)
        eio.write_parquet(df, f"{lake_dir}/bronze/{name}")

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(pool.map(_ingest, (("clients", CLIENTS_RAW), ("achats", ACHATS_RAW))))


def silver_transform(
    spark: SparkSession,
    lake_dir: str,
    min_date: dt.date | str = silver.MIN_VALID_DATE,
    max_date: dt.date | None = None,
    max_amount: float = silver.MAX_PURCHASE_AMOUNT,
) -> dict[str, dict]:
    """Cleaning suite + one-pass quality counters per table.

    With ``max_date`` None there is no upper date bound, so future-dated
    rows are kept; runs that need that rule pin ``max_date`` explicitly
    (the registered oracle queries all do). No bound depends on the wall
    clock, so the same input always cleans to the same output."""
    clients_raw = eio.read_parquet(spark, f"{lake_dir}/bronze/clients", CLIENTS_RAW)
    achats_raw = eio.read_parquet(spark, f"{lake_dir}/bronze/achats", ACHATS_RAW)

    clients = silver.clean_clients(clients_raw, min_date=min_date, max_date=max_date)
    achats = silver.clean_achats(
        achats_raw, valid_clients=clients, min_date=min_date, max_date=max_date,
        max_amount=max_amount,
    )

    # four independent actions (two cleaned writes + two raw-table
    # audits): overlapped jobs back-fill each other's task tails
    # (guide §2.6). The achats clean REFERENCES the cleaned-clients
    # frame, not its written output, so the two writes are independent.
    def _act(item: tuple[str, object]):
        kind, fn = item
        spark.sparkContext.setJobDescription(f"silver: {kind}")
        return fn()

    jobs = [
        ("write clients",
         lambda: eio.write_parquet(clients, f"{lake_dir}/silver/clients")),
        ("write achats",
         lambda: eio.write_parquet(achats, f"{lake_dir}/silver/achats")),
        ("audit clients",
         lambda: silver.quality_audit(clients_raw, kind="clients").first().asDict()),
        ("audit achats",
         lambda: silver.quality_audit(
             achats_raw, kind="achats", max_amount=max_amount
         ).first().asDict()),
    ]
    with ThreadPoolExecutor(max_workers=3) as pool:
        results = list(pool.map(_act, jobs))
    return {"clients": results[2], "achats": results[3]}


def gold_sinks(
    clients: DataFrame, fact: DataFrame, features: DataFrame,
    ref: dt.datetime, bounds: tuple[float, float],
) -> tuple[dict[str, DataFrame], dict[str, Callable[[gold.ScoreThresholds], DataFrame]]]:
    """The 13 gold and serving sink plans, split by what they wait on:
    the ten that need only ``fact`` and its collected scalars, as frames,
    and the three that read ``features``, as builders that take the score
    thresholds. Building them fires no job."""
    ca_monthly = gold.sales_by(fact, "mois", "mois")
    fact_sinks = {
        "fact_achats": fact,
        "dim_clients": gold.build_dim_clients(clients, fact, ref),
        "ca_monthly": ca_monthly,
        "ca_country": gold.sales_by(fact, "pays", F.desc("ca")),
        "ca_product": gold.sales_by(fact, "produit", F.desc("ca")),
        "cohort_first_purchase": gold.build_cohort_first_purchase(fact),
        # serving views (the reference computes these in its Mongo publisher)
        "daily": serving.build_daily(fact),
        "weekly": serving.build_weekly(fact),
        "distribution": serving.build_distribution(fact, bins=12, bounds=bounds, labels=True),
        "monthly_growth": serving.build_monthly_growth(ca_monthly),
    }

    def scored(t: gold.ScoreThresholds) -> DataFrame:
        return gold.score_clients(features, thresholds=t)

    score_sinks = {
        # waits too: the thresholds action is what fills the features cache
        "client_features": lambda t: features,
        "client_scores": lambda t: scored(t).select(
            "id_client", "prob_reachat_12m", "expected_value_12m",
            "value_at_risk_12m", "segment_label", "recency_days", "freq_12m",
            "monetary_12m",
        ),
        "segment_summary": lambda t: gold.summarize_segments(scored(t)),
    }
    return fact_sinks, score_sinks


def gold_transform(
    spark: SparkSession, lake_dir: str,
    max_amount: float = silver.MAX_PURCHASE_AMOUNT,
    count_rows: bool = False,
) -> dict[str, int]:
    """Star schema + scoring, one persisted fact/features shared by all sinks.

    One driver action runs before the sinks: ``fact_scalars`` collects the
    reference date and the histogram bounds and fills the fact cache. The
    score thresholds are the first task of the 3-wide sink pool, so the ten
    fact-only sinks start writing at once; only the three that read
    ``features`` wait on them, and they are submitted last. Both caches
    are freed however the stage ends.
    """
    clients = eio.read_parquet(spark, f"{lake_dir}/silver/clients", CLIENTS_SILVER)
    achats = eio.read_parquet(spark, f"{lake_dir}/silver/achats", ACHATS_SILVER)
    # defensive idempotence: re-apply the amount bound at gold entry
    # (reference does the same, flows/gold_transformation.py:100)
    achats = achats.filter(
        (F.col("montant") > 0) & (F.col("montant") <= max_amount)
    )

    fact = gold.build_fact(achats, clients).persist()
    features: DataFrame | None = None
    try:
        ref, bounds = gold.fact_scalars(fact)
        features = gold.build_client_features(fact, clients, ref).persist()
        fact_sinks, score_sinks = gold_sinks(clients, fact, features, ref, bounds)

        # one action per table: the write IS the job; counting again would
        # re-execute every unpersisted plan (the reference's 9-sink mistake)
        def _write(name: str, df: DataFrame) -> int | None:
            # fact is the only table that stays huge at scale: partition by
            # year so date-bounded reads prune whole directories (the
            # engine-side replacement for the reference's Mongo indexes)
            part = ["annee"] if name == "fact_achats" else None
            # job descriptions are thread-local, so concurrent sinks label
            # their own jobs in the UI (guide §2.6)
            spark.sparkContext.setJobDescription(f"gold sink: {name}")
            path = eio.write_parquet(df, f"{lake_dir}/gold/{name}", partition_by=part)
            if not count_rows:
                return None
            # count back with the written frame's schema: no footer-
            # inference job. (A ``pyspark.sql.Observation`` would count
            # inside the write, but once one is used the session's
            # ObservationManager makes every closure that captures the
            # session unserializable, e.g. LogisticRegression summaries.)
            return eio.read_parquet(spark, path, df.schema).count()

        def _thresholds() -> gold.ScoreThresholds:
            spark.sparkContext.setJobDescription("gold: score thresholds")
            return gold.compute_score_thresholds(features)

        # The fact cache is filled above, so no fact-only sink races a
        # cache computation; the features cache fills inside the
        # thresholds task, which is why every features reader waits on it.
        # The pool queue is FIFO and the thresholds task is first, so a
        # waiting sink never holds a worker the thresholds still need.
        # 3 in flight fills each job's task tail without resource thrash.
        with ThreadPoolExecutor(max_workers=3) as pool:
            thresholds = pool.submit(_thresholds)
            futures = {n: pool.submit(_write, n, df) for n, df in fact_sinks.items()}
            for n, build in score_sinks.items():
                futures[n] = pool.submit(
                    lambda n, build: _write(n, build(thresholds.result())), n, build)
            results = {n: f.result() for n, f in futures.items()}
    finally:
        fact.unpersist()
        if features is not None:
            features.unpersist()
    return {n: results[n] for n in GOLD_TABLES + SERVING_TABLES if results[n] is not None}


def run_medallion(
    spark: SparkSession,
    source_dir: str,
    lake_dir: str,
    min_date: dt.date | str = silver.MIN_VALID_DATE,
    max_date: dt.date | None = None,
    max_amount: float = silver.MAX_PURCHASE_AMOUNT,
    count_rows: bool = True,
) -> dict:
    """Full bronze→silver→gold run with per-stage wall times (the
    BASELINE.md benchmark shape). ``bronze_rows`` is the bronze row count
    per table, taken from silver's audit of those same files."""
    out: dict = {}
    t0 = time.perf_counter()
    bronze_ingest(spark, source_dir, lake_dir)
    t1 = time.perf_counter()
    quality = silver_transform(spark, lake_dir, min_date, max_date, max_amount)
    t2 = time.perf_counter()
    out["bronze_rows"] = {t: q["initial_rows"] for t, q in quality.items()}
    out["silver_quality"] = quality
    out["gold_rows"] = gold_transform(spark, lake_dir, max_amount, count_rows=count_rows)
    t3 = time.perf_counter()
    out["seconds"] = {
        "bronze": round(t1 - t0, 3),
        "silver": round(t2 - t1, 3),
        "gold": round(t3 - t2, 3),
        "total": round(t3 - t0, 3),
    }
    return out


def golden_check(spark: SparkSession, lake_dir: str) -> list[str]:
    """Port of ``scripts/check_gold.py``: schema contracts + invariants.
    Returns a list of violations (empty = green)."""
    problems: list[str] = []
    for name, required in GOLD_EXPECTED_COLUMNS.items():
        try:
            df = eio.read_parquet(spark, f"{lake_dir}/gold/{name}")
        except Exception as exc:
            problems.append(f"{name}: unreadable ({exc})")
            continue
        missing = [c for c in required if c not in df.columns]
        if missing:
            problems.append(f"{name}: missing columns {missing}")
    fact = eio.read_parquet(spark, f"{lake_dir}/gold/fact_achats")
    if fact.filter(F.col("montant") < 0).limit(1).count() > 0:
        problems.append("fact_achats: negative montant")
    scores = eio.read_parquet(spark, f"{lake_dir}/gold/client_scores")
    bad_prob = scores.filter(
        (F.col("prob_reachat_12m") < 0) | (F.col("prob_reachat_12m") > 1)
    ).limit(1).count()
    if bad_prob:
        problems.append("client_scores: prob_reachat_12m outside [0,1]")
    # struct(): a NULL id counts as one value, as it would under distinct()
    n_rows, n_ids = scores.agg(
        F.count(F.lit(1)), F.countDistinct(F.struct("id_client"))
    ).first()
    if n_ids != n_rows:
        problems.append("client_scores: duplicate id_client")
    return problems
