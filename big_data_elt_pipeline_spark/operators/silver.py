"""Silver-layer cleaning operators (SURVEY.md §2.2 P1-P9, §2.5 W4, §2.3 J4).

Canonical semantics = the reference's pandas variant
(``flows/silver_transformation.py``, re-applied at ``flows/gold_transformation.py:74-111``):
coerce→null→drop on keys/dates/amounts, string normalization, email predicate,
date bounds (a lower bound always, an upper bound when the caller pins one —
never the reference's wall-clock ``utcnow``, which makes a clean depend on the
day it runs), deterministic keep-first / keep-last dedup, and a semi-join
purge of orphan purchases.

Scale notes:
- Everything is a single declarative plan — Catalyst pushes the null/range
  predicates into the scan and prunes columns.
- Dedup uses ``row_number`` over a key-partitioned window — one hash shuffle
  on the key, no driver round-trip. The reference's Spark variant instead
  collects all client ids to the driver and re-broadcasts them
  (``flows_spark/silver_transformation_spark.py:91``) — an anti-pattern at
  100 TB; ``left_semi`` join lets Catalyst/AQE pick broadcast vs shuffle.
- Quality counters are ONE pass of ``sum(case when ...)`` flags instead of
  the reference's N sequential ``count()`` jobs (N full scans).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.schemas import (
    REQUIRED_ACHAT_COLS,
    REQUIRED_CLIENT_COLS,
    require_columns,
)

MIN_VALID_DATE = "2000-01-01"
MAX_PURCHASE_AMOUNT = 10_000.0


def _dedup_by_key(df: DataFrame, key: str, keep: str) -> DataFrame:
    """W4 deterministic dedup. pandas keep-first/keep-last depends on file
    order, which a distributed scan cannot reproduce; we canonicalize the
    tie-break to the full payload ordering (asc for keep-first, desc for
    keep-last) so the survivor is deterministic under any partitioning.
    On data with unique keys (all shipped datasets) this is exactly
    ``drop_duplicates``.
    """
    others = [c for c in df.columns if c != key]
    ordering = [F.col(c).asc_nulls_last() if keep == "first" else F.col(c).desc_nulls_last()
                for c in others]
    w = Window.partitionBy(key).orderBy(*ordering)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def clean_clients(
    raw: DataFrame,
    min_date: dt.date | str = MIN_VALID_DATE,
    max_date: dt.date | str | None = None,
) -> DataFrame:
    """P1-P6 + W4 on the clients table.

    ``min_date``/``max_date``: inclusive validity bounds for
    ``date_inscription`` (the pandas reference hardcodes 2000-01-01..utcnow;
    explicit parameters keep runs reproducible and let other corpora use
    their own epoch). ``max_date`` None applies no upper bound.
    """
    require_columns(raw, REQUIRED_CLIENT_COLS, "clients_raw")
    df = (
        raw.select(
            F.col("id_client").try_cast("long").alias("id_client"),
            F.trim(F.col("nom").cast("string")).alias("nom"),
            F.lower(F.trim(F.col("email").cast("string"))).alias("email"),
            F.try_to_timestamp(F.col("date_inscription")).try_cast("date").alias("date_inscription"),
            F.initcap(F.trim(F.col("pays").cast("string"))).alias("pays"),
        )
        .filter(F.col("id_client").isNotNull())
        .filter(F.col("date_inscription") >= F.lit(str(min_date)))
        .filter(F.col("email").contains("@"))
    )
    if max_date is not None:
        df = df.filter(F.col("date_inscription") <= F.lit(max_date))
    return _dedup_by_key(df, "id_client", keep="first")


def clean_achats(
    raw: DataFrame,
    valid_clients: DataFrame | None = None,
    min_date: dt.date | str = MIN_VALID_DATE,
    max_date: dt.date | str | None = None,
    max_amount: float = MAX_PURCHASE_AMOUNT,
) -> DataFrame:
    """P1-P5 + W4 keep-last + J4 semi-join orphan purge on purchases.

    ``max_date`` is an EXCLUSIVE timestamp bound (``date_achat < max_date``);
    pass day-after-last-valid-day to keep a whole calendar day. None
    applies no upper bound.
    ``max_amount``: the reference hardcodes 10,000 EUR; corpora with other
    monetary scales pass their own bound."""
    require_columns(raw, REQUIRED_ACHAT_COLS, "achats_raw")
    df = (
        raw.select(
            F.col("id_achat").try_cast("long").alias("id_achat"),
            F.col("id_client").try_cast("long").alias("id_client"),
            F.try_to_timestamp(F.col("date_achat")).alias("date_achat"),
            F.col("montant").try_cast("double").alias("montant"),
            F.initcap(F.trim(F.col("produit").cast("string"))).alias("produit"),
        )
        .filter(
            F.col("id_achat").isNotNull()
            & F.col("id_client").isNotNull()
            & F.col("montant").isNotNull()
            & F.col("date_achat").isNotNull()
            & F.col("produit").isNotNull()
        )
        .filter((F.col("montant") > 0) & (F.col("montant") <= F.lit(max_amount)))
        .filter(F.col("date_achat") >= F.lit(str(min_date)))
    )
    if max_date is not None:
        df = df.filter(F.col("date_achat") < F.lit(str(max_date)))
    df = _dedup_by_key(df, "id_achat", keep="last")
    if valid_clients is not None:
        # left_semi: no payload shuffle of the semi side; AQE broadcasts it
        # when small. Replaces the reference's collect()-to-driver isin().
        df = df.join(valid_clients.select("id_client"), "id_client", "left_semi")
    return df.select("id_achat", "id_client", "date_achat", "montant", "produit")


def quality_audit(
    raw: DataFrame, kind: str = "achats", max_amount: float = MAX_PURCHASE_AMOUNT
) -> DataFrame:
    """P9 one-pass quality counters.

    The pandas reference counts dropped rows per rule with one full pass per
    rule; here a single projection computes all rule flags and one aggregate
    returns every counter — one scan regardless of rule count.
    ``max_amount`` is the amount bound ``clean_achats`` applies, so
    ``dropped_bad_amount`` counts the rows that clean drops.
    """
    if kind == "achats":
        id_ok = F.col("id_achat").try_cast("long").isNotNull() & F.col("id_client").try_cast("long").isNotNull()
        date_c = F.try_to_timestamp(F.col("date_achat"))
        amt = F.col("montant").try_cast("double")
        flags = raw.select(
            (~id_ok).cast("int").alias("bad_id"),
            date_c.isNull().cast("int").alias("bad_date"),
            (amt.isNull() | (amt <= 0) | (amt > max_amount)).cast("int").alias("bad_amount"),
            F.col("produit").isNull().cast("int").alias("bad_product"),
        )
    else:
        date_c = F.try_to_timestamp(F.col("date_inscription")).try_cast("date")
        flags = raw.select(
            F.col("id_client").try_cast("long").isNull().cast("int").alias("bad_id"),
            date_c.isNull().cast("int").alias("bad_date"),
            (~F.coalesce(F.col("email").contains("@"), F.lit(False))).cast("int").alias("bad_email"),
        )
    agg = [F.count(F.lit(1)).alias("initial_rows")] + [
        F.sum(c).cast("long").alias(f"dropped_{c}") for c in flags.columns
    ]
    return flags.agg(*agg)
