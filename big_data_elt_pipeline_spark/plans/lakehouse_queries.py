"""Lakehouse-pattern queries under the oracle gate (VERDICT r1 items 5/6/9).

- ``scd2_merge``: the SCD Type-2 close/insert fold (``operators/scd.py``) on
  an inline VALUES fixture vs a DuckDB CTE re-derivation of the same history
  (version rows + ``lead`` for validity intervals). The fixture includes an
  update wave whose FIRST tracked column goes NULL — the round-1 advice bug —
  so the gate proves the fix, not just the happy path.
- ``salted_ca_country``: the skew-safe two-stage salted aggregate
  (``functions/skew.py``) vs the plain one-stage country sum — bit-equality
  holds because the exact-decimal money sum is associative, so salting
  changes the plan, never the value.
- ``incremental_ca_country``: ``foreachBatch`` incremental maintenance of a
  second gold key (country), proving the pattern of
  ``incremental_ca_monthly`` generalizes beyond the month dimension.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from big_data_elt_pipeline_spark.operators.scd import scd2_init, scd2_merge
from big_data_elt_pipeline_spark.plans.queries import _D, _fact, register
from big_data_elt_pipeline_spark.sources import tpch

# --------------------------------------------------------------------------
# SCD2 fixture: snapshot + two update waves
# --------------------------------------------------------------------------

T0, T1, T2 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1), dt.datetime(2024, 3, 1)

_SNAP = [(1, "FR", "a@x"), (2, "DE", "b@x"), (4, "IT", None)]
# wave 1: 1 moves country; 2 unchanged (no new version); 3 is new;
# 4 clears pays AND gains an email — first tracked column NULL (the bug row)
_WAVE1 = [(1, "ES", "a@x"), (2, "DE", "b@x"), (3, "IT", "c@x"), (4, None, "d@x")]
# wave 2: 3 changes email; 1 unchanged
_WAVE2 = [(3, "IT", "c2@x"), (1, "ES", "a@x")]


def _values(rows: list[tuple]) -> str:
    def lit(v) -> str:
        return "NULL" if v is None else (str(v) if isinstance(v, int) else f"'{v}'")

    return ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)


_SCD2_SQL = f"""
WITH snap AS (
    SELECT CAST(id AS BIGINT) AS id, pays, email
    FROM (VALUES {_values(_SNAP)}) t(id, pays, email)
),
u1 AS (
    SELECT CAST(id AS BIGINT) AS id, pays, email
    FROM (VALUES {_values(_WAVE1)}) t(id, pays, email)
),
u2 AS (
    SELECT CAST(id AS BIGINT) AS id, pays, email
    FROM (VALUES {_values(_WAVE2)}) t(id, pays, email)
),
v0 AS (SELECT id, pays, email, TIMESTAMP '2024-01-01 00:00:00' AS valid_from FROM snap),
v1 AS (
    SELECT u.id, u.pays, u.email, TIMESTAMP '2024-02-01 00:00:00' AS valid_from
    FROM u1 u LEFT JOIN v0 c ON u.id = c.id
    WHERE c.id IS NULL
       OR (u.pays IS DISTINCT FROM c.pays) OR (u.email IS DISTINCT FROM c.email)
),
cur1 AS (
    SELECT id, pays, email FROM (
        SELECT *, row_number() OVER (PARTITION BY id ORDER BY valid_from DESC) AS rn
        FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
    ) WHERE rn = 1
),
v2 AS (
    SELECT u.id, u.pays, u.email, TIMESTAMP '2024-03-01 00:00:00' AS valid_from
    FROM u2 u LEFT JOIN cur1 c ON u.id = c.id
    WHERE c.id IS NULL
       OR (u.pays IS DISTINCT FROM c.pays) OR (u.email IS DISTINCT FROM c.email)
),
vers AS (
    SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2
)
SELECT id, pays, email, valid_from,
       coalesce(lead(valid_from) OVER (PARTITION BY id ORDER BY valid_from),
                TIMESTAMP '2261-12-31 00:00:00') AS valid_to,
       lead(valid_from) OVER (PARTITION BY id ORDER BY valid_from) IS NULL AS is_current
FROM vers
"""


@register("scd2_merge", _SCD2_SQL)
def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history after two merge waves; the oracle re-derives the same
    intervals from the version rows with ``lead`` over ``valid_from``."""
    schema = "id long, pays string, email string"
    h = scd2_init(spark.createDataFrame(_SNAP, schema), "id", T0)
    h = scd2_merge(h, spark.createDataFrame(_WAVE1, schema), "id", ["pays", "email"], T1)
    h = scd2_merge(h, spark.createDataFrame(_WAVE2, schema), "id", ["pays", "email"], T2)
    return h.select("id", "pays", "email", "valid_from", "valid_to", "is_current")


# --------------------------------------------------------------------------
# Salted aggregate == direct aggregate (skew story under the gate)
# --------------------------------------------------------------------------

@register("salted_ca_country", _D + """
SELECT pays,
       CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca,
       count(*) AS ca_count
FROM fact GROUP BY pays
""")
def q_salted_ca_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted country revenue; the oracle is the UNSALTED direct
    sum — bit-equality is the whole point (decimal addition associativity
    makes the salt invisible in the result)."""
    from big_data_elt_pipeline_spark.functions.skew import salted_money_sum

    return salted_money_sum(_fact(spark, sf_dir), "pays", "montant", n_salt=16, alias="ca")


@register("salted_distinct_products", _D + """
SELECT pays, count(DISTINCT produit) AS n_distinct
FROM fact GROUP BY pays
""")
def q_salted_distinct_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted countDistinct per hot key vs the direct form —
    exact because stage 1 dedups (key, value) pairs, stage 2 counts."""
    from big_data_elt_pipeline_spark.functions.skew import salted_count_distinct

    return salted_count_distinct(_fact(spark, sf_dir), "pays", "produit", n_salt=16)


# --------------------------------------------------------------------------
# Manifest data skipping: pruned snapshot read == the plain SQL filter
# --------------------------------------------------------------------------

@register("lakehouse_pruned_read", _D + """
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
FROM achats
WHERE date_achat >= TIMESTAMP '1996-03-01 00:00:00'
  AND date_achat <= TIMESTAMP '1996-08-31 23:59:59'
""")
def q_lakehouse_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping read path: achats is committed to a manifest table
    range-clustered on ``date_achat`` (so each file covers a tight time
    range with min/max recorded in the manifest), then a six-month window
    is read through ``read_table_pruned`` — non-overlapping files are
    never opened — and rolled up with the exact money sum. The oracle is
    the PLAIN filter+aggregate over the same rows, so the gate proves
    skipping loses nothing (file pruning itself is pinned by
    tests/test_lakehouse.py). Bounds use the 'T' ISO separator because
    manifest stats compare lexicographically in that format.
    """
    from big_data_elt_pipeline_spark import lakehouse as LH
    from big_data_elt_pipeline_spark.functions.core import money_sum
    from big_data_elt_pipeline_spark.sources.tpch import achats_df
    from big_data_elt_pipeline_spark.streaming import staging_dir
    from pyspark.sql import functions as F

    root = staging_dir("lakehouse_prune_gate", sf_dir)
    path = f"{root}/achats_manifest"
    if not LH.is_manifest_table(path):
        LH.write_table(
            achats_df(spark, sf_dir), path, "append",
            cluster_by=["date_achat"], n_files=8,
        )
    pruned = LH.read_table_pruned(
        spark, path, "date_achat",
        lo="1996-03-01T00:00:00", hi="1996-08-31T23:59:59",
    )
    return pruned.agg(
        F.count(F.lit(1)).alias("n"), money_sum("montant", "ca")
    )


# --------------------------------------------------------------------------
# foreachBatch incremental maintenance, second gold key
# --------------------------------------------------------------------------

@register("incremental_ca_country", _D + """
SELECT pays,
       CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca,
       count(*) AS n
FROM fact GROUP BY pays ORDER BY pays
""")
def q_incremental_ca_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Country gold maintained INCREMENTALLY over micro-batches; exact
    decimal merges make the final state equal a full recompute bit-for-bit."""
    from big_data_elt_pipeline_spark.streaming import staging_dir
    from big_data_elt_pipeline_spark.streaming.incremental import incremental_ca_country

    fact = _fact(spark, sf_dir)
    tmp = staging_dir("incr_country_gate", sf_dir)
    return incremental_ca_country(spark, fact, f"{tmp}/src", f"{tmp}/state", chunks=3)


# --------------------------------------------------------------------------
# Python DataSource round trip: the serving store under the value-hash gate
# --------------------------------------------------------------------------

@register("docstore_roundtrip", _D + """
SELECT strftime(date_achat, '%Y-%m') AS mois,
       CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca,
       count(*) AS n
FROM fact GROUP BY 1 ORDER BY mois
""")
def q_docstore_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monthly gold rollup PUBLISHED to a docstore collection and read
    BACK through the Python DataSource — oracle equality then proves the
    custom format preserves every value bit-for-bit (JSON float repr
    round-trips IEEE doubles exactly), i.e. the Mongo-parity serving edge
    is engine-grade, not a lossy export."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.functions.core import money_sum
    from big_data_elt_pipeline_spark.sources import docstore
    from big_data_elt_pipeline_spark.streaming import staging_dir

    docstore.register(spark)
    gold = (
        _fact(spark, sf_dir)
        .groupBy("mois")
        .agg(money_sum("montant", "ca"), F.count(F.lit(1)).alias("n"))
        .orderBy("mois")
    )
    path = f"{staging_dir('docstore_gate', sf_dir)}/state/gold"
    gold.write.format(docstore.FORMAT_NAME).option("key", "mois").mode(
        "overwrite"
    ).save(path)
    return spark.read.format(docstore.FORMAT_NAME).load(path)


# --------------------------------------------------------------------------
# Declarative expectations: one-pass rule audit over planted-dirt achats
# --------------------------------------------------------------------------

@register("expectations_audit", _D + """,
dirty AS (
    SELECT * FROM achats
    UNION ALL
    SELECT * FROM (VALUES
        (1, NULL, TIMESTAMP '2000-01-01 00:00:00', 50.0, 'Brand#1'),
        (2, 999999999, TIMESTAMP '2000-01-01 00:00:00', 50.0, 'Brand#1'),
        (3, 1, TIMESTAMP '2000-01-01 00:00:00', -5.0, 'Brand#1'),
        (4, 1, NULL, 50.0, 'Brand#1')
    ) AS t(id_achat, id_client, date_achat, montant, produit)
)
SELECT 'not_null_id_client' AS rule,
       CAST(sum(CASE WHEN id_client IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
       CAST(count(*) AS BIGINT) AS n_rows FROM dirty
UNION ALL
SELECT 'not_null_date_achat',
       CAST(sum(CASE WHEN date_achat IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(*) AS BIGINT) FROM dirty
UNION ALL
SELECT 'in_range_montant',
       CAST(sum(CASE WHEN coalesce(montant >= 0.0 AND montant <= 1000000.0, FALSE)
                     THEN 0 ELSE 1 END) AS BIGINT),
       CAST(count(*) AS BIGINT) FROM dirty
UNION ALL
SELECT 'refers_to_id_client',
       CAST(sum(CASE WHEN coalesce(id_client IN (SELECT id_client FROM clients), FALSE)
                     THEN 0 ELSE 1 END) AS BIGINT),
       CAST(count(*) AS BIGINT) FROM dirty
""")
def q_expectations_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rules audited in ONE fused aggregate pass
    (`operators/expectations.py`) over achats with planted dirt covering
    every rule class: NULL key, orphan key, out-of-range amount, NULL
    date. The referential rule is a broadcast join flag, not a per-rule
    scan; the oracle recomputes identical counts (NULL predicate =
    violation, both sides)."""
    from big_data_elt_pipeline_spark.operators import expectations as EX

    clients = tpch.clients_df(spark, sf_dir)
    achats = tpch.achats_df(spark, sf_dir)
    bad = [
        (1, None, dt.datetime(2000, 1, 1), 50.0, "Brand#1"),
        (2, 999999999, dt.datetime(2000, 1, 1), 50.0, "Brand#1"),
        (3, 1, dt.datetime(2000, 1, 1), -5.0, "Brand#1"),
        (4, 1, None, 50.0, "Brand#1"),
    ]
    dirty = achats.unionByName(spark.createDataFrame(bad, achats.schema))
    annotated, ref_rule = EX.refers_to(dirty, "id_client", clients, "id_client")
    rules = [
        EX.not_null("id_client"),
        EX.not_null("date_achat"),
        EX.in_range("montant", 0.0, 1000000.0),
        ref_rule,
    ]
    return EX.audit(annotated, rules)
