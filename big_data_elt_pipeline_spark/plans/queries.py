"""Named query registry over the driver test corpus (SURVEY.md §2 inventory).

Each entry pairs a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with an equivalent DuckDB-runnable ANSI-SQL string. The pairs are written to
be *bit-identical*, not just semantically equal:

- monetary SUMs go through ``decimal(18,4)`` per-row snaps (order-independent
  exact addition — see ``functions/core.py``);
- day differences are integer epoch floor-division, not calendar datediff;
- quantile thresholds use exact linear-interpolation percentiles, which
  Spark's ``percentile`` and DuckDB's ``quantile_cont`` compute identically
  (verified bit-exact in tests);
- scalar thresholds are collected in ONE Spark action and inlined as
  literals; the SQL computes them in CTEs — same doubles, same downstream
  IEEE arithmetic, same branch decisions.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.operators import gold, serving, silver
from big_data_elt_pipeline_spark.sources import tpch

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, sql)
        return fn
    return deco


def bench_iters(env_key: str, default: int) -> int:
    """Bench-time iteration override for the iterative trainers (kmeans /
    logreg / pca). bench.py sets ``SPARK_GRAFT_BENCH_ITERS_*`` to measure
    the PER-ROUND plan shape instead of paying full convergence per suite
    pass (r8 verdict #5: the three trainers alone added ~48 s/pass); the
    correctness driver and the parity tests never set these, so every
    oracle comparison always runs — and compares — the full-iteration
    result."""
    import os

    v = os.environ.get(env_key)
    return int(v) if v else default


def spark_queries() -> dict[str, QueryFn]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_queries() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


# --------------------------------------------------------------------------
# Shared SQL building blocks
# --------------------------------------------------------------------------

_D = tpch.domain_ctes()  # WITH clients AS (...), achats AS (...), fact AS (...)

# pandas (ref - d).days as integer epoch math — mirrors gold.days_between
def _days_sql(ref: str, d: str) -> str:
    return f"CAST(floor((CAST(epoch({ref}) AS BIGINT) - CAST(epoch({d}) AS BIGINT)) / 86400) AS BIGINT)"


_REF_SQL = "refd AS (SELECT max(date_achat) AS ref FROM achats)"

_FEAT_SQL = f"""
{_REF_SQL},
feat0 AS (
    SELECT id_client,
           count(CASE WHEN in_win THEN 1 END) AS freq_12m,
           coalesce(CAST(sum(CASE WHEN in_win THEN montant_dec END) AS DOUBLE), 0.0) AS monetary_12m,
           coalesce(CAST(sum(CASE WHEN in_win THEN montant_dec END) AS DOUBLE)
                    / count(CASE WHEN in_win THEN montant END), 0.0) AS monetary_avg_12m,
           count(DISTINCT CASE WHEN in_win THEN produit END) AS product_diversity_12m,
           max(date_achat) AS last_purchase,
           min(date_achat) AS first_purchase,
           count(id_achat) AS total_orders_all,
           CAST(sum(montant_dec) AS DOUBLE) AS total_spend_all
    FROM (
        SELECT f.*, CAST(montant AS DECIMAL(18,4)) AS montant_dec,
               date_achat >= (SELECT ref FROM refd) - INTERVAL 365 DAY AS in_win
        FROM fact f
    )
    GROUP BY id_client
),
feat AS (
    SELECT c.id_client,
           coalesce(freq_12m, 0) AS freq_12m,
           coalesce(monetary_12m, 0.0) AS monetary_12m,
           coalesce(monetary_avg_12m, 0.0) AS monetary_avg_12m,
           coalesce(product_diversity_12m, 0) AS product_diversity_12m,
           last_purchase, first_purchase,
           coalesce({_days_sql("(SELECT ref FROM refd)", "last_purchase")}, 365) AS recency_days,
           coalesce({_days_sql("(SELECT ref FROM refd)", "first_purchase")}, 0) AS tenure_days,
           coalesce(total_orders_all, 0) AS total_orders_all,
           coalesce(total_spend_all, 0.0) AS total_spend_all,
           CASE WHEN coalesce(total_orders_all, 0) != 0
                THEN coalesce(total_spend_all, 0.0) / coalesce(total_orders_all, 0)
                ELSE 0.0 END AS avg_order_value_all,
           date_trunc('day', (SELECT ref FROM refd)) AS reference_date
    FROM (SELECT DISTINCT id_client FROM clients) c
    LEFT JOIN feat0 USING (id_client)
)
"""

# scoring mirror of operators/gold.py::score_clients (h = 365.0)
_SCORES_SQL = f"""
{_FEAT_SQL},
th AS (
    SELECT min(CAST(freq_12m AS DOUBLE)) AS freq_min,
           max(CAST(freq_12m AS DOUBLE)) AS freq_max,
           quantile_cont(CAST(freq_12m AS DOUBLE), 0.95) AS freq_q95,
           quantile_cont(CAST(freq_12m AS DOUBLE), 0.75) AS freq_q75,
           min(coalesce(CAST(recency_days AS DOUBLE), 365.0)) AS rec_min,
           max(coalesce(CAST(recency_days AS DOUBLE), 365.0)) AS rec_max,
           quantile_cont(coalesce(CAST(recency_days AS DOUBLE), 365.0), 0.75) AS rec_q75,
           quantile_cont(coalesce(CAST(recency_days AS DOUBLE), 365.0), 0.25) AS rec_q25,
           min(monetary_12m) AS mon_min,
           max(monetary_12m) AS mon_max,
           quantile_cont(monetary_12m, 0.75) AS mon_q75,
           min(CAST(product_diversity_12m AS DOUBLE)) AS div_min,
           max(CAST(product_diversity_12m AS DOUBLE)) AS div_max
    FROM feat
),
norm AS (
    SELECT feat.*,
           CAST(freq_12m AS DOUBLE) AS freq_d,
           coalesce(CAST(recency_days AS DOUBLE), 365.0) AS rec_d,
           CASE WHEN least(freq_max, freq_q95) <= least(freq_min, freq_q95) THEN 0.0
                ELSE (least(CAST(freq_12m AS DOUBLE), freq_q95) - least(freq_min, freq_q95))
                     / (least(freq_max, freq_q95) - least(freq_min, freq_q95)) END AS freq_norm,
           1.0 - CASE WHEN least(rec_max, 365.0) <= least(rec_min, 365.0) THEN 0.0
                ELSE (least(coalesce(CAST(recency_days AS DOUBLE), 365.0), 365.0) - least(rec_min, 365.0))
                     / (least(rec_max, 365.0) - least(rec_min, 365.0)) END AS rec_norm,
           CASE WHEN greatest(mon_max, 0.0) <= greatest(mon_min, 0.0) THEN 0.0
                ELSE (greatest(monetary_12m, 0.0) - greatest(mon_min, 0.0))
                     / (greatest(mon_max, 0.0) - greatest(mon_min, 0.0)) END AS mon_norm,
           CASE WHEN div_max <= div_min THEN 0.0
                ELSE (CAST(product_diversity_12m AS DOUBLE) - div_min) / (div_max - div_min) END AS div_norm,
           least(greatest(greatest(CAST(tenure_days AS DOUBLE), 1.0) / 30.0, 1.0), 365.0 / 30.0) AS months_active,
           th.mon_q75, th.rec_q75, th.rec_q25, th.freq_q75
    FROM feat CROSS JOIN th
),
scored AS (
    SELECT *,
           least(greatest(0.45 * freq_norm + 0.30 * rec_norm + 0.15 * mon_norm + 0.10 * div_norm, 0.0), 1.0)
               AS prob_reachat_12m
    FROM norm
),
scores AS (
    SELECT *,
           monetary_12m / months_active * 12.0 * prob_reachat_12m AS expected_value_12m,
           monetary_12m * (1.0 - prob_reachat_12m) AS value_at_risk_12m,
           CASE WHEN prob_reachat_12m >= 0.65 AND monetary_12m >= mon_q75 THEN 'VIP'
                WHEN prob_reachat_12m >= 0.55 AND rec_d <= rec_q25 THEN 'Actifs'
                WHEN monetary_12m >= mon_q75 AND rec_d > rec_q75 THEN 'A relancer'
                WHEN freq_d <= greatest(1.0, freq_q75 * 0.5) AND rec_d > rec_q75 THEN 'Dormants'
                ELSE 'A potentiel' END AS segment_label
    FROM scored
)
"""


def _silver_frames(spark: SparkSession, sf_dir: str):
    clients = tpch.clients_df(spark, sf_dir)
    achats = tpch.achats_df(spark, sf_dir)
    return clients, achats


def _fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    clients, achats = _silver_frames(spark, sf_dir)
    return gold.build_fact(achats, clients)


def _ref_date(spark: SparkSession, sf_dir: str):
    """Max ``date_achat`` over achats — the same as over fact, whose LEFT
    client join keeps the achats rows one-to-one."""
    return gold.reference_date(tpch.achats_df(spark, sf_dir))


# --------------------------------------------------------------------------
# Reference-surface queries
# --------------------------------------------------------------------------

@register("ca_monthly", _D + """
SELECT mois, CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
FROM fact GROUP BY mois ORDER BY mois
""")
def q_ca_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.aggregate_sales(_fact(spark, sf_dir))[0]


@register("ca_country", _D + """
SELECT pays, CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
FROM fact GROUP BY pays ORDER BY ca DESC
""")
def q_ca_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.aggregate_sales(_fact(spark, sf_dir))[1]


@register("ca_product", _D + """
SELECT produit, CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
FROM fact GROUP BY produit ORDER BY ca DESC
""")
def q_ca_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.aggregate_sales(_fact(spark, sf_dir))[2]


@register("fact_achats", _D + """
SELECT id_achat, id_client, date_achat, montant, produit, pays, jour, mois, annee
FROM fact
""")
def q_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fact(spark, sf_dir)


@register("dim_clients", _D + f""",
{_REF_SQL},
agg AS (
    SELECT id_client,
           min(date_achat) AS first_purchase,
           max(date_achat) AS last_purchase,
           count(id_achat) AS total_orders,
           CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS total_spend,
           count(DISTINCT produit) AS product_count
    FROM fact GROUP BY id_client
)
SELECT c.id_client, nom, email, pays, date_inscription,
       first_purchase, last_purchase,
       coalesce({_days_sql("(SELECT ref FROM refd)", "last_purchase")}, 365) AS recency_days,
       coalesce({_days_sql("(SELECT ref FROM refd)", "CAST(date_inscription AS TIMESTAMP)")}, 0) AS tenure_days,
       coalesce(total_orders, 0) AS total_orders,
       coalesce(total_spend, 0.0) AS total_spend,
       CASE WHEN coalesce(total_orders, 0) != 0
            THEN coalesce(total_spend, 0.0) / coalesce(total_orders, 0) ELSE 0.0 END AS avg_order_value,
       coalesce(product_count, 0) AS product_count
FROM clients c LEFT JOIN agg ON c.id_client = agg.id_client
""")
def q_dim_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    clients, achats = _silver_frames(spark, sf_dir)
    fact = gold.build_fact(achats, clients)
    ref = _ref_date(spark, sf_dir)
    return gold.build_dim_clients(clients, fact, ref)


@register("client_features", _D + f",\n{_FEAT_SQL}\nSELECT * FROM feat")
def q_client_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    clients, achats = _silver_frames(spark, sf_dir)
    fact = gold.build_fact(achats, clients)
    ref = _ref_date(spark, sf_dir)
    return gold.build_client_features(fact, clients, ref)


@register("client_scores", _D + f",\n{_SCORES_SQL}\n"
          "SELECT id_client, prob_reachat_12m, expected_value_12m, value_at_risk_12m,\n"
          "       segment_label, recency_days, freq_12m, monetary_12m\nFROM scores")
def q_client_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    clients, achats = _silver_frames(spark, sf_dir)
    fact = gold.build_fact(achats, clients)
    ref = _ref_date(spark, sf_dir)
    # eager checkpoint (r15, guide §5 / the rfm idiom): the features frame
    # is DIMENSION-sized but its lineage is the full fact build, and it
    # feeds TWO consumers — the thresholds collect inside score_clients
    # and the returned scored plan. Without the checkpoint each consumer
    # replays the fact scan+joins+groupBy. (The bench harness unpersists
    # query-pinned blocks after each timing, so the checkpoint cannot
    # accumulate across queries.)
    features = gold.build_client_features(fact, clients, ref).localCheckpoint(
        eager=True
    )
    scored = gold.score_clients(features)
    return scored.select(
        "id_client", "prob_reachat_12m", "expected_value_12m", "value_at_risk_12m",
        "segment_label", "recency_days", "freq_12m", "monetary_12m",
    )


@register("segment_summary", _D + f",\n{_SCORES_SQL}\n" + """
SELECT segment_label,
       count(id_client) AS clients,
       CAST(sum(CAST(monetary_12m AS DECIMAL(18,4))) AS DOUBLE) AS ca_12m,
       CAST(sum(CAST(floor(expected_value_12m * 100000000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100000000.0 AS expected_value_12m,
       CAST(sum(CAST(floor(value_at_risk_12m * 100000000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100000000.0 AS value_at_risk_12m,
       quantile_cont(CAST(freq_12m AS DOUBLE), 0.5) AS freq_med,
       quantile_cont(CAST(recency_days AS DOUBLE), 0.5) AS recency_med
FROM scores GROUP BY segment_label
""")
def q_segment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    clients, achats = _silver_frames(spark, sf_dir)
    fact = gold.build_fact(achats, clients)
    ref = _ref_date(spark, sf_dir)
    # same two-consumer shape as q_client_scores: checkpoint the
    # dimension-sized features frame once (guide §5)
    features = gold.build_client_features(fact, clients, ref).localCheckpoint(
        eager=True
    )
    return gold.summarize_segments(gold.score_clients(features))


@register("cohort_first_purchase", _D + """
SELECT first_purchase_month,
       count(DISTINCT id_client) AS clients,
       CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
FROM (
    SELECT f.*, strftime(min(date_achat) OVER (PARTITION BY id_client), '%Y-%m') AS first_purchase_month
    FROM fact f
)
GROUP BY first_purchase_month ORDER BY first_purchase_month
""")
def q_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.build_cohort_first_purchase(_fact(spark, sf_dir))


# --- serving views --------------------------------------------------------

@register("serving_daily", _D + """
SELECT strftime(date_achat, '%Y-%m-%d') AS jour,
       CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca,
       count(id_achat) AS achats
FROM fact WHERE date_achat IS NOT NULL
GROUP BY strftime(date_achat, '%Y-%m-%d') ORDER BY jour
""")
def q_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serving.build_daily(_fact(spark, sf_dir))


@register("serving_weekly", _D + """
SELECT strftime(date_trunc('week', date_achat), '%Y-%m-%d') AS semaine,
       CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca,
       count(id_achat) AS achats
FROM fact WHERE date_achat IS NOT NULL
GROUP BY semaine ORDER BY semaine
""")
def q_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serving.build_weekly(_fact(spark, sf_dir))


@register("serving_distribution", _D + """
, stats AS (SELECT min(montant) AS mn, max(montant) AS mx FROM fact)
SELECT CAST(""" + " + ".join(
    f"(CASE WHEN montant > ({i} * ((mx - mn) / 12.0)) + mn THEN 1 ELSE 0 END)"
    for i in range(1, 12)
) + """ AS INTEGER) AS bucket,
       count(*) AS count
FROM fact CROSS JOIN stats
WHERE montant IS NOT NULL
GROUP BY bucket ORDER BY bucket
""")
def q_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serving.build_distribution(_fact(spark, sf_dir), bins=12, labels=False)


@register("monthly_growth", _D + """
, cam AS (
    SELECT mois, CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
    FROM fact GROUP BY mois
)
SELECT mois, ca,
       lag(ca, 1) OVER (ORDER BY mois) AS prev_ca,
       ca - lag(ca, 1) OVER (ORDER BY mois) AS growth_abs,
       CASE WHEN lag(ca, 1) OVER (ORDER BY mois) IS NOT NULL
                 AND lag(ca, 1) OVER (ORDER BY mois) != 0
            THEN (ca - lag(ca, 1) OVER (ORDER BY mois)) / lag(ca, 1) OVER (ORDER BY mois)
       END AS growth_pct
FROM cam ORDER BY mois
""")
def q_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ca_monthly = gold.aggregate_sales(_fact(spark, sf_dir))[0]
    return serving.build_monthly_growth(ca_monthly)


@register("kpis", _D + """
SELECT CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS total_ca,
       count(*) AS total_achats,
       count(DISTINCT id_client) AS total_clients,
       CASE WHEN count(*) != 0
            THEN CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) / count(*)
            ELSE 0.0 END AS panier_moyen
FROM fact
""")
def q_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serving.build_kpis(_fact(spark, sf_dir))


@register("kpis_extended", _D + f",\n{_SCORES_SQL},\nk AS (" + """
    SELECT CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS total_ca,
           count(*) AS total_achats,
           count(DISTINCT id_client) AS total_clients,
           CASE WHEN count(*) != 0
                THEN CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) / count(*)
                ELSE 0.0 END AS panier_moyen
    FROM fact
)
SELECT k.*,
       (SELECT CAST(sum(CAST(floor(expected_value_12m * 100000000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 100000000.0
        FROM scores) AS expected_total
FROM k
""")
def q_kpis_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 KPIs + portfolio expected 12-month value (the scored branch of
    ``build_kpis``, previously pytest-only)."""
    clients, achats = _silver_frames(spark, sf_dir)
    fact = gold.build_fact(achats, clients)
    ref = _ref_date(spark, sf_dir)
    features = gold.build_client_features(fact, clients, ref)
    return serving.build_kpis(fact, gold.score_clients(features))


@register("top_clients", _D + f""",
{_REF_SQL},
agg AS (
    SELECT id_client,
           count(id_achat) AS total_orders,
           CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS total_spend
    FROM fact GROUP BY id_client
)
SELECT c.id_client, c.nom, c.pays,
       coalesce(total_orders, 0) AS total_orders,
       coalesce(total_spend, 0.0) AS total_spend
FROM clients c LEFT JOIN agg ON c.id_client = agg.id_client
ORDER BY total_spend DESC, c.id_client ASC
LIMIT 20
""")
def q_top_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    clients, achats = _silver_frames(spark, sf_dir)
    fact = gold.build_fact(achats, clients)
    ref = _ref_date(spark, sf_dir)
    dim = gold.build_dim_clients(clients, fact, ref).select(
        "id_client", "nom", "pays", "total_orders", "total_spend"
    )
    return serving.top_k(dim, [("total_spend", True)], 20, tiebreak="id_client")


# --- silver cleaning over the TPC-H shapes (bounds chosen to really drop rows)

_SILVER_ACHATS_SQL = _D + """
, cleaned AS (
    SELECT * FROM (
        SELECT id_achat, id_client, date_achat, montant,
               CAST(produit AS VARCHAR) AS produit,
               row_number() OVER (
                   PARTITION BY id_achat
                   ORDER BY id_client DESC NULLS LAST, date_achat DESC NULLS LAST,
                            montant DESC NULLS LAST, produit DESC NULLS LAST
               ) AS __rn
        FROM achats
        WHERE id_achat IS NOT NULL AND id_client IS NOT NULL
          AND montant IS NOT NULL AND date_achat IS NOT NULL AND produit IS NOT NULL
          AND montant > 0 AND montant <= 10000
          AND date_achat >= TIMESTAMP '1993-01-01 00:00:00'
          AND date_achat < TIMESTAMP '1998-06-01 00:00:00'
    ) WHERE __rn = 1
)
SELECT id_achat, id_client, date_achat, montant, produit
FROM cleaned
WHERE id_client IN (SELECT id_client FROM clients)
"""


@register("silver_achats", _SILVER_ACHATS_SQL)
def q_silver_achats(spark: SparkSession, sf_dir: str) -> DataFrame:
    clients, achats = _silver_frames(spark, sf_dir)
    return silver.clean_achats(
        achats,
        valid_clients=clients,
        min_date=dt.date(1993, 1, 1),
        max_date=dt.date(1998, 6, 1),
    )


# DuckDB lacks initcap; mirror Spark's per-word capitalize-first/lower-rest
_INITCAP = (
    "array_to_string(list_transform(string_split(lower({col}), ' '), "
    "x -> upper(x[1]) || x[2:]), ' ')"
)

_SILVER_CLIENTS_SQL = _D + f"""
SELECT id_client, nom, email, date_inscription, pays FROM (
    SELECT c.id_client AS id_client,
           trim(nom) AS nom,
           lower(trim(email)) AS email,
           date_inscription,
           {_INITCAP.format(col="trim(pays)")} AS pays,
           row_number() OVER (
               PARTITION BY c.id_client
               ORDER BY trim(nom) ASC NULLS LAST, lower(trim(email)) ASC NULLS LAST,
                        date_inscription ASC NULLS LAST,
                        {_INITCAP.format(col="trim(pays)")} ASC NULLS LAST
           ) AS __rn
    FROM clients c
    WHERE c.id_client IS NOT NULL
      AND date_inscription IS NOT NULL
      AND date_inscription BETWEEN DATE '1992-01-01' AND DATE '1997-01-01'
      AND contains(lower(trim(email)), '@')
) WHERE __rn = 1
"""


@register("silver_clients", _SILVER_CLIENTS_SQL)
def q_silver_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    clients, _ = _silver_frames(spark, sf_dir)
    cleaned = silver.clean_clients(
        clients, min_date=dt.date(1992, 1, 1), max_date=dt.date(1997, 1, 1)
    )
    # adapter pays is already initcap'd country names from nation; the
    # oracle mirror keeps the same value, so compare on the raw column
    return cleaned


@register("quality_counters", _D + """
SELECT count(*) AS initial_rows,
       CAST(sum(CASE WHEN id_achat IS NULL OR id_client IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped_bad_id,
       CAST(sum(CASE WHEN date_achat IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped_bad_date,
       CAST(sum(CASE WHEN montant IS NULL OR montant <= 0 OR montant > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_bad_amount,
       CAST(sum(CASE WHEN produit IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped_bad_product
FROM achats
""")
def q_quality_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, achats = _silver_frames(spark, sf_dir)
    return silver.quality_audit(achats, kind="achats")


# --- dirty-fixture cleaning gates: the TPC-H corpus is clean, so the
# coerce/bound/dedup rules run here on an inline VALUES fixture that both
# engines see identically (FIXTURES.md dirt quota, one row per rule)

_DIRTY_CLIENTS = [
    ("1", "  Alice  ", " ALICE@EX.COM ", "2020-05-01", " france"),
    ("2", "Bob", "bob-at-nowhere", "2021-01-01", "spain"),       # bad email
    ("3", "Carol", "c@ex.com", "not-a-date", "italy"),           # bad date
    ("4", "Dan", "d@ex.com", "1999-12-31", "italy"),             # < min_date
    ("5", "Eve", "e@ex.com", "2030-01-01", "italy"),             # > max_date
    ("junk", "Frank", "f@ex.com", "2020-01-01", "italy"),        # bad id
    (None, "Gil", "g@ex.com", "2020-01-01", "italy"),            # null id
    ("8", "Hugo", "h@ex.com", "2020-01-01", "new zealand"),
    ("8", "Zoe", "z@ex.com", "2020-02-01", "germany"),           # dup keep-first
]

_DIRTY_CLIENTS_VALUES = ", ".join(
    "(" + ", ".join("NULL" if v is None else f"'{v}'" for v in row) + ")"
    for row in _DIRTY_CLIENTS
)

_SILVER_DIRTY_SQL = f"""
WITH raw(id_client, nom, email, date_inscription, pays) AS (
    VALUES {_DIRTY_CLIENTS_VALUES}
),
typed AS (
    SELECT TRY_CAST(id_client AS BIGINT) AS id_client,
           trim(nom) AS nom,
           lower(trim(email)) AS email,
           TRY_CAST(date_inscription AS DATE) AS date_inscription,
           {{initcap}} AS pays
    FROM raw
),
filtered AS (
    SELECT * FROM typed
    WHERE id_client IS NOT NULL
      AND date_inscription IS NOT NULL
      AND date_inscription BETWEEN DATE '2000-01-01' AND DATE '2025-01-01'
      AND contains(email, '@')
)
SELECT id_client, nom, email, date_inscription, pays FROM (
    SELECT *, row_number() OVER (
        PARTITION BY id_client
        ORDER BY nom ASC NULLS LAST, email ASC NULLS LAST,
                 date_inscription ASC NULLS LAST, pays ASC NULLS LAST
    ) AS rn
    FROM filtered
) WHERE rn = 1
""".format(
    initcap="array_to_string(list_transform(string_split(lower(trim(pays)), ' '), "
            "x -> upper(x[1]) || x[2:]), ' ')"
)


@register("silver_dirty_clients", _SILVER_DIRTY_SQL)
def q_silver_dirty_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cleaning rule set under the oracle gate, on dirty data:
    every FIXTURES.md rule (coerce-drop, bounds, email, trim/initcap,
    keep-first dedup) fires on at least one row."""
    from big_data_elt_pipeline_spark.schemas import CLIENTS_RAW

    raw = spark.createDataFrame(_DIRTY_CLIENTS, CLIENTS_RAW)
    return silver.clean_clients(raw, max_date=dt.date(2025, 1, 1))


_DIRTY_ACHATS = [
    ("10", "1", "2024-03-01 10:00:00", "50.0", " blender "),
    ("11", "1", "2024-03-02 10:00:00", "-5.0", "Oven"),          # <= 0
    ("12", "1", "2024-03-03 10:00:00", "20000", "Oven"),         # > 10000
    ("13", "8", "bad-ts", "10.0", "Oven"),                       # bad date
    ("14", "999", "2024-03-04 10:00:00", "10.0", "Oven"),        # orphan
    ("junk", "1", "2024-03-05 10:00:00", "10.0", "Oven"),        # bad id
    ("16", "1", "2024-03-06 10:00:00", "10.0", None),            # null produit
    ("17", "8", "2024-03-07 10:00:00", "30.0", "tv stand"),
    ("17", "8", "2024-03-08 10:00:00", "40.0", "tv stand"),      # dup keep-last
]

_DIRTY_ACHATS_VALUES = ", ".join(
    "(" + ", ".join("NULL" if v is None else f"'{v}'" for v in row) + ")"
    for row in _DIRTY_ACHATS
)

_SILVER_DIRTY_ACHATS_SQL = f"""
WITH rawc(id_client, nom, email, date_inscription, pays) AS (
    VALUES {_DIRTY_CLIENTS_VALUES}
),
valid_clients AS (
    SELECT DISTINCT TRY_CAST(id_client AS BIGINT) AS id_client FROM rawc
    WHERE TRY_CAST(id_client AS BIGINT) IS NOT NULL
      AND TRY_CAST(date_inscription AS DATE)
          BETWEEN DATE '2000-01-01' AND DATE '2025-01-01'
      AND contains(lower(trim(email)), '@')
),
rawa(id_achat, id_client, date_achat, montant, produit) AS (
    VALUES {_DIRTY_ACHATS_VALUES}
),
typed AS (
    SELECT TRY_CAST(id_achat AS BIGINT) AS id_achat,
           TRY_CAST(id_client AS BIGINT) AS id_client,
           TRY_CAST(date_achat AS TIMESTAMP) AS date_achat,
           TRY_CAST(montant AS DOUBLE) AS montant,
           array_to_string(list_transform(string_split(lower(trim(produit)), ' '),
               x -> upper(x[1]) || x[2:]), ' ') AS produit
    FROM rawa
),
filtered AS (
    SELECT * FROM typed
    WHERE id_achat IS NOT NULL AND id_client IS NOT NULL
      AND montant IS NOT NULL AND date_achat IS NOT NULL AND produit IS NOT NULL
      AND montant > 0 AND montant <= 10000
      AND date_achat >= TIMESTAMP '2000-01-01 00:00:00'
      AND date_achat < TIMESTAMP '2025-01-01 00:00:00'
),
deduped AS (
    SELECT id_achat, id_client, date_achat, montant, produit FROM (
        SELECT *, row_number() OVER (
            PARTITION BY id_achat
            ORDER BY id_client DESC NULLS LAST, date_achat DESC NULLS LAST,
                     montant DESC NULLS LAST, produit DESC NULLS LAST
        ) AS rn
        FROM filtered
    ) WHERE rn = 1
)
SELECT * FROM deduped WHERE id_client IN (SELECT id_client FROM valid_clients)
"""


@register("silver_dirty_achats", _SILVER_DIRTY_ACHATS_SQL)
def q_silver_dirty_achats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-side cleaning under the oracle gate: amount bounds,
    timestamp coerce, keep-LAST dedup, orphan semi-join purge against the
    dirty clients fixture."""
    from big_data_elt_pipeline_spark.schemas import ACHATS_RAW, CLIENTS_RAW

    raw_clients = spark.createDataFrame(_DIRTY_CLIENTS, CLIENTS_RAW)
    clients = silver.clean_clients(raw_clients, max_date=dt.date(2025, 1, 1))
    raw = spark.createDataFrame(_DIRTY_ACHATS, ACHATS_RAW)
    return silver.clean_achats(raw, valid_clients=clients, max_date=dt.date(2025, 1, 1))


@register("quality_counters_clients", _D + """
SELECT count(*) AS initial_rows,
       CAST(sum(CASE WHEN id_client IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped_bad_id,
       CAST(sum(CASE WHEN date_inscription IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped_bad_date,
       CAST(sum(CASE WHEN NOT coalesce(contains(email, '@'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS dropped_bad_email
FROM clients
""")
def q_quality_counters_clients(spark: SparkSession, sf_dir: str) -> DataFrame:
    clients, _ = _silver_frames(spark, sf_dir)
    return silver.quality_audit(clients, kind="clients")


@register("repeat_rate", _D + """
SELECT avg(CAST(CASE WHEN cnt > 1 THEN 1 ELSE 0 END AS DOUBLE)) AS repeat_rate
FROM (SELECT id_client, count(*) AS cnt FROM fact GROUP BY id_client)
""")
def q_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = _fact(spark, sf_dir).groupBy("id_client").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.agg(
        F.avg(F.when(F.col("cnt") > 1, F.lit(1)).otherwise(F.lit(0)).cast("double")).alias("repeat_rate")
    )


@register("union_scale", _D + """
SELECT count(*) AS n, count(DISTINCT id_achat) AS n_ids,
       CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM (
    SELECT id_achat + 0 AS id_achat, montant FROM achats
    UNION ALL SELECT id_achat + 1000000000, montant FROM achats
    UNION ALL SELECT id_achat + 2000000000, montant FROM achats
)
""")
def q_union_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: dataset scaling via union-all with shifted keys
    (``scripts/benchmark.py:25-46`` reproduced as an engine op)."""
    from functools import reduce

    _, achats = _silver_frames(spark, sf_dir)
    base = achats.select("id_achat", "montant")
    copies = [
        base.select((F.col("id_achat") + F.lit(i * 1_000_000_000)).alias("id_achat"), "montant")
        for i in range(3)
    ]
    from big_data_elt_pipeline_spark.functions.core import money_sum

    u = reduce(DataFrame.unionByName, copies)
    return u.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("id_achat").alias("n_ids"),
        money_sum("montant", "total"),
    )


@register("anti_join_inactive", _D + f""",
{_REF_SQL}
SELECT c.id_client, c.nom, c.pays
FROM clients c
WHERE NOT EXISTS (
    SELECT 1 FROM achats a
    WHERE a.id_client = c.id_client
      AND a.date_achat >= (SELECT ref FROM refd) - INTERVAL 90 DAY
)
""")
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (J4 complement): clients with no purchase in the 90
    days before the dataset reference date — lapsed-client detection."""
    import datetime as _dt

    clients, achats = _silver_frames(spark, sf_dir)
    ref = _ref_date(spark, sf_dir)
    recent = achats.filter(F.col("date_achat") >= F.lit(ref - _dt.timedelta(days=90)))
    return clients.join(recent.select("id_client"), "id_client", "left_anti").select(
        "id_client", "nom", "pays"
    )


# extended registries (register themselves on import; import at the tail so
# `register` is already defined)
from big_data_elt_pipeline_spark.plans import curation_queries  # noqa: E402,F401
from big_data_elt_pipeline_spark.plans import events_queries  # noqa: E402,F401
from big_data_elt_pipeline_spark.plans import lakehouse_queries  # noqa: E402,F401
from big_data_elt_pipeline_spark.plans import ml_queries  # noqa: E402,F401
from big_data_elt_pipeline_spark.plans import olap_queries  # noqa: E402,F401
from big_data_elt_pipeline_spark.plans import text_queries  # noqa: E402,F401

# --------------------------------------------------------------------------
# Driver-gate ordering. The driver correctness-checks exactly the FIRST
# GATE_LIMIT registered queries in registration order (round-1 finding), so
# window membership is made EXPLICIT here instead of depending on import
# order. Rotation history: round 3 swapped in the 8 queries that sat past
# the cap in rounds 1-2 (all earned green rows — r02∪r03 covers every
# oracle-backed query). Round-4 rotation: IN — ``attribution_join`` (newly
# oracle-backed batch twin of the stream-stream join), plus ``repeat_rate``
# / ``serving_daily`` / ``kpis`` (rotated out in r03; fresh driver evidence
# after the corpus regeneration); OUT — four r03-green same-family members
# (``ca_product`` → A3 keeps ca_monthly+ca_country; ``serving_weekly`` →
# A4 keeps serving_daily; ``kpis_extended`` → A7 keeps kpis;
# ``quality_counters_clients`` → P9 keeps quality_counters). The two
# NEW round-4 operators (``doc_keywords``, ``corpus_curation``) take the
# slots of r03-green ``events_session_window`` (events family keeps
# tumbling/sessionize/props/daily_share) and ``calendar_dense_monthly``
# (OLAP family keeps rollup/cube/cumulative); the five round-4 governance
# operators (``pii_scrub``/``doc_repetition``/``contamination_check``/
# ``mixture_sample``/``vocab_topk``) take the slots of r03-green
# ``set_ops_users`` (U-family keeps union_scale), ``multimodal_features``,
# ``pivot_event_counts`` (OLAP keeps cube/rollup/cumulative),
# ``to_reactivate`` (top-k family keeps top_clients/top_opportunities) and
# ``events_props`` (events family keeps tumbling/sessionize/daily_share).
# Final round-4 pass: every oracle-backed query NEW this round earns a
# driver slot — IN ``doc_chunking``/``doc_packing``/``tpch_q3``/
# ``grouping_sets_sales``; OUT r03-green ``cube_sales`` (OLAP keeps
# rollup/cumulative/grouping-sets), ``events_daily_share`` (events keeps
# tumbling/sessionize + attribution), ``tpch_q1_sql`` (TPC-H-shape slot
# passes to q3, which exercises joins; q1 keeps its r03 row + local
# sweep) and ``top_opportunities`` (top-k keeps top_clients).
# Rows-only queries stay out of the window (they'd burn a slot on the
# weaker check).
# Round-5 rotation (verdict prescriptions 1/4/6): IN — ``training_mixture``
# and ``lang_label_audit`` (the only oracle-backed queries that had never
# held a driver slot; with them, r02∪…∪r05 covers every oracle-backed
# query ever registered), ``ann_ivf_recall`` (new IVF quality gate),
# ``tpch_q18`` and ``tpch_q16`` (new having-semi-join and
# anti-join+countDistinct plan families). OUT — five green members whose
# families keep other gated coverage: ``mixture_sample`` (subsumed by the
# training_mixture composite, which ends in the same sampler),
# ``repeat_rate`` (A10; scalar-KPI family keeps ``kpis``), ``ca_country``
# (A3 keeps ca_monthly, plus the salted/incremental country twins stay
# gated), ``anti_join_inactive`` (anti-join family passes to tpch_q16),
# and ``doc_token_budget`` (text-stats family keeps
# doc_stats/doc_keywords/corpus_curation).
# Demoted queries still run under the local pytest oracle harness
# (tests/test_oracle_parity.py sweeps every registered name).
# Round-5 second pass — every oracle-backed query NEW this round earns a
# driver slot: IN ``dedup_clusters`` (connected-component resolution, the
# round's flagship), ``tpch_q13``/``tpch_q17``/``tpch_q22`` (outer-join
# distribution / decorrelated-avg / scalar-threshold anti-join families)
# and ``events_enriched`` (stream-static twin). OUT five r04-green members
# whose families keep gated coverage: ``tpch_q3`` (TPC-H keeps
# q18/q16/q13/q17/q22; q3 keeps its r04 row + pushdown plan test),
# ``dedup_ngram_jaccard`` (dedup keeps exact/minhash/clusters + the
# lossless-vs-brute-force pytest), ``grouping_sets_sales`` (OLAP keeps
# rollup/cumulative), ``attribution_join`` (events keep
# tumbling/sessionize/enriched; the stream twin test still pins it) and
# ``embedding_neardup`` (similarity keeps ann_topk/ann_lsh/ann_ivf_recall).
# Round-5 third pass — seat the round's remaining unseated oracle-backed
# queries so "new this round => driver slot" holds for ALL of round 5:
# IN ``dedup_incremental`` (exact per-ingest decisions),
# ``dedup_incremental_minhash`` (near-dup per-ingest decisions) and
# ``lakehouse_pruned_read`` (data-skipping read path). OUT three green
# members with retained family coverage: ``range_join_bands`` (join zoo
# keeps asof + cumulative frames; r04 row + sweep), ``union_scale``
# (U1 keeps its r04 row; set-op sweep still local-green) and
# ``quality_counters`` (P9 keeps the r03-green clients variant + silver
# rows). Also IN ``dedup_winnow`` (winnowing/MOSS fingerprints — a fourth
# near-dup algorithm family) for OUT ``doc_packing`` (text family keeps
# doc_stats/doc_keywords/doc_chunking/corpus_curation; packing keeps its
# r04 row + the capacity-invariant pytest). And IN ``tpch_q5`` (snowflake
# multi-hop join with the correlated local-supplier predicate) +
# ``events_unpivot`` (wide->long MELT — a relational direction nothing
# else covers) for OUT ``dedup_exact`` (its fingerprint logic is a strict
# subset of the gated ``dedup_incremental``; r04 row + sweep) and
# ``serving_daily`` (A4 keeps serving_weekly's r03 row and daily's r04
# row). Final round-5 seat: IN ``docstore_roundtrip`` (the Python
# DataSource serving format under the value-hash gate — write + read back
# must be bit-exact) for OUT ``silver_clients`` (r04 row; P1/P3/P6 stay
# covered by the r02-green dirty-variant rows, silver_achats, and
# test_silver). Plus IN ``client_quartiles`` (ranking-window trio:
# ntile/percent_rank/cume_dist, partitioned) and ``embedding_stats``
# (higher-order array functions with a sequential-fold-exact oracle) for
# OUT ``contamination_check`` (subsumed by the gated ``training_mixture``
# composite's decontamination stage, same reasoning as mixture_sample;
# r04 row) and ``doc_keywords`` (text family keeps
# doc_stats/corpus_curation/vocab_topk; r04 row + plan-shape test).
# And IN ``expectations_audit`` (declarative data-quality rules: fused
# one-pass audit with planted dirt over every rule class) for OUT
# ``pii_scrub`` (its redaction stage is the gated ``training_mixture``
# composite's FIRST stage — same subsumption; r04 row + test_curation).
# Round-6 rotation (r5 verdict prescription 5): the seven queries that are
# rows-only BY DOCUMENTED CONTRACT (iterative k-means quantizer, binary
# codecs, engine-defined sketch values, true streaming) had sat past slot
# 50 since registration and never produced ANY driver row. They now hold
# the tail of the window as an explicit ROWS-ONLY ANNEX — the driver
# records their rows-only result, making "it actually ran under the
# driver" part of the record; their value-level semantics stay pinned by
# the pytest contracts (equals-batch, recall-vs-brute-force, bit-identical
# sketch merge, closed-form codec assertions). IN — ``ann_ivf_topk``,
# ``audio_features``, ``image_features``, ``hll_monthly_distinct``,
# ``stream_attribution``, ``stream_dedup``, ``stream_enrich`` (each drives
# its stream to completion via processAllAvailable and returns a batch
# DataFrame, so the driver can execute it like any other query). OUT —
# seven green members with retained family coverage: ``vocab_topk`` (text
# keeps doc_stats/doc_chunking/corpus_curation; r04+r05 rows),
# ``dedup_incremental`` (exact-dedup logic is a strict subset of the gated
# ``dedup_incremental_minhash``; r05 row), ``events_tumbling`` (events
# keep sessionize/enriched/unpivot, and the annex adds the true-streaming
# twins; r05 row), ``tpch_q13`` (TPC-H keeps q18/q16/q17/q22/q5; r05 row),
# ``cumulative_monthly_revenue`` (frame-spec family keeps
# client_quartiles + rollup_sales_monthly; r05 row), ``monthly_growth``
# (W1 lag r05 row; serving keeps distribution/kpis/top_clients) and
# ``cohort_first_purchase`` (J5/A6 r05 row; join family keeps
# fact/dim/features).
# Round-6 second pass — every oracle-backed query NEW this round earns a slot:
# IN the nine TPC-H plan families ``tpch_q4/q7/q8/q10/q11/q12/q14/q15/
# q19``, ``bm25_topk`` (ranked retrieval), ``dedup_blocks``
# (paragraph-level dedup) and ``event_funnel`` (strict-order funnel); OUT
# twelve r05-green members with retained family coverage: the five r05
# TPC-H rows ``tpch_q18/q16/q17/q22/q5`` (the nine new shapes keep the
# family's breadth; the old five keep r05 rows + the local sweep),
# ``doc_chunking`` (text keeps doc_stats/corpus_curation + bm25/blocks),
# ``embedding_stats`` (similarity keeps ann_topk/ann_lsh/ann_ivf_recall),
# ``events_sessionize`` (events keep enriched + funnel + unpivot + the
# stream annex), ``rollup_sales_monthly`` (OLAP keeps client_quartiles),
# ``asof_event_purchase`` (join zoo passes to the TPC-H nine + the
# funnel's chained min-joins), ``dedup_winnow`` (dedup keeps
# minhash/clusters/incremental_minhash + new blocks) and
# ``grouped_center`` (pandas-exchange family keeps profile_documents +
# the annex codecs). Round-6 third pass: IN ``tpch_q6`` (the pure-scan
# no-join aggregate — the query IS its pushdown), ``tpch_q21``
# (semi-plus-anti self-correlation with inequality residuals) and
# ``semantic_dedup`` (SemDeDup-style embedding-cluster keep/drop
# composite); OUT r05-green ``events_unpivot`` (MELT keeps its r05 row;
# events keep enriched + funnel), ``scd2_merge`` (lakehouse family keeps
# pruned_read/docstore_roundtrip/incremental_ca_country; r05 row) and
# ``serving_distribution`` (A9 keeps its r05 row + the Hypothesis
# property test; serving keeps kpis/top_clients).
# Round-6 fourth pass: IN ``rolling_7day_revenue`` (the registry's first
# VALUE-based RANGE frame — empty days age out of the window),
# ``events_resample`` (dense time-grid + forward fill, the distributed
# resample().ffill() idiom) and ``amount_outliers`` (z-score anomaly
# detection from exact decimal moments); OUT r05-green
# ``salted_ca_country`` (skew family keeps incremental_ca_country + the
# salted-equals-unsalted pytest), ``events_enriched`` (events keep
# funnel + resample + the annex stream twins; the stream_enrich equality
# pytest still pins it) and ``segment_summary`` (gold keeps
# client_scores/dim_clients/kpis; exact-median A5 keeps its r05 row).
# Round-6 fifth pass: IN ``revenue_chain_recursive`` (Spark 4.1 native
# WITH RECURSIVE walking each client's lead-linked YEARLY chain with a
# running-sum payload, proven against the row_number + window-sum closed
# form; depth-bounded at ~7 rounds — the purchase-grain walk measured
# 78 s because every recursion round is a full Spark job — and the probe that found recursive UNION
# unsupported, which is why the CC loop stays pointer-jumping) and
# ``events_props_variant`` (Spark 4 VARIANT shredding: parse_json once,
# typed variant_get extraction); OUT r05-green ``lang_label_audit`` (the
# gated ``training_mixture`` composite CONTAINS the lang-ID stage; text
# keeps doc_stats/corpus_curation/bm25/blocks) and ``grouped_center``
# (pass-2 intended this rotation — the pandas-exchange family keeps
# profile_documents plus the annex codec queries; r05 row), plus
# ``incremental_ca_country`` (r05 row; the foreachBatch-equals-batch
# pytest and the gated streaming annex keep incremental maintenance
# covered).
# Round-7 rotation — every oracle-backed query NEW this round seats in its
# debut round (the r6 discipline): IN ``tpch_q2`` (correlated scalar-min
# decorrelation — the one shape the family lacked), ``tpch_q9``
# (LIKE-filtered profit rollup with the window-min partsupp proxy),
# ``tpch_q20`` (nested semi-join with a per-(part,supplier) scalar
# threshold) — completing all 22 TPC-H plan families — and
# ``dedup_substrings`` (exact substring dedup at arbitrary offsets, the
# Lee et al. 2022 class; r6 verdict #3). OUT four r06-green members with
# retained family coverage: ``tpch_q15`` (its scalar-vs-own-aggregate
# decorrelation is the global-max cousin of new q2's per-group min; r06
# row + the local sweep), ``tpch_q14`` (conditional-ratio kept by the
# gated q8; r06 row), ``tpch_q10`` (join+rollup+topk kept by top_clients
# and the remaining ten gated TPC-H rows; r06 row) and
# ``expectations_audit`` (governance keeps corpus_curation +
# training_mixture; r04/r06 rows + the quarantine pytest contract).
# Round-7 second pass: IN ``dsir_weights`` (DSIR importance resampling —
# hashed-bigram target-vs-raw log-ratio weights, the quantized-decimal
# determinism idiom); OUT r06-green ``doc_repetition`` (the Gopher
# repetition metrics keep their r04/r06 driver rows plus the local sweep
# and a map-only plan nothing else shares a failure mode with; the text
# family stays covered by doc_stats/corpus_curation/bm25/blocks/substr).
# Round-7 third pass: IN ``dedup_incremental_substrings`` (per-ingest
# substring spans probed against the corpus window index — the
# operational form of the new substring operator); OUT r06-green
# ``tpch_q12`` (its two-way conditional-count rollup is the
# single-fact cousin of gated q8's conditional-sum ratio; r06 row + the
# local sweep keep it pinned, and TPC-H retains ten gated rows).
# Round-7 fourth pass: IN ``dedup_span_removal`` (the cleaned-corpus
# materialization — detect AND remove, closing the Lee et al. loop); OUT
# r06-green ``events_resample`` (its r06 row + the local sweep stand;
# events keep funnel + props_variant + the streaming annex).
# Round-8 rotation — debut-round seating for both new oracle-backed
# queries: IN ``dsir_select`` (the DSIR resampling composite — weights ->
# deterministic exact top-k selection audit; r7 verdict #4) and
# ``dedup_incremental_span_removal`` (the per-ingest write path — batch
# spans vs the corpus index MATERIALIZED as cleaned batch text; r7
# verdict #5). OUT two r07-green TPC-H members with retained family
# coverage: ``tpch_q4`` (its exists-semi-join conditional count is kept
# by gated q21's richer semi+anti composition and new-in-r7 q20's nested
# semi-join; r07 row + the local sweep) and ``tpch_q7`` (its two-nation
# equi-join rollup is the narrower cousin of gated q8's and q9's
# snowflake rollups; r07 row + the local sweep). TPC-H keeps 8 gated
# rows spanning every distinct plan family in the 22.
# Round-8 second pass — debut-round seating for the four new
# oracle-backed queries: IN ``c4_quality_filter`` (C4 heuristic line/doc
# cleaning with per-rule audit), ``lm_perplexity_filter`` (CCNet-style
# hashed-bigram LM fluency cut at the exact median),
# ``bloom_decontaminate`` (fixed-broadcast bloom variant of
# benchmark_overlap) and ``pagerank_centrality`` (bigint fixed-point
# PageRank — the only value-hashable form of an iterative float
# algorithm). OUT four multi-round-green members with retained family
# coverage: ``dedup_minhash`` (green r02-r07; dedup keeps
# clusters/blocks/substrings/span_removal + all three incremental forms +
# semantic), ``ann_lsh_topk`` (green r03-r07; similarity keeps
# ann_topk/ann_ivf_recall/ann_quantized_topk + the annex ann_ivf_topk),
# ``profile_documents`` (multi-round green; the pandas-exchange family
# keeps the annex codec queries + the profiling pytest contract) and
# ``kpis`` (green r03-r07; serving keeps top_clients, and the same
# scalar-KPI arithmetic is embedded in client_scores' threshold pass).
# Round-8 third pass: IN ``nb_lang_classifier`` (multinomial Naive Bayes
# trained AND applied relationally — a value-hashable ML classifier),
# ``gopher_quality_filter`` (the Gopher §A1.1 document-level rule table)
# and ``temperature_mixture`` (sqrt-temperature mixture reweighting); OUT
# three multi-round-green members with retained family coverage:
# ``docstore_roundtrip`` (green r05-r07; the lakehouse/serving-store
# family keeps lakehouse_pruned_read, and the bit-equal round-trip stays
# pinned by test_docstore), ``dedup_clusters`` (green r05-r07; dedup
# keeps blocks/substrings/span_removal + the three incremental forms +
# semantic_dedup, and the CC pointer-jumping loop keeps its
# lossless-vs-brute pytest) and ``training_mixture`` (green r05-r07; its
# four stages each have gated or swept coverage — pii_scrub swept,
# lang audit inside nb/lang queries, decontamination now gated via
# bloom_decontaminate, sampling via corpus_split/priority_sample — and
# the composite stays in the local parity sweep).
# Round-8 fourth pass: IN ``url_domain_filter`` (the C4/RefinedWeb
# URL-level stage: host extraction, registered-domain reduction, host+TLD
# blocklists) and ``doc_length_quantiles`` (exact interpolated percentile
# TABLE from a value histogram — percentile() state is corpus-sized and
# OOMs at billions of rows; this is the scale-correct form, weighted
# interpolation pinned to 1 ulp against both engines); OUT two
# multi-round-green members with retained family coverage:
# ``semantic_dedup`` (green r06-r07; dedup keeps blocks/substrings/
# span_removal + the incremental forms, and the SemDeDup composite keeps
# its keep/drop pytest contract) and ``event_funnel`` (green r06-r07;
# events keep props_variant + the streaming annex twins, and the
# strict-order funnel keeps its 0/0->NULL pytest pin).
# Round-8 fifth pass: IN ``embedding_covariance`` (the d x d covariance
# of the embedding cloud as relational algebra — exact-decimal sums make
# a linear-algebra artifact value-hashable, which RowMatrix's float path
# cannot be); OUT ``bm25_topk`` (green r06-r07, and new-in-r8
# ``hybrid_rrf_topk`` gates the SAME BM25 machinery — shared _bm25_ctes
# oracle builder — composed with the vector leg at depth 50; bm25_topk
# keeps its rows + the local sweep).
# Round-8 sixth pass: IN ``pca_top_component`` (power-iteration principal
# component over the relational covariance — snapped arithmetic makes the
# eigenvector itself value-hashable, converged or not); OUT ``ann_topk``
# (green since r03, and the SAME brute_force_topk kernel is the vector
# leg inside gated ``hybrid_rrf_topk``; similarity keeps
# ann_ivf_recall/ann_quantized_topk/covariance + the annex ivf_topk).
# Round-8 seventh pass: IN ``kmeans_centroids`` (Lloyd's k-means as a
# fixed point of exact arithmetic — the value-hashable twin of the annex
# pyspark.ml ``ml_kmeans_segments``, closing the last rows-only ML story
# with an oracle-checked form); OUT ``doc_stats`` (green r02-r07; the
# text-stats family keeps c4/gopher/lm filters + doc_length_quantiles,
# which consume the same token/quality machinery, and doc_stats stays in
# the local parity sweep).
# Round-8 eighth pass: IN ``classifier_auc`` (exact ROC-AUC via integer
# rank-sum with average-rank ties over a bounded distinct-score relation —
# the evaluation loop for every filter/classifier in the repo); OUT
# ``corpus_curation`` (green r04-r07; every stage of the composite is
# individually gated — quality via c4/gopher filters, language via
# nb_lang_classifier, exact dedup via dedup_blocks/substrings — and the
# composite stays in the local parity sweep).
# Round-8 ninth pass: IN ``logreg_quality_model`` (hard-sigmoid logistic
# regression trained by snapped full-batch GD — the third value-hashable
# trainer after NB and fixed-point k-means; the hard sigmoid is a
# determinism requirement since IEEE exp is not correctly rounded); OUT
# ``client_quartiles`` (green r05-r07; the ranking-window family keeps
# top_clients gated, exact quantiles stay gated via doc_length_quantiles
# and client_scores, and the ntile contract stays in the local sweep).
# Round-8 tenth pass: IN ``bpe_merges`` (BPE tokenizer training as
# relational rounds — the greedy left-to-right non-overlapping merge is a
# gaps-and-islands parity filter; merge table pinned against an
# imperative Python BPE in pytest AND the DuckDB oracle); OUT
# ``ann_ivf_recall`` (green r05-r07; similarity keeps
# ann_quantized_topk / hybrid_rrf_topk / covariance / pca / kmeans gated,
# the annex keeps ann_ivf_topk, and the recall contract stays pinned in
# test_ivf + the local sweep).
# Round-8 eleventh pass: IN ``lang_id_report`` (per-class
# precision/recall/F1 of the heuristic language ID — the hard-decision
# companion of classifier_auc; exact integer counts, NULL-pinned ratio
# cells); OUT ``dedup_incremental_minhash`` (green r05-r07; the
# incremental-dedup family keeps incremental_substrings and
# incremental_span_removal gated, and the minhash form keeps its
# pytest + the local sweep).
# Round-8 twelfth pass: IN ``curation_recipe`` (the end-to-end
# RefinedWeb/FineWeb stage chain — URL -> C4 -> Gopher -> LM -> exact
# dedup over successive survivor sets with the per-stage attrition
# audit; its oracle COMPOSES the same stage SQL the individual gates
# run); OUT ``dsir_weights`` (gated r07-r08 debut window served; its
# weight CTEs are literally embedded in gated ``dsir_select``'s oracle,
# so the machinery keeps a gate seat, and the weights table stays in
# the local sweep).
# Round-9 rotation (the r8 verdict's prescription #2: the six
# never-driver-gated queries debut). IN ``bpe_vocab`` / ``bpe_doc_tokens``
# (the learned-piece histogram + per-doc token counts under the trained
# merges — the BPE family's apply side, oracle-exact), ``embedding_audit``
# (vector-table hygiene; NULL-component handling unified across engines
# this round), ``knn_graph_mutual`` / ``knn_semantic_clusters`` (the
# mutual-kNN edge relation + SemDeDup-style CC clustering, now over
# CENTERED sign buckets — the r8 weak-plan fix, mirrored in the oracle).
# OUT ``dedup_blocks`` (green r06-r08; the dedup family keeps substrings/
# span_removal/both incrementals gated), ``lakehouse_pruned_read`` (green
# r05-r08), ``rolling_7day_revenue`` / ``amount_outliers`` (green r06-r08;
# window + exact-moment families keep their pytest + local sweep),
# ``events_props_variant`` (green r06-r08). Annex: ``stream_doc_scoring``
# debuts (streaming model scoring, rows-only by documented contract with
# the stream==batch pytest pin) for ``stream_dedup`` (executed r06-r08;
# keeps its equals-batch pytest + local sweep).
# Round-9 second wave (same-round seating, so no never-gated debt
# accrues): IN ``ccnet_perplexity_buckets`` (head/middle/tail tertile
# partition — Wenzek'20 §4.4, exact histogram tertiles),
# ``retrieval_eval`` (exact MAP/nDCG@10 of BM25 vs conjunctive ground
# truth; shared 12-dp discount/IDCG literal tables),
# ``tokenizer_fertility`` (per-language subword fertility audit),
# ``vocab_coverage`` (top-k token-occurrence share via distributed
# TakeOrdered). OUT ``dedup_substrings`` / ``dedup_span_removal`` (green
# r07-r08, code unchanged this round; the family keeps BOTH incremental
# forms gated and the r9 A/B exhibit), ``tpch_q2`` / ``tpch_q20`` (green
# r07-r08; q9 keeps the family seat).
# Round-9 third pass (same-round seating): IN ``source_mixture``
# (per-source shares + Shannon entropy of the source distribution — the
# mixture-design diversity scalar; snapped-ln on the bounded source
# table, shared ln(2) literal) and ``vocab_drift`` (L1 distance between
# the doc_id-parity halves' word distributions — the train/val shift
# gate). OUT ``dedup_incremental_substrings`` (green r07-r08; the
# incremental family keeps ``dedup_incremental_span_removal``, which
# composes the same span kernel) and ``fact_achats`` (green r01-r08; the
# reference pipeline keeps five gated seats: silver_achats, dim_clients,
# client_features, client_scores, top_clients).
# Round-9 fourth pass (same-round seating): IN ``dedup_minhash_recall``
# (measured recall of LSH candidate generation vs the lossless
# prefix-filter truth — the eval that justifies the band/row config;
# 0.95-0.97 on the twin corpus, subset law pinned). OUT ``dim_clients``
# (green r01-r08; the reference pipeline keeps four gated seats:
# silver_achats, client_features, client_scores, top_clients).
# Round-9 fifth pass (same-round seating): IN
# ``doc_length_quantiles_by_lang`` (the GROUPED generalization of the
# bounded-state percentile kernel — per-language length quartiles from
# one grouped value histogram, equality-with-percentile() pytest). OUT
# ``revenue_chain_recursive`` (green r06-r08; the recursive-CTE shape
# keeps its pytest + the local parity sweep).
# Round-10 rotation (the r9 verdict's prescription #1: freshness). With
# the r01-r09 union at 169/169 and correctness saturated, the main rot
# risk is queries whose last DRIVER-green round is <= r4 while the code
# under them keeps being refactored — 46 such. This round seats the 33
# stalest oracle-backed ones (every r2/r3 member + the named r4 cohort)
# plus the 5 stale rows-only queries via the annex, keeping ONE gated
# representative per family that debuted r8-r9 (curation_recipe,
# dsir_select, retrieval_eval, vocab_drift, doc_length_quantiles_by_lang,
# bpe_doc_tokens, knn_semantic_clusters, hybrid_rrf_topk,
# cms_heavy_hitters, corpus_split, kmeans_centroids, stream_doc_scoring).
# OUT (all r8/r9 driver-green, local sweep retained): classifier_auc,
# ccnet_perplexity_buckets, tokenizer_fertility, vocab_coverage,
# lang_id_report, source_mixture, dedup_minhash_recall,
# dedup_incremental_span_removal, c4/lm/bloom/gopher/url filters,
# nb_lang_classifier, temperature_mixture, doc_length_quantiles,
# embedding_covariance, pca_top_component, bpe_merges, bpe_vocab,
# embedding_audit, knn_graph_mutual, ann_quantized_topk, unimax_budget,
# priority_sample, silver_achats, client_features, client_scores,
# top_clients, logreg_quality_model, tpch_q9, pagerank_centrality, and
# the r9 annex six (ann_ivf_topk, audio_features, image_features,
# hll_monthly_distinct, stream_attribution, stream_enrich — multimodal
# keeps gated coverage via the seated oracle-backed multimodal_features).
# Round-10 second pass (same-round seating of the round's new queries —
# no never-gated debt): IN ``unigram_vocab`` / ``unigram_segment`` (the
# unigram-LM tokenizer family: EM-trained piece log-probs + Viterbi
# segmentation, oracle-exact) and ``shard_manifest`` /
# ``shard_assignment`` (deterministic training-shard export: hash-ordered
# global order, token-budget shards, per-shard manifest with content
# hash). OUT four of the freshly re-seated stale members with retained
# family coverage: ``serving_daily`` (A4 keeps serving_weekly seated),
# ``silver_clients`` (P-family keeps both dirty-silver seats),
# ``union_scale`` (U-family keeps set_ops_users seated) and
# ``repeat_rate`` (scalar-KPI family keeps kpis_extended seated).
# --------------------------------------------------------------------------

GATE_LIMIT = 50

# Queries whose results are rows-only by documented contract (no SQL
# oracle can exist); allowed in the gate window so the driver executes
# them. Anything else rows-only in the window is still an error.
# r11 promotions OUT of the annex (r10 verdict #3/#4): ``kpis_approx``
# (bounded-assertion oracle: exact twins + in-bound booleans),
# ``stream_tumbling`` (stream-vs-batch comparison relation, oracle
# asserts n_mismatch=0), ``stream_user_totals`` (direct oracle: the
# integer-cents state is an associative fold DuckDB replays exactly),
# and — fourth/fifth wave — ``stream_enrich`` / ``stream_attribution`` /
# ``stream_dedup`` / ``stream_doc_scoring`` (comparison relations whose
# checksums the oracle recomputes; the scoring oracle retrains the
# fixed-point logreg in SQL).
# r12 closes the annex (r11 verdict #6): the two pyspark.ml fits — the
# last annex members — now carry bounded-assertion oracles
# (``ml_repurchase_predictor``: exact-kernel AUC-floor boolean +
# label-split census; ``ml_kmeans_segments``: ARI-vs-deterministic-twin
# floor + client census), completing the r10->r12 promotion arc. The
# only rows-only queries left in the registry are the real-codec
# audio/image features, which sit OUTSIDE the gate by design (their
# semantics are pinned analytically in tests/test_ml_multimodal.py).
ROWS_ONLY_ANNEX = frozenset()

# r13 rotation queue (write the next window from this): the r8 cohort
# (14 queries — the oldest tail after r12; GATE_HISTORY lists them) and
# as much of the r9 cohort (36) as fits. No contract-changed or
# never-gated debt is expected to carry over: every r12 debut seats
# this round.

# Round-11 rotation, HISTORY (r10 verdict #2/#3/#4/#5): the first
# all-oracle gate — every one of the 50 slots carried the full
# rows+schema+hash check (CORRECTNESS_r11: 50/50 green).
# IN:
#   - the 3 never-driver-gated queries: the classifier pair (registered
#     after the r10 gate ran) and the new ``shard_pruned_read``;
#   - the complete 12-query <=r4-stale cohort (verdict list, verbatim);
#   - the 5 r11 annex->oracle promotions debuting their new hashable
#     shapes (kpis_approx, stream_tumbling, stream_user_totals,
#     ann_ivf_topk, hll_monthly_distinct);
#   - the 5 auto-bits ANN-family queries whose code changed this round
#     (embedding_neardup, ann_lsh_topk, knn_graph_mutual,
#     knn_semantic_clusters, semantic_dedup — fresh evidence for the
#     corpus-derived widths);
#   - the 3 long-division queries changed this round (shard_assignment,
#     shard_manifest, doc_packing);
#   - 22 of the 27 r5-stale queries.
# OUT (r10-green members whose families keep gated coverage): the entire
# r10 stale-rotation cohort (all earned fresh rows last round), and 5 of
# the r5-stale with retained coverage: ``events_tumbling`` (its exact
# relation is recomputed INSIDE gated stream_tumbling's finalized-window
# oracle), ``dedup_incremental`` (strict subset of the incremental dedup
# family's r8/r9 rows), ``tpch_q13`` (TPC-H keeps 5 seated rows),
# ``salted_ca_country`` (salting kept by r10-green
# salted_distinct_products), ``incremental_ca_country`` (incremental
# family kept by r10-green incremental_ca_monthly + both gated stream
# queries). The 3 remaining ROWS_ONLY_ANNEX queries sit OUT this round —
# their rows-only records are r10-fresh and every slot spent on them
# would displace an oracle-backed hash check; pytest contracts pin their
# semantics (documented tradeoff, revisit if the annex goes >2 rounds
# without a driver row).
# --------------------------------------------------------------------------
# Round-12 rotation (r11 verdict #1/#4/#6 — executes the queued r12
# plan verbatim). Every r11-green member rotates OUT (all 50 hold fresh
# r11 rows; their families keep local-sweep + pytest coverage), freeing
# the window for the four evidence classes due this round:
#   - the 4 streaming comparison relations promoted mid-r11
#     (stream_enrich / stream_attribution / stream_dedup /
#     stream_doc_scoring): their new hashable contracts have local
#     parity + pytest but the latest driver rows are rows-only under
#     the OLD contract — the only registered queries whose newest
#     contract has never been driver-validated;
#   - the ENTIRE freshness tail: all 9 queries last driver-green at
#     <= r5, all 7 at r6, and all 23 at r7 (GATE_HISTORY.json cohorts,
#     verbatim) — after this window nothing in the registry is older
#     than r8;
#   - the r10/r9-green members displaced mid-r11 by debut swaps
#     (doc_packing, knn_graph_mutual; shard_manifest cedes again to the
#     second-wave stream_ann_probe — rationale at the list tail);
#   - the 5 r12 debuts (same-round seating, no never-gated debt): the
#     persisted-ANN-index pair (ann_index_audit re-hashes the STORED
#     codes against the oracle's from-scratch recomputation;
#     ann_index_probe answers a disjoint query set from the stored
#     index — the build-once/probe-many serving path IVFPIN.json
#     motivated) and the two pyspark.ml bounded-assertion promotions
#     (ml_repurchase_predictor: exact-kernel AUC-floor;
#     ml_kmeans_segments: ARI floor vs the deterministic Lloyd twin),
#     which close the rows-only annex entirely, plus the second-wave
#     stream_ann_probe (streaming stored-index serving, the comparison
#     -relation discipline).
# 4 + 9 + 7 + 23 + 2 + 5 = 50: the second consecutive all-oracle
# window, with zero slots spent on already-r11-fresh rows.
# --------------------------------------------------------------------------
# Round-13 rotation (r12 verdict #4 — executes the queued plan):
# IN:
#   - the 7 r13 debuts (same-round seating, no never-gated debt): the
#     persisted-BM25-index pair (bm25_index_audit re-hashes the STORED
#     postings against the oracle's from-scratch tokenize;
#     bm25_index_probe answers a disjoint query set from the stored
#     tables alone), the index-mutation pair (ann_index_delete:
#     tombstone anti-join vs an oracle that drops the same candidates;
#     ann_index_recall: the stored-index drift monitor vs exact-L2
#     ground truth), stream_retrieval_loop (the serving loop end to
#     end under one hash), hybrid_index_topk (lexical + vector legs
#     both served from the persisted indexes, RRF-fused), and
#     bm25_index_delete (text deletion with its GLOBAL stats
#     consequences — the oracle is the ad-hoc BM25 over the live
#     corpus);
#   - the 5 contract- or code-changed queries owed fresh evidence this
#     round: ann_index_audit (the chunked three-level fold is a NEW
#     hash contract), ann_index_probe (codes_version pinning + the
#     tombstone anti-join entered its plan), stream_ann_probe
#     (ann_serving checkpoint rework), bm25_topk (retrieval.py
#     refactored around the shared bm25_rank kernel), mmr_rerank (its
#     oracle gained MATERIALIZED hints — values identical by
#     construction, but the changed statement should earn a fresh row);
#   - the COMPLETE r8-stale cohort (13 — the oldest tail; GATE_HISTORY
#     lists them verbatim);
#   - 25 of the 31 oracle-backed r9-stale cohort (the cohort's other two
#     members, audio_features / image_features, are the rows-only
#     real-codec queries that sit OUTSIDE the gate by design — their
#     semantics are pinned analytically in tests/test_ml_multimodal.py).
# OUT (r11/r12-green members rotate out wholesale — all hold fresh rows;
# their families keep local-sweep + pytest coverage), plus 5 of the
# oracle-backed r9-stale whose families keep newer gated coverage:
# ``client_features`` (feature-assembly family r11-green via
# client_scores' quantile chain and the r12 ml census queries),
# ``top_clients`` (serving sort/limit family r11/r12-green via
# top_opportunities/serving_distribution), ``bpe_vocab`` (the BPE
# trainer chain is covered by seated bpe_merges, whose oracle replays
# the same merge rounds), ``dedup_incremental_span_removal`` (the span
# family seats dedup_span_removal + dedup_substrings +
# dedup_incremental_substrings this round), ``tpch_q9`` (TPC-H keeps
# 12 r12-green rows plus seated tpch_q2/q20; cedes its seat to the
# debut hybrid_index_topk), and ``classifier_auc`` (classifier family
# r11/r12-green via classifier_agreement/calibration +
# ml_repurchase_predictor, with logreg_quality_model seated this
# round; cedes to the debut bm25_index_delete). All six are queued
# first for r14.
# 7 + 5 + 13 + 25 = 50: third consecutive all-oracle window.
# --------------------------------------------------------------------------
# Round-14 rotation (r13 verdict #2 executes the queued promise, #6 adds
# the update debuts):
# IN:
#   - the 6 promised r9-stale leave-outs, FIRST as documented last round:
#     client_features, top_clients, bpe_vocab,
#     dedup_incremental_span_removal, tpch_q9, classifier_auc;
#   - the 4 r14 debuts (same-round seating, no never-gated debt):
#     ann_index_update / bm25_index_update — the delete+append document
#     -update composites under ONE publish point, probed against
#     oracles that recompute the UPDATED corpora from scratch —
#     bm25_index_rm3, RM3 pseudo-relevance-feedback expansion served
#     from the stored index (base probe -> feedback term model ->
#     weighted re-probe, one pinned snapshot; the oracle replays all
#     three stages from the raw corpus) — and sketch_overlap_triage,
#     pairwise shard-overlap estimation from merged HLL sketches under
#     a bounded-assertion oracle (exact distincts/unions/intersections
#     hash-exact, estimate within 0.05 x union asserted TRUE);
#   - the 11 contract- or code-changed queries owed fresh evidence: the
#     generation-scoped-tombstone rework touches every stored-index
#     read path (ann_index_audit gained the n_tombstones column — a NEW
#     hash contract; ann_index_probe / ann_index_delete /
#     ann_index_recall now resolve state-pinned tombstones;
#     bm25_index_audit derives n_docs from the live registry;
#     bm25_index_probe / bm25_index_delete ride the gen-scoped
#     anti-join + registry validation), mmr_rerank (adaptive round
#     layout replaced the serial coalesce(1) plan), and the composites
#     that embed those paths (stream_retrieval_loop, stream_ann_probe,
#     hybrid_index_topk);
#   - 29 of the 40-member r10-stale cohort (the oldest tail after the
#     r9 seats; GATE_HISTORY lists the cohort verbatim).
# OUT: every r11/r12/r13-green member not named above (all hold fresh
# rows; families keep local-sweep + pytest coverage), plus 9 r10
# members whose families keep newer gated coverage: ca_product
# (revenue family r12-green via ca_monthly/ca_country), serving_weekly
# (serving family r11/r13 via serving_daily/serving_distribution),
# tpch_q1_sql + tpch_q3 (TPC-H keeps 12 r12-green rows + q2/q20 r13 +
# q9 seated this round), kmeans_centroids (ml family r12/r13 via
# ml_kmeans_segments/logreg_quality_model), hybrid_rrf_topk (hybrid
# family re-seats hybrid_index_topk this round), retrieval_eval
# (retrieval family seats four bm25 index queries this round),
# bpe_doc_tokens (BPE family seats bpe_vocab this round, bpe_merges
# r13), unigram_segment (unigram family seats unigram_vocab this
# round), events_sliding (events family keeps three seats this
# round: events_daily_share/events_props/events_session_window; cedes
# to the debut bm25_index_rm3), and cube_sales (grouping-analytics
# family keeps grouping_sets_sales seated this round + rollup r11;
# cedes to the debut sketch_overlap_triage). All eleven are queued
# first for r15.
# 6 + 4 + 11 + 29 = 50: fourth consecutive all-oracle window; after it
# no oracle-backed query's latest green row is older than r10.
# --------------------------------------------------------------------------
# --------------------------------------------------------------------------
# Round-15 rotation (r14 verdict #1 executes the queued promises and
# re-gates every r14-rewritten kernel; this optimization round's own
# code-changed queries are all seated in the same window):
# IN:
#   - the 11 promised r14 leave-outs, FIRST as documented last round
#     (the complete r10-stale cohort): bpe_doc_tokens, ca_product,
#     cube_sales, events_sliding, hybrid_rrf_topk, kmeans_centroids,
#     retrieval_eval, serving_weekly, tpch_q1_sql, tpch_q3,
#     unigram_segment;
#   - the 6 r14-rewritten kernels whose latest driver-green rows predate
#     the rewrite (r14 verdict item 1; the other three named there —
#     kmeans_centroids, unigram_segment, bpe_doc_tokens — are already in
#     the cohort above): pca_top_component, logreg_quality_model,
#     kpis_approx, bpe_merges, ml_kmeans_segments,
#     ml_repurchase_predictor;
#   - the 21 queries whose code changed in THIS round's optimizations
#     and therefore owe fresh evidence: the logreg-trainer consumers
#     (classifier_agreement, classifier_calibration, classifier_auc,
#     stream_doc_scoring, curation_recipe), the map-side-sizes dedup
#     family (dedup_minhash_recall, dedup_minhash, dedup_ngram_jaccard,
#     dedup_clusters, dedup_keep_best), the _ref_date/checkpoint OLAP
#     family (dim_clients, client_features, client_scores,
#     segment_summary, anti_join_inactive, kpis_extended, top_clients,
#     to_reactivate, top_opportunities), the quantizer-fit change
#     (ann_ivf_topk), and the round-width-cap removal (mmr_rerank);
#   - 12 of the 49-member r11-stale cohort, alphabetically (the oldest
#     tail after the seats above).
# OUT: every r12/r13/r14-green member not named above (all hold fresh
# rows; families keep local-sweep + pytest coverage). The remaining 37
# r11-stale members stay queued should a later round exist; after this
# window no query's latest green row is older than r11, every r14
# kernel rewrite and every r15 optimization holds a same-round driver
# row.
# 11 + 6 + 21 + 12 = 50: fifth consecutive all-oracle window.
# --------------------------------------------------------------------------
_GATE_ORDER = [
    # the 11 promised r10-stale re-seats (r14 verdict, queued first)
    "bpe_doc_tokens", "ca_product", "cube_sales", "events_sliding",
    "hybrid_rrf_topk", "kmeans_centroids", "retrieval_eval",
    "serving_weekly", "tpch_q1_sql", "tpch_q3", "unigram_segment",
    # r14-rewritten kernels owed fresh rows (r14 verdict #1)
    "pca_top_component", "logreg_quality_model", "kpis_approx",
    "bpe_merges", "ml_kmeans_segments", "ml_repurchase_predictor",
    # r15 code-changed (this round's optimizations)
    "classifier_agreement", "classifier_calibration", "classifier_auc",
    "stream_doc_scoring", "curation_recipe",
    "dedup_minhash_recall", "dedup_minhash", "dedup_ngram_jaccard",
    "dedup_clusters", "dedup_keep_best",
    "dim_clients", "client_features", "client_scores", "segment_summary",
    "anti_join_inactive", "kpis_extended", "top_clients",
    "to_reactivate", "top_opportunities",
    "ann_ivf_topk", "mmr_rerank",
    # r11-stale cohort, first 12 alphabetically
    "ann_ivfpq_topk", "ann_lsh_topk", "ann_pq_topk",
    "asof_event_purchase", "attribution_join", "ca_country",
    "cohort_first_purchase", "contamination_check",
    "cumulative_monthly_revenue", "dedup_winnow", "doc_chunking",
    "doc_entropy",
]


def _reorder_registry() -> None:
    # import-time invariants raise real exceptions (not assert) so they
    # survive `python -O`; a silent failure here would degrade the gate to
    # import-order behavior
    missing = [n for n in _GATE_ORDER if n not in _REGISTRY]
    if missing:
        raise RuntimeError(f"gate order references unknown queries: {missing}")
    if not (len(_GATE_ORDER) == len(set(_GATE_ORDER)) == GATE_LIMIT):
        raise RuntimeError(
            f"gate order must hold exactly {GATE_LIMIT} unique names, "
            f"got {len(_GATE_ORDER)} ({len(set(_GATE_ORDER))} unique)"
        )
    gated = {n: _REGISTRY[n] for n in _GATE_ORDER}
    # gated queries must be oracle-backed unless they sit in the documented
    # rows-only annex — an UNdocumented rows-only query in the window would
    # silently burn a slot on the weaker check. (Subset, not equality: a
    # round may leave annex members out of the window when their rows-only
    # records are fresh — r11 spends every slot on hash checks.)
    rows_only = {n for n, (_, sql) in gated.items() if sql is None}
    if not rows_only <= set(ROWS_ONLY_ANNEX):
        raise RuntimeError(
            "rows-only queries inside the gate window must come from the "
            f"documented annex: unexpected={sorted(rows_only - ROWS_ONLY_ANNEX)}"
        )
    demoted = {n: v for n, v in _REGISTRY.items() if n not in gated}
    _REGISTRY.clear()
    _REGISTRY.update(gated)
    _REGISTRY.update(demoted)


_reorder_registry()
