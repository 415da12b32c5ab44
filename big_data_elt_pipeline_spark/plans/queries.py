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


@tpch.memoized("customer", "nation", "lineitem", "orders", "part")
def _fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    clients, achats = _silver_frames(spark, sf_dir)
    return gold.build_fact(achats, clients)


def _ref_date(spark: SparkSession, sf_dir: str):
    """Max ``date_achat`` over achats — the same as over fact, whose LEFT
    client join keeps the achats rows one-to-one. One action on the
    memoized ``achats`` plan."""
    return gold.reference_date(tpch.achats_df(spark, sf_dir))


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``score_clients`` over the client features, checkpointed eagerly:
    the features frame is dimension-sized but its lineage is the full
    fact build, and it feeds two consumers (the thresholds collect inside
    ``score_clients`` and the returned plan), each of which would
    otherwise replay the fact scan, joins and groupBy. (The bench harness
    unpersists query-pinned blocks after each timing, so the checkpoint
    cannot accumulate across queries.)"""
    features = gold.build_client_features(
        _fact(spark, sf_dir), tpch.clients_df(spark, sf_dir), _ref_date(spark, sf_dir)
    ).localCheckpoint(eager=True)
    return gold.score_clients(features)


# --------------------------------------------------------------------------
# Reference-surface queries
# --------------------------------------------------------------------------

@register("ca_monthly", _D + """
SELECT mois, CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
FROM fact GROUP BY mois ORDER BY mois
""")
def q_ca_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.sales_by(_fact(spark, sf_dir), "mois", "mois")


@register("ca_country", _D + """
SELECT pays, CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
FROM fact GROUP BY pays ORDER BY ca DESC
""")
def q_ca_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.sales_by(_fact(spark, sf_dir), "pays", F.desc("ca"))


@register("ca_product", _D + """
SELECT produit, CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
FROM fact GROUP BY produit ORDER BY ca DESC
""")
def q_ca_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    return gold.sales_by(_fact(spark, sf_dir), "produit", F.desc("ca"))


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
    clients = tpch.clients_df(spark, sf_dir)
    fact = _fact(spark, sf_dir)
    ref = _ref_date(spark, sf_dir)
    return gold.build_dim_clients(clients, fact, ref)


@register("client_features", _D + f",\n{_FEAT_SQL}\nSELECT * FROM feat")
def q_client_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    clients = tpch.clients_df(spark, sf_dir)
    fact = _fact(spark, sf_dir)
    ref = _ref_date(spark, sf_dir)
    return gold.build_client_features(fact, clients, ref)


@register("client_scores", _D + f",\n{_SCORES_SQL}\n"
          "SELECT id_client, prob_reachat_12m, expected_value_12m, value_at_risk_12m,\n"
          "       segment_label, recency_days, freq_12m, monetary_12m\nFROM scores")
def q_client_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scored(spark, sf_dir).select(
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
    return gold.summarize_segments(_scored(spark, sf_dir))


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
    ca_monthly = gold.sales_by(_fact(spark, sf_dir), "mois", "mois")
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
    return serving.build_kpis(_fact(spark, sf_dir), _scored(spark, sf_dir))


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
    clients = tpch.clients_df(spark, sf_dir)
    fact = _fact(spark, sf_dir)
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
# Driver-gate ordering. The driver correctness-checks exactly the first
# GATE_LIMIT registered queries in registration order, so window membership
# is listed explicitly in _GATE_ORDER instead of depending on import order;
# _reorder_registry moves those names to the front of the registry. Every
# gated query must carry a SQL oracle unless it belongs to ROWS_ONLY_ANNEX
# (rows-only by documented contract; empty today). Rotation history lives
# in git log and GATE_HISTORY.json.
# --------------------------------------------------------------------------

GATE_LIMIT = 50

ROWS_ONLY_ANNEX = frozenset()

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
