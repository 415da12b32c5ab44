"""OLAP-surface queries beyond the reference: as-of join, cube/rollup,
pivot — each with an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions.core import money_sum
from big_data_elt_pipeline_spark.operators.asof import asof_join
from big_data_elt_pipeline_spark.plans.queries import _SCORES_SQL, _scored, register
from big_data_elt_pipeline_spark.sources import tpch
from big_data_elt_pipeline_spark.sources.tpch import EVENTS_SQL, events_df

_D = tpch.domain_ctes()

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# --- set operations: users who purchased but never errored, etc. ----------

@register("set_ops_users", _D + f""",
{EVENTS_SQL.strip()},
d1 AS (SELECT * FROM ev WHERE ts < (SELECT min(ts) FROM ev) + INTERVAL 1 DAY)
SELECT user_id FROM d1 WHERE event_type = 'purchase'
INTERSECT
SELECT user_id FROM d1 WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM d1 WHERE event_type = 'error'
""")
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (absent from the reference — engine coverage):
    day-1 purchasers who also clicked but never errored."""
    import datetime as _dt

    ev = events_df(spark, sf_dir)
    start = ev.agg(F.min("ts")).first()[0]
    d1 = ev.filter(F.col("ts") < F.lit(start + _dt.timedelta(days=1)))
    purchasers = d1.filter(F.col("event_type") == "purchase").select("user_id")
    clickers = d1.filter(F.col("event_type") == "click").select("user_id")
    erroring = d1.filter(F.col("event_type") == "error").select("user_id")
    # intersect/subtract = INTERSECT/EXCEPT DISTINCT, matching the SQL
    return purchasers.intersect(clickers).subtract(erroring)


@register("kpis_approx", _D + """
SELECT count(*) AS n,
       count(DISTINCT id_client) AS exact_clients,
       TRUE AS hll_within_bound,
       TRUE AS median_within_band
FROM fact
""")
def q_kpis_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HLL distinct, GK-summary percentile) under
    a BOUNDED-ASSERTION oracle (r10 verdict #3) — the constant-memory path
    for 100 TB interactive dashboards, with the error contract checked by
    the value-hash gate instead of rows-only trust.

    Sketch VALUES are engine-defined (Spark HLL++ register hashing and
    Greenwald-Khanna summaries differ from DuckDB's HLL/t-digest), so the
    raw estimates can never hash-match. What IS cross-engine exact: the
    inputs (n, exact distinct) and the BOOLEAN assertions that each sketch
    lands inside its documented bound of the exact twin computed in the
    SAME single-pass aggregate:

    - ``hll_within_bound``: |hll - exact| <= 0.15 * exact (3x the default
      5% rsd of ``approx_count_distinct``; measured <=6.7% on all
      fixtures).
    - ``median_within_band``: the GK element (rank error 1e-4) lies
      between the exact 0.45 and 0.55 quantiles — a deliberately loose
      value-domain band implied by the rank guarantee (true rank in
      [0.4999, 0.5001] and quantile monotonicity).

    The oracle computes the exact columns and asserts the booleans TRUE;
    an out-of-bound sketch flips a boolean and fails the hash. Raw
    estimate values stay pinned by
    ``tests/test_functions.py::test_kpis_approx_contract``.
    """
    from big_data_elt_pipeline_spark.plans.queries import _fact

    fact = _fact(spark, sf_dir)
    # r14 optimization (guide §2.3 "shuffle fewer bytes"): countDistinct
    # mixed into the same agg forces Catalyst to regroup by id_client
    # first, so EVERY group carries a full exact-percentile value map +
    # HLL + GK object buffer through two exchanges (measured: the whole
    # 8-9 s of this query; at production client counts the per-group
    # percentile maps are the memory wall). Split the distinct count into
    # its own aggregate: the sketch/percentile pass stays a plain 2-phase
    # global agg with bounded partial state, the distinct pass is the
    # standard dedupe-then-count shuffle, and the one-row results cross
    # back — same values, same output schema.
    a = fact.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("id_client").alias("hll"),
        F.percentile_approx("montant", 0.5, 10000).alias("gk"),
        F.expr("percentile(montant, 0.45)").alias("p45"),
        F.expr("percentile(montant, 0.55)").alias("p55"),
    ).crossJoin(
        F.broadcast(fact.agg(F.countDistinct("id_client").alias("exact_clients")))
    )
    return a.select(
        "n",
        "exact_clients",
        (
            F.abs(F.col("hll") - F.col("exact_clients"))
            <= 0.15 * F.col("exact_clients")
        ).alias("hll_within_bound"),
        ((F.col("gk") >= F.col("p45")) & (F.col("gk") <= F.col("p55"))).alias(
            "median_within_band"
        ),
    )


@register("hll_monthly_distinct", _D + """
, per AS (
    SELECT mois, count(*) AS n_orders,
           count(DISTINCT id_client) AS exact_clients
    FROM fact GROUP BY mois
)
SELECT mois, n_orders, exact_clients, TRUE AS hll_within_bound FROM per
UNION ALL
SELECT 'ALL' AS mois,
       (SELECT count(*) FROM fact) AS n_orders,
       (SELECT count(DISTINCT id_client) FROM fact) AS exact_clients,
       TRUE AS hll_within_bound
ORDER BY mois
""")
def q_hll_monthly_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSIST-THEN-MERGE distinct counting under a BOUNDED-ASSERTION
    oracle (r10 verdict #3): per-month HLL sketches of the buyer set, then
    the all-time distinct answered by MERGING the stored monthly sketches
    — never rescanning the fact. The operational 100 TB shape: gold keeps
    one kilobyte sketch per month, and any later range ('Q3 buyers',
    'trailing 12 months') is a union of stored sketches
    (``functions/sketches.py``).

    Hash-exact columns: per-month (mois, n_orders, exact distinct) plus
    the boolean |est - exact| <= 0.1 * exact per month (measured <=2.9%
    on all fixtures; 0.1 = 2x the default rsd). The ALL row's estimate
    comes from the MERGED STORED sketches only — its boolean certifies
    the merge path's estimate against the exact all-time distinct, which
    is the property that makes stored sketches answer range queries
    without a rescan. Raw estimates + merge==direct bit-equality stay
    pinned by tests/test_sketches.py."""
    from big_data_elt_pipeline_spark.functions import sketches as SK
    from big_data_elt_pipeline_spark.operators.serving import bounded_sort
    from big_data_elt_pipeline_spark.plans.queries import _fact

    # ONE pass over the fact: its distinct (month, buyer) pairs with their
    # row counts. Per month, the pair count is the exact distinct, the
    # summed counts are n_orders, and the sketch of the pair buyers is
    # the sketch of the month's buyers (HLL state depends on the set only)
    pairs = _fact(spark, sf_dir).groupBy("mois", "id_client").agg(
        F.count(F.lit(1)).alias("n")
    )
    monthly = pairs.groupBy("mois").agg(
        SK.distinct_sketch("id_client").alias("sketch"),
        F.sum("n").cast("long").alias("n_orders"),
        F.count("id_client").alias("exact_clients"),
    )

    def judged(df: DataFrame) -> DataFrame:
        return df.select(
            "mois", "n_orders", "exact_clients",
            (
                F.abs(SK.estimate("sketch") - F.col("exact_clients"))
                <= 0.1 * F.col("exact_clients")
            ).alias("hll_within_bound"),
        )

    # the ALL row merges STORED state only: distincts via sketch union,
    # the additive count via SUM of per-month counts — no fact rescan for
    # the ESTIMATE (the exact twin it is judged against is one
    # countDistinct over the pairs, the assertion's price of admission)
    total = monthly.agg(
        SK.union_sketch().alias("sketch"),
        F.sum("n_orders").cast("long").alias("n_orders"),
    ).crossJoin(pairs.agg(F.countDistinct("id_client").alias("exact_clients")))
    return bounded_sort(
        judged(monthly).unionByName(
            judged(total.withColumn("mois", F.lit("ALL")))
        ),
        "mois",
    )


# --- as-of join: each event gets the user's latest purchase at/before ts ---

@register("asof_event_purchase", _D + f""",
{EVENTS_SQL.strip()},
-- right side deduped to one row per (user, ts): max id_achat wins
r AS (
    SELECT id_client, date_achat, montant FROM (
        SELECT id_client, date_achat, montant,
               row_number() OVER (
                   PARTITION BY id_client, date_achat ORDER BY id_achat DESC
               ) AS rn
        FROM achats
    ) WHERE rn = 1
)
SELECT e.event_id, e.user_id, e.ts,
       r.date_achat AS asof_date_achat,
       r.montant AS asof_montant
FROM ev e ASOF LEFT JOIN r
  ON e.user_id = r.id_client AND r.date_achat <= e.ts
""")
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    achats = tpch.achats_df(spark, sf_dir)
    events = events_df(spark, sf_dir).select("event_id", "user_id", "ts")
    w = Window.partitionBy("id_client", "date_achat").orderBy(F.desc("id_achat"))
    right = (
        achats.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id_client", "date_achat", "montant")
    )
    return asof_join(
        events,
        right.withColumnRenamed("id_client", "user_id"),
        key="user_id",
        left_ts="ts",
        right_ts="date_achat",
        payload=["date_achat", "montant"],
    )


# --- range (non-equi) join: amounts bucketed into price bands -------------

PRICE_BANDS = [
    ("low", 0.0, 20000.0),
    ("mid", 20000.0, 60000.0),
    ("high", 60000.0, 120000.0),
]

_BANDS_SQL = "bands(label, lo, hi) AS (VALUES " + ", ".join(
    f"('{l}', {lo}, {hi})" for l, lo, hi in PRICE_BANDS
) + ")"


@register("range_join_bands", _D + f""",
{_BANDS_SQL}
SELECT b.label, count(*) AS n,
       CAST(sum(CAST(a.montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
FROM achats a JOIN bands b ON a.montant > b.lo AND a.montant <= b.hi
GROUP BY b.label ORDER BY b.label
""")
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join against a broadcast band table: Catalyst executes
    a BroadcastNestedLoopJoin — correct for dimension-sized range tables;
    for two large interval sets, bucketize + equi-join (the as-of pattern).
    """
    achats = tpch.achats_df(spark, sf_dir)
    bands = spark.createDataFrame(PRICE_BANDS, "label string, lo double, hi double")
    return (
        achats.join(
            F.broadcast(bands),
            (F.col("montant") > F.col("lo")) & (F.col("montant") <= F.col("hi")),
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), money_sum("montant", "ca"))
        .orderBy("label")
    )


@register("cumulative_monthly_revenue", _D + """
, cam AS (
    SELECT mois, CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
    FROM fact GROUP BY mois
)
SELECT mois, ca,
       CAST(sum(CAST(ca AS DECIMAL(18,4))) OVER (ORDER BY mois ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS ca_cum,
       CAST(sum(CAST(ca AS DECIMAL(18,4))) OVER (ORDER BY mois ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / count(*) OVER (ORDER BY mois ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ca_ma3
FROM cam ORDER BY mois
""")
def q_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame specs (rowsBetween): running total + 3-month moving
    average. Frames sum in DECIMAL: engines accumulate frames in different
    orders (DuckDB uses a segment tree), so double addition drifts — exact
    decimal addition is associative and therefore order-proof."""
    from big_data_elt_pipeline_spark.plans.queries import _fact

    cam = _fact(spark, sf_dir).groupBy("mois").agg(money_sum("montant", "ca"))
    w = Window.orderBy("mois")
    dec = F.col("ca").cast("decimal(18,4)")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    ma = w.rowsBetween(-2, 0)
    return (
        cam.withColumn("ca_cum", F.sum(dec).over(cum).cast("double"))
        .withColumn(
            "ca_ma3",
            F.sum(dec).over(ma).cast("double") / F.count(F.lit(1)).over(ma),
        )
        .orderBy("mois")
    )


# --- cube: revenue by (pays, annee) with all subtotal combinations --------

@register("cube_sales", _D + """
SELECT pays, annee,
       CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca,
       count(*) AS n
FROM fact GROUP BY CUBE (pays, annee)
""")
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_elt_pipeline_spark.plans.queries import _fact

    return (
        _fact(spark, sf_dir)
        .cube("pays", "annee")
        .agg(money_sum("montant", "ca"), F.count(F.lit(1)).alias("n"))
    )


@register("rollup_sales_monthly", _D + """
SELECT annee, mois,
       CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca
FROM fact GROUP BY ROLLUP (annee, mois)
""")
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from big_data_elt_pipeline_spark.plans.queries import _fact

    return _fact(spark, sf_dir).rollup("annee", "mois").agg(money_sum("montant", "ca"))


# --- pivot: daily event counts, one column per event type -----------------

_PIVOT_COLS = ",\n       ".join(
    f"CAST(count(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS {t}"
    for t in EVENT_TYPES
)


# --- opportunity lists (reference scripts/train_predictor.py:184-190) -----

_SEL = "SELECT id_client, expected_value_12m, value_at_risk_12m, recency_days\nFROM scores"


@register("top_opportunities", _D + ",\n" + _SCORES_SQL + _SEL + """
ORDER BY expected_value_12m DESC, id_client ASC LIMIT 20
""")
def q_top_opportunities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 by expected value (deterministic id tie-break)."""
    return (
        _scored(spark, sf_dir)
        .select("id_client", "expected_value_12m", "value_at_risk_12m", "recency_days")
        .orderBy(F.desc("expected_value_12m"), F.asc("id_client"))
        .limit(20)
    )


@register("to_reactivate", _D + ",\n" + _SCORES_SQL + _SEL + """
ORDER BY value_at_risk_12m DESC, recency_days DESC, id_client ASC LIMIT 20
""")
def q_to_reactivate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 at-risk: multi-key mixed-direction sort (O3)."""
    return (
        _scored(spark, sf_dir)
        .select("id_client", "expected_value_12m", "value_at_risk_12m", "recency_days")
        .orderBy(F.desc("value_at_risk_12m"), F.desc("recency_days"), F.asc("id_client"))
        .limit(20)
    )


@register("pivot_event_counts", _D + f""",
{EVENTS_SQL.strip()}
SELECT strftime(ts, '%Y-%m-%d') AS day,
       {_PIVOT_COLS}
FROM ev GROUP BY strftime(ts, '%Y-%m-%d') ORDER BY day
""")
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = events_df(spark, sf_dir)
    out = (
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", EVENT_TYPES)  # explicit values: no extra pass
        .count()
        .na.fill(0)
        .orderBy("day")
    )
    return out


@register("client_quartiles", _D + """,
per_client AS (
    SELECT id_client, pays,
           CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM fact GROUP BY id_client, pays
)
SELECT id_client, pays, total,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM per_client
WINDOW w AS (PARTITION BY pays ORDER BY total, id_client)
""")
def q_client_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window family (ntile / percent_rank / cume_dist) — the
    distribution-rank trio no other query covers, PARTITIONED by country
    (a global ntile would be the single-partition anti-pattern; per-group
    ranking is both the realistic ask and the scale-safe plan). Total
    order inside each partition is (total, id_client) so ntile boundaries
    are deterministic under ties."""
    from big_data_elt_pipeline_spark.plans.queries import _fact

    per_client = (
        _fact(spark, sf_dir)
        .groupBy("id_client", "pays")
        .agg(money_sum("montant", "total"))
    )
    w = Window.partitionBy("pays").orderBy("total", "id_client")
    return per_client.select(
        "id_client", "pays", "total",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


_UNPIVOT_BRANCHES = "\nUNION ALL\n".join(
    f"SELECT day, '{t}' AS event_type, {t} AS n FROM wide" for t in EVENT_TYPES
)


@register("events_unpivot", _D + f""",
{EVENTS_SQL.strip()},
wide AS (
    SELECT strftime(ts, '%Y-%m-%d') AS day,
       {_PIVOT_COLS}
    FROM ev GROUP BY strftime(ts, '%Y-%m-%d')
)
{_UNPIVOT_BRANCHES}
ORDER BY day, event_type
""")
def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long round trip: the pivot_event_counts wide table melted
    back to (day, event_type, n) with Spark's native ``unpivot`` — the
    relational MELT operator no other query covers. Zero-filled before
    melting so the long table is a DENSE day x type grid (downstream
    time-series consumers need explicit zeros, not missing rows).

    Scale shape: one shuffle for the day rollup; the melt itself is a
    map-only Expand (each wide row emits |types| long rows) — no extra
    exchange, no Python."""
    events = events_df(spark, sf_dir)
    wide = (
        events.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0)
    )
    return (
        wide.unpivot(["day"], EVENT_TYPES, "event_type", "n")
        .orderBy("day", "event_type")
    )


@register("grouping_sets_sales", _D + """
SELECT pays, produit,
       CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca,
       count(*) AS n,
       CAST(grouping(pays) AS INT) AS g_pays,
       CAST(grouping(produit) AS INT) AS g_produit
FROM fact GROUP BY GROUPING SETS ((pays), (produit), ())
""")
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (per-country, per-product, grand total in
    one pass — the general form cube/rollup specialize) with grouping()
    flags to disambiguate real NULL keys from aggregation placeholders.
    One Expand + one shuffle, identical plan family to CUBE."""
    from big_data_elt_pipeline_spark.plans.queries import _fact

    fact = _fact(spark, sf_dir)
    fact.createOrReplaceTempView("__fact_gs")
    return spark.sql("""
        SELECT pays, produit,
               CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca,
               count(*) AS n,
               CAST(grouping(pays) AS INT) AS g_pays,
               CAST(grouping(produit) AS INT) AS g_produit
        FROM __fact_gs GROUP BY GROUPING SETS ((pays), (produit), ())
    """)


# --------------------------------------------------------------------------
# Round 6: interval range frames + robust outlier detection
# --------------------------------------------------------------------------

@register("rolling_7day_revenue", _D + """,
daily AS (
    SELECT id_client,
           strftime(date_achat, '%Y-%m-%d') AS jour,
           date_diff('day', DATE '1970-01-01', CAST(date_achat AS DATE)) AS day_num,
           CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS ca_day
    FROM fact GROUP BY 1, 2, 3
)
SELECT id_client, jour, CAST(ca_day AS DOUBLE) AS ca_day,
       CAST(sum(ca_day) OVER (
           PARTITION BY id_client ORDER BY day_num
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS ca_7d
FROM daily ORDER BY id_client, jour
""")
def q_rolling_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-client 7-day rolling revenue: a RANGE frame over day numbers —
    a VALUE-based window frame (days with no purchase still age out of the
    window), unlike the ROWS frames elsewhere in the registry. The frame
    key is the integer epoch-day so both engines bound the window
    identically; sums stay decimal inside the frame.

    Scale shape: one shuffle to (client, day) daily grains, one window
    pass partitioned by client — the frame never rescans (Spark maintains
    a sliding aggregate over the sorted partition)."""
    from big_data_elt_pipeline_spark.plans.queries import _fact

    fact = _fact(spark, sf_dir)
    daily = (
        fact.groupBy(
            "id_client",
            F.date_format("date_achat", "yyyy-MM-dd").alias("jour"),
            F.datediff(F.to_date("date_achat"), F.lit("1970-01-01")).alias("day_num"),
        )
        .agg(F.sum(F.col("montant").cast("decimal(18,4)"))
             .cast("decimal(18,4)").alias("ca_day"))
    )
    w = (
        Window.partitionBy("id_client").orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return (
        daily.select(
            "id_client", "jour",
            F.col("ca_day").cast("double").alias("ca_day"),
            F.sum("ca_day").over(w).cast("double").alias("ca_7d"),
        )
        .orderBy("id_client", "jour")
    )


@register("amount_outliers", _D + """,
stats AS (
    SELECT pays,
           count(*) AS n,
           CAST(CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS DOUBLE) AS s1,
           CAST(CAST(sum(CAST(montant * montant AS DECIMAL(30,8))) AS DECIMAL(30,8)) AS DOUBLE) AS s2
    FROM fact GROUP BY pays
),
scored AS (
    SELECT f.id_achat, f.pays, f.montant,
           round((f.montant - s1 / n)
                 / sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS z
    FROM fact f JOIN stats USING (pays)
    WHERE n > 1
)
SELECT id_achat, pays, montant, z FROM scored
WHERE abs(z) > 1.8
ORDER BY pays, id_achat
""")
def q_amount_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-country z-score outliers (|z| > 1.8 — the corpus montant is bounded-uniform, so the classic 3-sigma cut would be vacuous; the cut sits at the ~99.5th percentile of this distribution): anomaly detection with the
    variance computed FROM EXACT DECIMAL SUMS (n, Σx, Σx²) rather than a
    streaming stddev — Welford/merge orderings differ between engines and
    across partitionings, exact sums do not; the double math downstream of
    the snapped sums is order-free and bit-identical.

    Scale shape: one groupBy(pays) over the fact (map-side partial — the
    three moments are plain sums), stats broadcast back onto the fact,
    map-only scoring; no window, no second shuffle."""
    from big_data_elt_pipeline_spark.plans.queries import _fact

    fact = _fact(spark, sf_dir)
    stats = fact.groupBy("pays").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("montant").cast("decimal(18,4)"))
        .cast("decimal(18,4)").cast("double").alias("s1"),
        F.sum((F.col("montant") * F.col("montant")).cast("decimal(30,8)"))
        .cast("decimal(30,8)").cast("double").alias("s2"),
    )
    # z is ROUNDED to 6 decimals: the decimal->double conversion of the
    # 20-digit second moment is correctly-rounded in the JVM but not
    # bit-identical in every engine (measured 1-ulp drift vs DuckDB);
    # quantizing the score absorbs the ulp and loses nothing an outlier
    # consumer cares about
    z = F.round(
        (F.col("montant") - F.col("s1") / F.col("n"))
        / F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
        ),
        6,
    )
    return (
        fact.join(F.broadcast(stats), "pays")
        .filter(F.col("n") > 1)
        .select("id_achat", "pays", "montant", z.alias("z"))
        .filter(F.abs(F.col("z")) > 1.8)
        .orderBy("pays", "id_achat")
    )


@register("revenue_chain_recursive", _D + """,
yearly AS (
    SELECT id_client, CAST(year(date_achat) AS INTEGER) AS annee,
           CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS ca
    FROM fact GROUP BY 1, 2
)
SELECT id_client, annee,
       CAST(ca AS DOUBLE) AS ca,
       CAST(row_number() OVER (PARTITION BY id_client ORDER BY annee) AS BIGINT) AS seq,
       CAST(CAST(sum(ca) OVER (
           PARTITION BY id_client ORDER BY annee ROWS UNBOUNDED PRECEDING
       ) AS DECIMAL(18,4)) AS DOUBLE) AS ca_cum
FROM yearly ORDER BY id_client, annee
""")
def q_revenue_chain_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 native WITH RECURSIVE: walk each client's yearly-revenue
    chain (a linked list built with one ``lead`` window) from its first
    active year, accumulating sequence number AND running revenue by
    traversal — verified against the closed-form row_number + running-sum
    window oracle, so the recursion provably visits every node once, in
    order, carrying exact decimal state.

    Engine-capability notes (probed, not assumed):
    - recursive UNION (set semantics) raises
      UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE — only UNION ALL exists, so
      CYCLIC closures (the near-dup component graph) would not terminate;
      ``dedup.neardup_clusters`` keeps its O(log d) pointer-jumping loop
      for exactly that reason, and the recursive form is reserved for
      ACYCLIC walks like this one;
    - each recursion round is a full Spark job (~0.5-1 s of fixed cost
      regardless of data size), so recursion DEPTH is the budget: this
      walk is keyed on (client, year) — depth = active years (≤ 7 on this
      corpus), NOT purchases (~80), which a first cut measured at 78 s
      for the same corpus. Depth-bounds-first is the design rule for
      recursive SQL on any engine that runs a round per iteration.

    Scale shape: one (client, year) rollup shuffle + one window to build
    the links; every round then equi-joins the one-row-per-client
    frontier against the link table — O(rows) total work across ≤ 7
    rounds."""
    achats = tpch.achats_df(spark, sf_dir)
    yearly = (
        achats.groupBy(
            "id_client", F.year("date_achat").cast("int").alias("annee")
        )
        .agg(F.sum(F.col("montant").cast("decimal(18,4)"))
             .cast("decimal(18,4)").alias("ca"))
    )
    yearly.createOrReplaceTempView("yearly_chain_src")
    return spark.sql("""
WITH RECURSIVE
ordered AS (
    SELECT id_client, annee, ca,
           lag(annee) OVER (PARTITION BY id_client ORDER BY annee) AS prev_annee,
           lead(annee) OVER (PARTITION BY id_client ORDER BY annee) AS next_annee
    FROM yearly_chain_src
),
chain(id_client, annee, ca, next_annee, seq, ca_cum) AS (
    SELECT id_client, annee, ca, next_annee, CAST(1 AS BIGINT), ca
    FROM ordered WHERE prev_annee IS NULL
    UNION ALL
    SELECT o.id_client, o.annee, o.ca, o.next_annee, c.seq + 1,
           CAST(c.ca_cum + o.ca AS DECIMAL(18,4))
    FROM chain c JOIN ordered o
      ON o.id_client = c.id_client AND o.annee = c.next_annee
)
SELECT id_client, annee, CAST(ca AS DOUBLE) AS ca, seq,
       CAST(ca_cum AS DOUBLE) AS ca_cum
FROM chain ORDER BY id_client, annee
""")
