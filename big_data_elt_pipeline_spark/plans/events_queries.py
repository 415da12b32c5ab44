"""Event-stream queries (batch oracles + true streaming, SURVEY.md §7 ph.6).

Incremental EXECUTION is not SQL-expressible, but since r11 every
non-model streaming query carries hash evidence anyway:
``stream_tumbling`` / ``stream_enrich`` / ``stream_attribution`` /
``stream_dedup`` return stream-vs-batch-twin comparison relations
(oracle recomputes the checksums and asserts n_mismatch = 0) and
``stream_user_totals``'s final state is an associative integer-cents
fold the oracle recomputes directly on the raw events table; the
``stream_doc_scoring`` evidence oracle even retrains the fixed-point
logreg in SQL. No streaming query is rows-only anymore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from big_data_elt_pipeline_spark.plans.queries import register
from big_data_elt_pipeline_spark.sources import tpch
from big_data_elt_pipeline_spark.sources.tpch import EVENTS_SQL, events_df, read_table
from big_data_elt_pipeline_spark.streaming import events as EV

_E = f"WITH {EVENTS_SQL.strip()}"

_MONEY = "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)"


@register("events_tumbling", _E + f"""
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, {_MONEY} AS total_value
FROM ev GROUP BY 1, 2 ORDER BY 1, 2
""")
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.tumbling_revenue(events_df(spark, sf_dir), width="1 hour").orderBy(
        "window_start", "event_type"
    )


@register("events_sessionize", _E + """,
tagged AS (
    SELECT user_id, event_id, ts, value,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
    FROM ev
),
flagged AS (
    SELECT *,
           CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
                THEN 1 ELSE 0 END AS new_session
    FROM tagged
),
s AS (
    SELECT *,
           CAST(sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id, session_seq,
       count(*) AS n_events,
       min(ts) AS session_start,
       (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0 AS duration_sec,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, session_seq
""")
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.sessionize(events_df(spark, sf_dir), gap_min=30)


@register("events_props", _E + """
SELECT event_type,
       count(json_extract_string(props, '$.k')::BIGINT) AS n,
       CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS k_sum,
       CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS DOUBLE)
           / count(json_extract_string(props, '$.k')::BIGINT) AS k_avg
FROM ev GROUP BY event_type ORDER BY event_type
""")
def q_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.props_metrics(events_df(spark, sf_dir))


@register("events_daily_share", _E + """,
agg AS (
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n
    FROM ev GROUP BY 1, 2
)
SELECT day, event_type, n,
       CAST(sum(n) OVER (PARTITION BY day) AS BIGINT) AS day_total,
       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY day) AS DOUBLE) AS share
FROM agg ORDER BY day, event_type
""")
def q_events_daily_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return EV.daily_type_share(events_df(spark, sf_dir))


@register("events_sliding", _E + """,
win AS (
    SELECT date_trunc('hour', ts) - to_hours(k) AS window_start, event_type, value
    FROM ev CROSS JOIN (VALUES (0), (1)) AS t(k)
)
SELECT window_start, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM win GROUP BY 1, 2 ORDER BY 1, 2
""")
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2h windows sliding by 1h: every event lands in exactly two windows."""
    return EV.sliding_revenue(events_df(spark, sf_dir), width="2 hours", slide="1 hour")


@register("events_session_window", _E + """,
tagged AS (
    SELECT user_id, event_id, ts, value,
           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
    FROM ev
),
s AS (
    SELECT *,
           CAST(sum(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 1800000000
                         THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING
           ) AS BIGINT) AS session_seq
    FROM tagged
)
SELECT min(ts) AS session_start, user_id,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, session_seq
""")
def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window; the oracle re-derives sessions with the
    lag-cumsum formulation (>= gap splits, matching window-overlap
    semantics) — proving the two constructions agree."""
    return EV.session_window_rollup(events_df(spark, sf_dir), gap="30 minutes")


@register("stream_tumbling", _E + """,
wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM ev),
b AS (
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM ev GROUP BY 1, 2
),
fin AS (SELECT b.* FROM b, wm WHERE window_start + INTERVAL 1 HOUR <= wm.w)
SELECT CAST(count(*) AS BIGINT) AS n_stream,
       CAST(count(*) AS BIGINT) AS n_finalized,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(sum(n) AS BIGINT) AS sum_n,
       CAST(sum(CAST(total_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
       min(window_start) AS first_window,
       max(window_start) AS last_window
FROM fin
""")
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling aggregate under HASH evidence (r10 verdict #4):
    returns the stream-vs-batch-twin comparison relation — the oracle
    recomputes the finalized-window relation in SQL (append-mode contract:
    window end <= max event time - watermark) and asserts n_mismatch = 0,
    so the driver hash certifies stream == cross-engine batch instead of
    trusting a rows-only record. See ``streaming.events
    .stream_tumbling_evidence``; raw stream output stays pinned by
    tests/test_streaming.py."""
    return EV.stream_tumbling_evidence(spark, sf_dir)


@register("incremental_ca_monthly", """
WITH achats AS (
    SELECT CAST(l_shipdate AS TIMESTAMP) AS date_achat,
           CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS montant
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT strftime(date_achat, '%Y-%m') AS mois,
       CAST(sum(CAST(montant AS DECIMAL(18,4))) AS DOUBLE) AS ca,
       count(*) AS n
FROM achats GROUP BY 1 ORDER BY 1
""")
def q_incremental_ca_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch-maintained gold aggregate: executed INCREMENTALLY over
    micro-batches, yet oracle-checkable because exact decimal merges make
    the final state equal a full recompute bit-for-bit."""
    from big_data_elt_pipeline_spark.streaming import staging_dir
    from big_data_elt_pipeline_spark.streaming.incremental import incremental_ca_monthly

    achats = tpch.achats_df(spark, sf_dir)
    tmp = staging_dir("incr_gate", sf_dir)
    return incremental_ca_monthly(spark, achats, f"{tmp}/src", f"{tmp}/state", chunks=3)


@register("stream_user_totals", """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round_even(CAST(value AS DOUBLE) * 100, 0) AS BIGINT))
            AS DOUBLE) / 100.0 AS total_value
FROM events GROUP BY user_id
""")
def q_stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming totals under a FULL direct oracle (r10 verdict
    #4): the applyInPandasWithState operator accumulates integer cents
    with pandas' half-even rounding (``(value*100).round()``), so its
    final per-user state is exactly ``sum(round_even(value*100))`` — an
    associative integer fold DuckDB evaluates identically on the raw
    events table regardless of micro-batch boundaries. The driver hash
    now certifies every (user_id, n, total_value) row of the final state
    cross-engine; batch-boundary invariance stays pinned by
    tests/test_streaming.py."""
    from big_data_elt_pipeline_spark.streaming.stateful import user_running_totals_stream

    return user_running_totals_stream(spark, sf_dir)


@register("attribution_join", _E + """
SELECT p.event_id AS purchase_id, v.event_id AS view_id,
       p.user_id AS user_id,
       (epoch_us(p.ts) - epoch_us(v.ts)) / 1000000.0 AS gap_sec
FROM ev p JOIN ev v ON p.user_id = v.user_id
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
  AND v.ts <= p.ts
  AND v.ts >= p.ts - INTERVAL 30 MINUTE
""")
def q_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch purchase→view attribution (interval join within 30 min) —
    the exactness anchor for ``stream_attribution``, now under the full
    DuckDB oracle: gap_sec is an integer micros difference divided by a
    double, bit-identical across engines."""
    from pyspark.sql import functions as F

    ev = events_df(spark, sf_dir)
    return EV.attribution_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
    )


@register("events_enriched", _E + f""",
dim AS (SELECT c_custkey, c_mktsegment FROM customer)
SELECT coalesce(c_mktsegment, 'unknown') AS segment, event_type,
       CAST(count(*) AS BIGINT) AS n, {_MONEY} AS total_value
FROM ev LEFT JOIN dim ON user_id = c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
""")
def q_events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment: events LEFT-join the
    broadcast customer dimension ('unknown' fallback keeps every event),
    rolled up per (segment, event_type). The exactness anchor for
    ``stream_enrich`` — the join itself is stateless, so streaming must
    reproduce these numbers bit-for-bit."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.functions.core import money_sum

    ev = events_df(spark, sf_dir)
    customer = read_table(spark, sf_dir, "customer")
    return (
        EV.enrich_events(ev, customer)
        .groupBy("segment", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value", "total_value"))
        .orderBy("segment", "event_type")
    )


@register("stream_enrich", _E + """,
dim AS (SELECT c_custkey, c_mktsegment FROM customer),
e AS (
    SELECT event_id, coalesce(c_mktsegment, 'unknown') AS segment,
           event_type, value
    FROM ev LEFT JOIN dim ON user_id = c_custkey
)
SELECT CAST(count(*) AS BIGINT) AS n_stream,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
       CAST(sum(CAST(round_even(CAST(value AS DOUBLE) * 100, 0) AS BIGINT))
            AS BIGINT) AS sum_value_cents,
       CAST(count(DISTINCT segment) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN segment = 'unknown' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unknown
FROM e
""")
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment under HASH evidence (r11, extending the
    r10 verdict #4 promotions): the comparison relation between the real
    streaming query and the batch twin — the oracle recomputes every
    checksum from events LEFT JOIN customer and asserts n_mismatch = 0,
    so the driver hash certifies the per-micro-batch broadcast join
    emitted exactly the batch rows. Raw stream output stays pinned by
    tests/test_streaming.py."""
    return EV.stream_enrich_evidence(spark, sf_dir)


@register("stream_attribution", _E + """,
pairs AS (
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS user_id,
           (epoch_us(p.ts) - epoch_us(v.ts)) / 1000000.0 AS gap_sec
    FROM ev p JOIN ev v ON p.user_id = v.user_id
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
      AND v.ts <= p.ts
      AND v.ts >= p.ts - INTERVAL 30 MINUTE
)
SELECT CAST(count(*) AS BIGINT) AS n_stream,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(sum(purchase_id) AS BIGINT) AS sum_purchase_id,
       CAST(sum(view_id) AS BIGINT) AS sum_view_id,
       CAST(sum(CAST(round(gap_sec * 1000000.0, 0) AS BIGINT))
            AS BIGINT) AS sum_gap_us,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM pairs
""")
def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join under HASH evidence: the
    oracle replays the batch interval join and asserts the streaming
    result matched it pair for pair (n_mismatch = 0; exact integer id and
    micros-gap checksums — gap_sec is integer micros / 1e6, so
    round(gap*1e6) recovers the micros losslessly in both engines)."""
    return EV.stream_attribution_evidence(spark, sf_dir)


@register("stream_dedup", _E + """
SELECT CAST(count(*) AS BIGINT) AS n_stream,
       CAST(count(*) AS BIGINT) AS n_batch,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(sum(event_id) AS BIGINT) AS sum_event_id,
       CAST(sum(CAST(round_even(CAST(value AS DOUBLE) * 100, 0) AS BIGINT))
            AS BIGINT) AS sum_value_cents,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM ev
""")
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming at-least-once repair under HASH evidence: the
    twice-delivered dropDuplicatesWithinWatermark stream must emit the
    unique event set exactly once — the oracle recomputes the id/cents/ts
    checksums from the raw events table (event_id is unique in the
    fixture, asserted by the n_stream == n_batch == count(*) triple) and
    asserts n_mismatch = 0. A missed or re-emitted event flips the
    counts and fails the driver value hash."""
    return EV.stream_dedup_evidence(spark, sf_dir)


@register("event_funnel", _E + """,
s0 AS (
    SELECT user_id AS usr, min(ts) AS reach_ts FROM ev
    WHERE event_type = 'view' GROUP BY user_id
),
s1 AS (
    SELECT e.user_id AS usr, min(e.ts) AS reach_ts
    FROM ev e JOIN s0 ON e.user_id = s0.usr
    WHERE e.event_type = 'click' AND e.ts > s0.reach_ts
    GROUP BY e.user_id
),
s2 AS (
    SELECT e.user_id AS usr, min(e.ts) AS reach_ts
    FROM ev e JOIN s1 ON e.user_id = s1.usr
    WHERE e.event_type = 'purchase' AND e.ts > s1.reach_ts
    GROUP BY e.user_id
),
counts AS (
          SELECT 0 AS stage_idx, 'view' AS stage, count(*) AS n_users FROM s0
    UNION ALL
          SELECT 1, 'click', count(*) FROM s1
    UNION ALL
          SELECT 2, 'purchase', count(*) FROM s2
)
SELECT stage_idx, stage, n_users,
       CASE WHEN stage_idx = 0 THEN CAST(1.0 AS DOUBLE)
            WHEN lag(n_users) OVER (ORDER BY stage_idx) > 0
            THEN n_users / lag(n_users) OVER (ORDER BY stage_idx)
            ELSE CAST(NULL AS DOUBLE)
       END AS conversion
FROM counts ORDER BY stage_idx
""")
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view->click->purchase funnel: per-stage reach counts under
    the STRICT sequence constraint (stage k's event must follow the user's
    stage-(k-1) reach time). Plan shape in ``operators/funnel.py`` — the
    chained min-join, every exchange keyed on user_id."""
    from big_data_elt_pipeline_spark.operators.funnel import funnel

    return funnel(events_df(spark, sf_dir), ["view", "click", "purchase"])


@register("events_resample", _E + """,
h AS (
    SELECT user_id, epoch_us(ts) // 3600000000 AS hour_idx, value FROM ev
),
hourly AS (
    SELECT user_id, hour_idx, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS hourly_value
    FROM h GROUP BY 1, 2
),
bounds AS (
    SELECT user_id, min(hour_idx) AS hmin, max(hour_idx) AS hmax FROM h GROUP BY 1
),
grid AS (
    SELECT user_id, unnest(range(hmin, hmax + 1)) AS hour_idx FROM bounds
),
j AS (
    SELECT g.user_id, g.hour_idx,
           coalesce(n_events, 0) AS n_events, hourly_value
    FROM grid g LEFT JOIN hourly USING (user_id, hour_idx)
)
SELECT user_id, hour_idx, n_events,
       last_value(hourly_value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hour_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS value_ffill,
       hourly_value IS NULL AS was_gap
FROM j ORDER BY user_id, hour_idx
""")
def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series RESAMPLE to a dense per-user hourly grid with forward
    fill: gap hours materialize as rows (``was_gap``) carrying the last
    observed hourly revenue — the pandas ``resample('1h').ffill()`` idiom,
    distributed. The grid comes from ``sequence`` + ``explode`` between
    each user's min/max hour (integer epoch-hours via ``div`` so both
    engines bound the grid identically); the fill is
    ``last(ignorenulls)`` over an unbounded-preceding ROWS frame.

    Scale shape: two groupBy(user[, hour]) passes over the events, the
    grid explode is map-side from the bounds relation (one row per user
    in, hours-spanned rows out), one user-keyed left join + one window
    pass; everything is keyed on user_id, nothing global."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.functions.core import money_sum

    ev = events_df(spark, sf_dir)
    h = ev.select(
        "user_id",
        F.expr("unix_micros(ts) div 3600000000").alias("hour_idx"),
        "value",
    )
    hourly = h.groupBy("user_id", "hour_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        money_sum("value", "hourly_value"),
    )
    bounds = h.groupBy("user_id").agg(
        F.min("hour_idx").alias("hmin"), F.max("hour_idx").alias("hmax")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("hmin", "hmax")).alias("hour_idx")
    )
    w = (
        Window.partitionBy("user_id").orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "hour_idx"], "left")
        .select(
            "user_id", "hour_idx",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("hourly_value", ignorenulls=True).over(w).alias("value_ffill"),
            F.col("hourly_value").isNull().alias("was_gap"),
        )
        .orderBy("user_id", "hour_idx")
    )


@register("events_props_variant", _E + """,
k AS (
    SELECT event_type, json_extract_string(props, '$.k')::BIGINT AS kv FROM ev
)
SELECT event_type, kv // 10 AS k_decile, count(*) AS n
FROM k WHERE kv IS NOT NULL
GROUP BY event_type, kv // 10
ORDER BY event_type, k_decile
""")
def q_events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through Spark 4's VARIANT type:
    ``parse_json`` shreds the JSON string into the binary variant
    encoding ONCE, then ``variant_get`` extracts a typed path without
    re-parsing — the engine-native path for schema-on-read columns (the
    ``events_props`` twin re-parses the string per extraction). Same
    numbers as a JSON-string plan, better scan economics at 100 TB: a
    variant column stores shredded binary, and each extraction is a
    cheap path lookup instead of a text parse."""
    from pyspark.sql import functions as F

    ev = events_df(spark, sf_dir)
    kv = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", kv.alias("kv"))
        .filter(F.col("kv").isNotNull())
        .groupBy("event_type", F.expr("kv div 10").alias("k_decile"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "k_decile")
    )
