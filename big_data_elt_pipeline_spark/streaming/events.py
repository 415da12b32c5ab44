"""Event-stream operators: batch window analytics + true Structured
Streaming ingestion with watermarks.

The reference pipeline is batch-only (SURVEY.md §2.10) — its closest
analogues are a 365-day rolling filter and a periodic Mongo re-publish.
This module adds the streaming surface a Spark-native engine should have:

- Batch forms (tumbling/session windows, JSON prop extraction) are plain
  DataFrame plans with DuckDB oracles — the correctness anchor.
- ``stream_tumbling_revenue`` runs the SAME aggregation as an incremental
  Structured Streaming query (file source → watermark → window agg →
  memory sink), proving the operator works under incremental execution.
  On a cluster the source becomes Kafka and the sink a Delta/parquet
  table via ``foreachBatch`` — the plan shape is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions.core import money_sum
from big_data_elt_pipeline_spark.streaming import drain, staged_stream

SESSION_GAP_MIN = 30


def tumbling_revenue(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window count + exact value sum per event type."""
    return (
        events.groupBy(
            F.window("ts", width).start.alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value", "total_value"))
        .orderBy("window_start", "event_type")
    )


def sessionize(events: DataFrame, gap_min: int = SESSION_GAP_MIN) -> DataFrame:
    """Gap-based sessionization (lag + cumulative-sum session ids), then
    per-session rollup. One shuffle on user_id; duration in exact
    microseconds via ``unix_micros``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_min * 60 * 1_000_000
    tagged = (
        events.withColumn("prev_us", F.lag(F.unix_micros("ts"), 1).over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_us").isNull()
                | ((F.unix_micros("ts") - F.col("prev_us")) > F.lit(gap_us))
            ).cast("int"),
        )
        .withColumn("session_seq", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ))
    )
    return (
        tagged.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            ((F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / F.lit(1_000_000.0)).alias("duration_sec"),
            money_sum("value", "total_value"),
        )
    )


def sliding_revenue(events: DataFrame, width: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    """Sliding-window count + exact value sum: each event lands in
    width/slide windows (Spark expands via the window generator — no self
    join)."""
    return (
        events.groupBy(F.window("ts", width, slide).start.alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value", "total_value"))
        .orderBy("window_start", "event_type")
    )


def session_window_rollup(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native ``session_window`` rollup — the built-in equivalent of
    ``sessionize`` (its oracle proves both agree)."""
    # group by the session_window STRUCT: sessions merge during aggregation;
    # projecting .start first would freeze each event into its own window
    return (
        events.groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), money_sum("value", "total_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id", "n_events", "total_value",
        )
    )


def props_metrics(events: DataFrame) -> DataFrame:
    """JSON property extraction + per-type rollup (integer-exact avg)."""
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("k_sum"),
            (F.sum("k").cast("double") / F.count("k")).alias("k_avg"),
        )
        .orderBy("event_type")
    )


def daily_type_share(events: DataFrame) -> DataFrame:
    """Per-day, per-type counts with share-of-day via a window over the
    aggregate (integer division at the end — deterministic)."""
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    agg = events.groupBy(day, "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("day")
    return (
        agg.withColumn("day_total", F.sum("n").over(w))
        .withColumn("share", F.col("n").cast("double") / F.col("day_total").cast("double"))
        .orderBy("day", "event_type")
    )


def _stream_events(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    """``staged_stream`` of the events fixture with microsecond ``ts``."""
    from big_data_elt_pipeline_spark.sources.tpch import ensure_nanos_conf, events_ts_col

    ensure_nanos_conf(spark)
    raw = staged_stream(spark, sf_dir, "events", copies)
    return raw.select(
        "event_id",
        events_ts_col(raw.schema["ts"].dataType).alias("ts"),
        "user_id", "event_type", "value",
    )


def attribution_join(purchases: DataFrame, views: DataFrame, window_min: int = 30) -> DataFrame:
    """Batch form of purchase→view attribution: every (purchase, view) pair
    of the same user where the view precedes the purchase by ≤ window_min.
    The batch twin is the exactness anchor for the stream-stream join."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts"), "user_id"
    )
    v = views.select(F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts"), "user_id")
    return (
        p.join(v, "user_id")
        .filter(
            (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {window_min} MINUTES"))
        )
        .select(
            "purchase_id", "view_id", "user_id",
            ((F.unix_micros("p_ts") - F.unix_micros("v_ts")) / F.lit(1_000_000.0)).alias("gap_sec"),
        )
    )


def stream_attribution_join(
    spark: SparkSession, sf_dir: str, window_min: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """STREAM-STREAM inner join with an event-time range predicate —
    marketing-style attribution under incremental execution.

    Both sides carry watermarks; the range condition (view within
    ``window_min`` before the purchase) bounds the join state Spark must
    retain, so state is evicted as the watermark advances — the
    cluster-correct unbounded-stream pattern. Inner join + complete arrival
    means the result equals the batch ``attribution_join`` exactly
    (asserted in tests).
    """
    ev = _stream_events(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts"), "user_id")
        .withWatermark("p_ts", watermark)
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts"), "user_id")
        .withWatermark("v_ts", watermark)
    )
    joined = (
        p.join(
            v,
            (p["user_id"] == v["user_id"])
            & (v["v_ts"] <= p["p_ts"])
            & (v["v_ts"] >= p["p_ts"] - F.expr(f"INTERVAL {window_min} MINUTES")),
            "inner",
        )
        .select(
            "purchase_id", "view_id", p["user_id"].alias("user_id"),
            ((F.unix_micros("p_ts") - F.unix_micros("v_ts")) / F.lit(1_000_000.0)).alias("gap_sec"),
        )
    )
    name = "stream_attribution_sink"
    drain(joined.writeStream.outputMode("append").format("memory").queryName(name))
    return spark.table(name)


def enrich_events(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Dimension enrichment of the event stream: LEFT join to the customer
    table (segment label; unmatched users -> 'unknown' so no event is
    dropped). STATELESS — a stream-static join keeps no watermark state,
    the static side is simply broadcast into every micro-batch — so the
    same function serves the batch twin and the streaming form, and their
    results must be identical (asserted in tests).

    At 100 TB of events this is the canonical map-side enrichment: the
    dimension broadcasts (or, if dimension-huge, pre-bucketed storage
    co-locates the join); the stream side never shuffles."""
    d = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    return events.join(F.broadcast(d), "user_id", "left").select(
        "event_id",
        F.coalesce(F.col("segment"), F.lit("unknown")).alias("segment"),
        "event_type",
        "value",
    )


def stream_enriched_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join driven as a real streaming query: file-source
    events left-joined per micro-batch to the static customer dimension,
    appended row-by-row to the sink (no aggregate, no watermark — the
    join is stateless, so append mode needs neither)."""
    from big_data_elt_pipeline_spark.sources.tpch import read_table

    ev = _stream_events(spark, sf_dir)
    customer = read_table(spark, sf_dir, "customer")
    enriched = enrich_events(ev, customer)
    name = "stream_enrich_sink"
    drain(enriched.writeStream.outputMode("append").format("memory").queryName(name))
    return spark.table(name)


def stream_tumbling_revenue(
    spark: SparkSession, sf_dir: str, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Incremental form of ``tumbling_revenue`` as a real streaming query.

    File source (one-shot over the fixture file) → event-time watermark →
    tumbling window aggregate → memory sink, driven to completion
    synchronously. Late data beyond the watermark would be dropped, and
    the 'append' mode only emits finalized windows — the cluster-correct
    semantics, observable locally.
    """
    events = _stream_events(spark, sf_dir).select("ts", "event_type", "value")
    # group by the window STRUCT (not .start) — watermark tracking attaches
    # to the window column; projecting .start pre-aggregation severs it
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value", "total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    name = "stream_tumbling_revenue_sink"
    drain(agg.writeStream.outputMode("append").format("memory").queryName(name))
    return spark.table(name)


def stream_tumbling_evidence(
    spark: SparkSession, sf_dir: str, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-vs-batch-twin equivalence as ONE hashable relation (r10
    verdict #4): instead of returning the raw stream output (rows-only
    trust), run the streaming query AND its batch twin, restrict the twin
    to the finalized windows append mode is contracted to emit (window
    end <= max event time - watermark delay), and return the comparison:

    - ``n_stream`` / ``n_finalized``: stream row count vs the twin's
      finalized-window count (equal iff neither side has extra rows),
    - ``n_mismatch``: |stream EXCEPT ALL twin| + |twin EXCEPT ALL stream|
      over ALL columns — 0 iff the relations are identical including n
      and the exact decimal value sums,
    - ``sum_n`` / ``sum_value`` / ``first_window`` / ``last_window``:
      content checksums of the finalized relation, which the DuckDB
      oracle recomputes independently.

    The oracle derives every column from the batch relation in SQL and
    asserts ``n_mismatch = 0`` — so the driver's value hash now certifies
    the stream result equals the cross-engine-verified batch twin, rather
    than recording that some rows arrived."""
    s = stream_tumbling_revenue(spark, sf_dir, width, watermark)
    from big_data_elt_pipeline_spark.sources.tpch import events_df

    ev = events_df(spark, sf_dir)
    wm = F.broadcast(
        ev.agg((F.max("ts") - F.expr(f"INTERVAL {watermark}")).alias("__wm"))
    )
    fin = (
        tumbling_revenue(ev, width)
        .crossJoin(wm)
        .filter(F.col("window_start") + F.expr(f"INTERVAL {width}") <= F.col("__wm"))
        .drop("__wm")
    )
    checks = fin.agg(
        F.count(F.lit(1)).cast("long").alias("n_finalized"),
        F.sum("n").cast("long").alias("sum_n"),
        F.sum(F.col("total_value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        F.min("window_start").alias("first_window"),
        F.max("window_start").alias("last_window"),
    )
    return _evidence_relation(s, fin, checks).select(
        "n_stream", "n_finalized", "n_mismatch",
        "sum_n", "sum_value", "first_window", "last_window",
    )


def stream_tumbling_revenue_to_sink(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    schema: str = "ts timestamp, event_type string, value double, event_id long",
    width: str = "1 hour",
    watermark: str = "2 hours",
) -> None:
    """Durable, RESUMABLE form of ``stream_tumbling_revenue``: file source →
    watermarked tumbling aggregate → append parquet sink, with a checkpoint.

    Source offsets, window state, and the event-time watermark all live in
    ``checkpoint_dir``, so a stopped query restarted against the same
    checkpoint continues exactly where it left off: consumed files are not
    re-read, open windows keep their partial aggregates, finalized windows
    are never re-emitted. Each call drains whatever is currently in
    ``source_dir`` and stops — call again after new files land (or after a
    simulated crash) to resume. The restart test asserts the recovered
    output is bit-identical to the batch twin on every finalized window.
    """
    events = spark.readStream.schema(schema).parquet(source_dir)
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), money_sum("value", "total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type", "n", "total_value",
        )
    )
    drain(
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir),
        checkpoint_dir,
    )


def stream_deduped_events(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exactly-once repair for at-least-once delivery:
    ``dropDuplicatesWithinWatermark`` on the event key.

    The staged source delivers EVERY event twice, in different
    micro-batches (``maxFilesPerTrigger=1``), so the dedup state must
    carry across batches — each event is emitted exactly once
    (batch-equality with ``events_df().dropDuplicates`` asserted in
    tests/test_streaming.py). ``WithinWatermark`` is what makes this a
    100 TB operator: plain streaming ``dropDuplicates`` keeps every key
    forever, while this variant evicts keys older than the watermark —
    bounded state under unbounded input, with the dedup guarantee scoped
    to the redelivery window (real redelivery happens within seconds).
    """
    deduped = (
        _stream_events(spark, sf_dir, copies=2)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = "stream_dedup_sink"
    drain(deduped.writeStream.outputMode("append").format("memory").queryName(name))
    return spark.table(name)


def _evidence_relation(
    stream: DataFrame, twin: DataFrame, checks: DataFrame
) -> DataFrame:
    """(n_stream, n_batch-side checks..., n_mismatch) as one row: the
    symmetric ``exceptAll`` count is 0 iff stream == twin including
    duplicates — the ``stream_tumbling_evidence`` discipline shared by
    every promoted streaming query."""
    mism = stream.exceptAll(twin).unionByName(twin.exceptAll(stream))
    return (
        stream.agg(F.count(F.lit(1)).cast("long").alias("n_stream"))
        .crossJoin(checks)
        .crossJoin(mism.agg(F.count(F.lit(1)).cast("long").alias("n_mismatch")))
    )


def stream_dedup_evidence(
    spark: SparkSession, sf_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming at-least-once repair under hash evidence (the r10
    verdict #4 discipline, extended r11): run the twice-delivered
    ``dropDuplicatesWithinWatermark`` stream AND the batch
    ``dropDuplicates`` twin, return the comparison relation — n_mismatch
    is the symmetric exceptAll count over all five columns, and the
    content checksums (exact integer id/cents folds + ts bounds) are
    recomputed independently by the DuckDB oracle from the raw events
    table. A missed or duplicated emission flips n_stream/n_mismatch and
    fails the driver value hash."""
    from big_data_elt_pipeline_spark.sources.tpch import events_df

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    s = stream_deduped_events(spark, sf_dir, watermark).select(*cols)
    # localCheckpoint: Deduplicate feeding ExceptAll trips an analyzer
    # bind error in Spark 4.1 ([INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND] on the
    # replaced-with-aggregate branch); materializing the twin sidesteps it
    twin = (
        events_df(spark, sf_dir)
        .select(*cols)
        .dropDuplicates(["event_id"])
        .localCheckpoint(eager=True)
    )
    checks = twin.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
        F.sum(F.bround(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("sum_value_cents"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    return _evidence_relation(s, twin, checks).select(
        "n_stream", "n_batch", "n_mismatch",
        "sum_event_id", "sum_value_cents", "first_ts", "last_ts",
    )


def stream_enrich_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment under hash evidence: the per-micro-batch
    broadcast join must emit exactly the batch join's rows — n_mismatch
    over (event_id, segment, event_type, value), plus checksums the
    oracle recomputes from events LEFT JOIN customer."""
    from big_data_elt_pipeline_spark.sources.tpch import events_df, read_table

    s = stream_enriched_events(spark, sf_dir)
    customer = read_table(spark, sf_dir, "customer")
    twin = enrich_events(events_df(spark, sf_dir), customer)
    checks = twin.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
        F.sum(F.bround(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("sum_value_cents"),
        F.count_distinct("segment").cast("long").alias("n_segments"),
        F.sum((F.col("segment") == "unknown").cast("long"))
        .cast("long")
        .alias("n_unknown"),
    )
    return _evidence_relation(s, twin, checks).select(
        "n_stream", "n_batch", "n_mismatch",
        "sum_event_id", "sum_value_cents", "n_segments", "n_unknown",
    )


def stream_attribution_evidence(
    spark: SparkSession, sf_dir: str, window_min: int = 30
) -> DataFrame:
    """Watermarked stream-stream interval join under hash evidence:
    the streaming attribution must equal the batch interval join pair for
    pair — n_mismatch over (purchase_id, view_id, user_id, gap_sec), with
    exact integer checksums (id sums + the micros gap total, recovered
    losslessly from gap_sec since it is integer-micros / 1e6)."""
    from big_data_elt_pipeline_spark.sources.tpch import events_df

    s = stream_attribution_join(spark, sf_dir, window_min=window_min)
    ev = events_df(spark, sf_dir)
    twin = attribution_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
        window_min=window_min,
    )
    checks = twin.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.sum("purchase_id").cast("long").alias("sum_purchase_id"),
        F.sum("view_id").cast("long").alias("sum_view_id"),
        F.sum(F.round(F.col("gap_sec") * 1_000_000.0, 0).cast("long"))
        .cast("long")
        .alias("sum_gap_us"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )
    return _evidence_relation(s, twin, checks).select(
        "n_stream", "n_batch", "n_mismatch",
        "sum_purchase_id", "sum_view_id", "sum_gap_us", "n_users",
    )
