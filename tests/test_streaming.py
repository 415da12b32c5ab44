"""Structured Streaming surface: the incremental tumbling aggregate must
agree with its batch twin on every finalized window."""

import pytest

from big_data_elt_pipeline_spark.plans import queries as Q
from tests.conftest import SF_SMOKE


def test_stream_matches_batch_on_finalized_windows(spark):
    from big_data_elt_pipeline_spark.streaming import events as EV

    stream = EV.stream_tumbling_revenue(spark, SF_SMOKE).toPandas()
    batch = Q.spark_queries()["events_tumbling"](spark, SF_SMOKE).toPandas()
    assert len(stream) > 0
    # append mode: only watermark-finalized windows are emitted
    assert len(stream) <= len(batch)
    m = batch.merge(stream, on=["window_start", "event_type"], suffixes=("_b", "_s"))
    assert len(m) == len(stream)  # every emitted window exists in batch
    assert (m.n_b == m.n_s).all()
    assert (m.total_value_b == m.total_value_s).all()
    # the registered evidence relation reports the same equivalence
    ev = Q.spark_queries()["stream_tumbling"](spark, SF_SMOKE).first()
    assert ev.n_mismatch == 0 and ev.n_stream == ev.n_finalized == len(stream)


def test_stateful_user_totals_match_batch(spark):
    """applyInPandasWithState across 2 micro-batches == batch groupBy."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import events_df
    from big_data_elt_pipeline_spark.streaming.stateful import user_running_totals_stream

    stream = user_running_totals_stream(spark, SF_SMOKE).toPandas()
    batch = (
        events_df(spark, SF_SMOKE)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("total_value"),
        )
        .toPandas()
    )
    m = batch.merge(stream, on="user_id", suffixes=("_b", "_s"))
    assert len(m) == len(batch) == len(stream)
    assert (m.n_b == m.n_s).all()
    assert (m.total_value_b == m.total_value_s).all()


def test_stream_stream_join_matches_batch(spark):
    """The watermarked stream-stream interval join emits exactly the batch
    join's pairs (complete single-batch arrival → no state eviction)."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import events_df
    from big_data_elt_pipeline_spark.streaming.events import (
        attribution_join,
        stream_attribution_join,
    )

    stream = stream_attribution_join(spark, SF_SMOKE).toPandas()
    ev = events_df(spark, SF_SMOKE)
    batch = attribution_join(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "view"),
    ).toPandas()
    assert len(batch) > 0
    key = ["purchase_id", "view_id"]
    s = stream.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(s) == len(b)
    assert (s[key].values == b[key].values).all()
    assert (s.gap_sec.values == b.gap_sec.values).all()
    assert (s.user_id.values == b.user_id.values).all()


def test_stream_drops_only_trailing_watermark_windows(spark):
    from big_data_elt_pipeline_spark.streaming import events as EV

    stream = EV.stream_tumbling_revenue(spark, SF_SMOKE).toPandas()
    batch = Q.spark_queries()["events_tumbling"](spark, SF_SMOKE).toPandas()
    missing = batch.merge(
        stream[["window_start", "event_type"]],
        on=["window_start", "event_type"],
        how="left",
        indicator=True,
    )
    missing = missing[missing._merge == "left_only"]
    if len(missing):
        # all withheld windows sit within watermark horizon of max event time
        horizon = batch.window_start.max()
        import pandas as pd

        assert (missing.window_start >= horizon - pd.Timedelta(hours=2)).all()


def _ca_recompute(df, key, key_name):
    """The full batch recompute an incremental gold state must equal."""
    from pyspark.sql import functions as F

    return (
        df.groupBy(key.alias(key_name))
        .agg(
            F.sum(F.col("montant").cast("decimal(18,4)")).alias("ca_dec"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(key_name, F.col("ca_dec").cast("double").alias("ca"), "n")
        .orderBy(key_name)
        .toPandas()
    )


def _assert_same_state(got, want, key_name):
    assert got[key_name].tolist() == want[key_name].tolist()
    assert got.ca.tolist() == want.ca.tolist()  # bit-identical doubles
    assert got.n.tolist() == want.n.tolist()


def test_incremental_gold_checkpoint_recovery(spark, tmp_path, monkeypatch):
    """Kill-mid-stream restart: run ``incremental_gold`` with a checkpoint,
    crash the query inside the SECOND micro-batch (fault injection via the
    foreachBatch-resolved ``_merge_batch``), restart against the same
    checkpoint, and assert (a) the committed first batch is NOT re-folded
    (exactly-once over the state) and (b) the recovered state equals a full
    batch recompute bit-for-bit."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import achats_df
    from big_data_elt_pipeline_spark.streaming import incremental as inc

    achats = achats_df(spark, SF_SMOKE).select("id_achat", "montant", "date_achat")
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    key, key_name = F.date_format("date_achat", "yyyy-MM"), "mois"

    real_merge = inc._merge_batch
    calls = []

    def crashing_merge(*args, **kwargs):
        calls.append("crash-run")
        if len(calls) >= 2:
            raise RuntimeError("injected crash in micro-batch 2")
        real_merge(*args, **kwargs)

    monkeypatch.setattr(inc, "_merge_batch", crashing_merge)
    with pytest.raises(Exception, match="injected crash"):
        inc.incremental_gold(
            spark, achats, src, state, key, key_name, chunks=3,
            checkpoint_dir=ckpt,
        )
    assert len(calls) == 2  # batch 1 committed, batch 2 died

    recovered_batches = []

    def counting_merge(spark_, batch, *args, **kwargs):
        recovered_batches.append(batch.count())
        real_merge(spark_, batch, *args, **kwargs)

    monkeypatch.setattr(inc, "_merge_batch", counting_merge)
    recovered = inc.incremental_gold(
        spark, achats, src, state, key, key_name, chunks=3,
        checkpoint_dir=ckpt,
    ).toPandas()

    # resume skipped the committed batch: fewer batches than total shards,
    # and the replayed rows are exactly the un-committed remainder
    n_total = achats.count()
    assert sum(recovered_batches) < n_total
    assert len(recovered_batches) >= 1
    _assert_same_state(recovered, _ca_recompute(achats, key, key_name), key_name)


def test_incremental_gold_replayed_epoch_folds_once(spark, tmp_path):
    """At-least-once delivery: finish a checkpointed run, drop the last
    entry of the checkpoint's ``commits/`` log and restart, so the engine
    re-delivers the last epoch. The state commit for that epoch is
    already in the state's log, so the replay is skipped and the state
    still equals the batch recompute in ``ca`` and ``n``."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import achats_df
    from big_data_elt_pipeline_spark.streaming import incremental as inc

    achats = achats_df(spark, SF_SMOKE).select("id_achat", "montant", "date_achat")
    src, state, ckpt = (str(tmp_path / d) for d in ("src", "state", "ckpt"))
    key, key_name = F.date_format("date_achat", "yyyy-MM"), "mois"

    def run():
        return inc.incremental_gold(
            spark, achats, src, state, key, key_name, chunks=3, checkpoint_dir=ckpt,
        ).toPandas()

    want = _ca_recompute(achats, key, key_name)
    _assert_same_state(run(), want, key_name)
    commits = tmp_path / "ckpt" / "commits"
    last = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    assert last == 2  # three shards, three epochs
    for name in (str(last), f".{last}.crc"):  # the entry and its checksum
        (commits / name).unlink(missing_ok=True)
    _assert_same_state(run(), want, key_name)


def test_incremental_gold_state_keeps_one_commit(spark, tmp_path):
    """Each epoch's state commit vacuums the older versions: after a
    3-epoch run the state holds one data directory. A second run without
    a checkpoint re-delivers epochs 0-2; the tags of 0 and 1 went with the
    vacuumed manifests, yet every epoch is skipped (the checkpoint keeps
    the highest folded one) and the state is unchanged."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark import lakehouse as LH
    from big_data_elt_pipeline_spark.sources.tpch import achats_df
    from big_data_elt_pipeline_spark.streaming import incremental as inc

    achats = achats_df(spark, SF_SMOKE).select("id_achat", "montant", "date_achat")
    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    key, key_name = F.date_format("date_achat", "yyyy-MM"), "mois"
    want = _ca_recompute(achats, key, key_name)
    for _ in range(2):
        got = inc.incremental_gold(spark, achats, src, state, key, key_name, chunks=3)
        _assert_same_state(got.toPandas(), want, key_name)
        assert len(list((tmp_path / "state" / "data").glob("commit-*"))) == 1
        assert LH.table_versions(state) == [2]


def test_tumbling_sink_checkpoint_recovery(spark, tmp_path):
    """Durable tumbling aggregate across a stop/restart: land half the
    events, drain to a parquet sink with a checkpoint, then land the rest
    (plus a watermark-flushing sentinel) and drain AGAIN with the same
    checkpoint. The union of the two runs' appends must equal the batch
    twin on every finalized window — consumed files are not re-read and
    open windows keep their partial aggregates across the restart."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import events_df
    from big_data_elt_pipeline_spark.streaming.events import (
        stream_tumbling_revenue_to_sink,
        tumbling_revenue,
    )

    ev = events_df(spark, SF_SMOKE).select("ts", "event_type", "value", "event_id")
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    # split by TIME, not id parity: run 2's events must all sit above the
    # watermark the checkpoint carries over from run 1 (max(run1.ts) - 2h),
    # or the restarted query would legitimately drop them as late
    lo, hi = ev.select(F.min("ts"), F.max("ts")).first()
    cutoff = lo + (hi - lo) / 2
    half = ev.filter(F.col("ts") <= F.lit(cutoff))
    rest = ev.filter(F.col("ts") > F.lit(cutoff))
    assert half.count() > 0 and rest.count() > 0
    half.coalesce(1).write.mode("append").parquet(src)
    stream_tumbling_revenue_to_sink(spark, src, sink, ckpt)
    first = spark.read.parquet(sink).toPandas()

    # second drop: the rest + a far-future sentinel that pushes the
    # watermark past every real window so they all finalize
    rest.coalesce(1).write.mode("append").parquet(src)
    flush = ev.select(
        (F.max("ts") + F.expr("INTERVAL 100 HOURS")).alias("ts"),
        F.lit("__flush__").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(-1).cast("long").alias("event_id"),
    )
    flush.coalesce(1).write.mode("append").parquet(src)
    stream_tumbling_revenue_to_sink(spark, src, sink, ckpt)

    got = (
        spark.read.parquet(sink).toPandas()
        .query("event_type != '__flush__'")
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    # exactly-once across the restart: no window emitted twice, and every
    # window run 1 emitted survives untouched in the final sink
    keys = got.set_index(["window_start", "event_type"]).index
    assert not keys.duplicated().any()
    first_keys = first.set_index(["window_start", "event_type"]).index
    assert first_keys.isin(keys).all()

    batch = (
        tumbling_revenue(ev.select("ts", "event_type", "value"))
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    assert len(got) == len(batch) > 0
    assert got.window_start.tolist() == batch.window_start.tolist()
    assert got.event_type.tolist() == batch.event_type.tolist()
    assert got.n.tolist() == batch.n.tolist()
    assert got.total_value.tolist() == batch.total_value.tolist()


def test_stream_dedup_matches_batch_distinct(spark):
    """Every event delivered twice across micro-batches comes out exactly
    once — equal to the batch dropDuplicates on the single-delivery set."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.sources.tpch import events_df
    from big_data_elt_pipeline_spark.streaming.events import stream_deduped_events

    stream = stream_deduped_events(spark, SF_SMOKE).toPandas()
    batch = (
        events_df(spark, SF_SMOKE)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .dropDuplicates(["event_id"])
        .toPandas()
    )
    assert len(stream) == len(batch) > 0
    assert not stream.event_id.duplicated().any()
    s = stream.sort_values("event_id").reset_index(drop=True)
    b = batch.sort_values("event_id").reset_index(drop=True)
    assert (s.event_id.values == b.event_id.values).all()
    assert (s.value.values == b.value.values).all()
    assert (s.ts.values == b.ts.values).all()


def test_stream_static_enrich_matches_batch(spark):
    """The stream-static join is stateless, so the streamed enrichment
    must equal the batch twin row-for-row (same events, same segment
    labels, same values) — and no event may be dropped by the left join."""
    from big_data_elt_pipeline_spark.sources.tpch import events_df
    from big_data_elt_pipeline_spark.streaming.events import (
        enrich_events,
        stream_enriched_events,
    )

    stream = stream_enriched_events(spark, SF_SMOKE).toPandas()
    ev = events_df(spark, SF_SMOKE)
    customer = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    batch = enrich_events(ev, customer).toPandas()
    assert len(stream) == len(batch) == ev.count()  # left join drops nothing
    cols = ["event_id", "segment", "event_type", "value"]
    s = stream[cols].sort_values("event_id").reset_index(drop=True)
    b = batch[cols].sort_values("event_id").reset_index(drop=True)
    assert (s.values == b.values).all()
    assert (stream.segment != "unknown").any()  # the dimension actually matched
