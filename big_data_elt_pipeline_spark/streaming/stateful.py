"""Custom stateful streaming operator: per-user running totals via
``applyInPandasWithState`` (the escape hatch for operators Structured
Streaming's built-ins can't express — SURVEY.md §7 phase 6).

The fixture file is staged as TWO parquet chunks and consumed with
``maxFilesPerTrigger=1``, so the query really runs multiple micro-batches
and the state genuinely carries across them — the final per-user totals
must equal the batch groupBy (asserted in tests). On a cluster the source
becomes Kafka and the state store RocksDB; the operator body is unchanged.
"""

from __future__ import annotations

import pathlib
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from big_data_elt_pipeline_spark.sources.tpch import ensure_nanos_conf, read_table
from big_data_elt_pipeline_spark.streaming import drain_to_memory, staging_dir

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)


def _update(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's rows into the per-user state and emit the
    updated running totals. Money is accumulated in integer cents —
    associative, overflow-safe, and float-drift-free across batches."""
    n, total_cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        total_cents += int((pdf["value"] * 100).round().sum())
    state.update((n, total_cents))
    yield pd.DataFrame({"user_id": [key[0]], "n": [n], "total_cents": [total_cents]})


def _stage_two_chunks(events: DataFrame, sf_dir: str) -> str:
    """Split the events fixture into two files so the stream runs >1 batch."""
    stage = pathlib.Path(staging_dir("stream_user_totals", sf_dir), "src")
    if not (stage / "b" / "_SUCCESS").exists():
        mid = events.agg(F.expr("percentile(event_id, 0.5)")).first()[0]
        for sub, half in (("a", F.col("event_id") <= mid), ("b", F.col("event_id") > mid)):
            events.filter(half).coalesce(1).write.mode("overwrite").parquet(str(stage / sub))
    return str(stage)


def user_running_totals_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful query to completion; return the FINAL totals per
    user (the last update each key emitted)."""
    ensure_nanos_conf(spark)
    batch = read_table(spark, sf_dir, "events")
    raw = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(_stage_two_chunks(batch, sf_dir))
    )
    events = raw.select("user_id", "value")
    updates = events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = drain_to_memory(updates, "user_running_totals_sink", mode="update")
    # the memory sink accumulates every batch's updates; `n` is monotone per
    # user, so the final state is the max-n row
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n", (F.col("total_cents") / 100.0).alias("total_value"))
    )
