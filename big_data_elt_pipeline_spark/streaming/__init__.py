"""Structured Streaming surface (beyond-reference — SURVEY.md §2.10/§7).

Each stream runs the batch function it is checked against: a stream
module hands a watermarked (or stateless) file stream to that function,
or calls it per micro-batch inside ``foreachBatch``, so stream and batch
twin share one plan body and differ only in source and sink. The
exceptions are the folds that carry state across micro-batches
(``stateful``, ``incremental``): each is checked against a plain batch
``groupBy``. This module holds what every stream shares:
the fixture stager, the drivers (``drain``, ``drain_to_memory``) and the
stream-vs-twin ``evidence_relation``."""

from __future__ import annotations

import os
import pathlib
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

_STAGES: dict[tuple, str] = {}


def staging_dir(prefix: str, sf_dir: str) -> str:
    """The one staging root for fixtures derived from ``sf_dir``: stream
    landing zones, staged indexes and shards, incremental gate state.

    One process-local root per (``prefix``, resolved ``sf_dir``, stamp of
    the ``sf_dir`` listing: each entry's name, size and mtime), so two
    corpora sharing a basename never share a root and a corpus rewritten
    in place gets a fresh, empty one. Every root is removed at interpreter
    exit. The ``state`` subdir is wiped on every call, so each invocation
    folds from an empty state."""
    import atexit

    src = pathlib.Path(sf_dir).resolve()
    stamp = tuple(sorted(
        (e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(src)
    ))
    key = (prefix, str(src), stamp)
    root = _STAGES.get(key)
    if root is None:
        root = _STAGES[key] = tempfile.mkdtemp(prefix=f"{prefix}_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    state = pathlib.Path(root, "state")
    if state.exists():
        shutil.rmtree(state)
    return root


def drain(writer: DataStreamWriter, checkpoint_dir: str | None = None) -> None:
    """Start ``writer``, process everything its source has available, and
    stop the query — also when a batch raises. ``checkpoint_dir`` sets
    the ``checkpointLocation`` (none: no stream state survives)."""
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def drain_to_memory(df: DataFrame, name: str, mode: str = "append") -> DataFrame:
    """``drain`` streaming ``df`` into the in-memory table ``name`` (output
    mode ``mode``) and return that table."""
    drain(df.writeStream.outputMode(mode).format("memory").queryName(name))
    return df.sparkSession.table(name)


def evidence_relation(
    stream: DataFrame, twin: DataFrame, checks: DataFrame
) -> DataFrame:
    """(n_stream, the twin's ``checks``..., n_mismatch) as one row: the
    symmetric ``exceptAll`` count is 0 iff stream == twin including
    duplicates. Every stream query checked against its batch twin under
    the oracle gate reports through this relation."""
    mism = stream.exceptAll(twin).unionByName(twin.exceptAll(stream))
    return (
        stream.agg(F.count(F.lit(1)).cast("long").alias("n_stream"))
        .crossJoin(checks)
        .crossJoin(mism.agg(F.count(F.lit(1)).cast("long").alias("n_mismatch")))
    )


def staged_stream(
    spark: SparkSession, sf_dir: str, name: str, copies: int = 1
) -> DataFrame:
    """File stream over ``copies`` staged copies of corpus table ``name``
    (streaming sources need a directory), one file per micro-batch, so
    ``copies`` > 1 delivers every row that many times. The schema is the
    ``read_table`` catalog's: no footer-inference job per stream."""
    from big_data_elt_pipeline_spark.sources.tpch import read_table

    schema = read_table(spark, sf_dir, name, spread=False).schema
    stage = pathlib.Path(staging_dir(f"stream_{name}_x{copies}", sf_dir), "src")
    if not stage.exists():
        tmp = stage.with_name("src.tmp")
        tmp.mkdir(exist_ok=True)
        for i in range(copies):
            shutil.copyfile(pathlib.Path(sf_dir, f"{name}.parquet"), tmp / f"{i}-{name}.parquet")
        tmp.rename(stage)
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(stage))


def staged_slice(
    spark: SparkSession, sf_dir: str, name: str, key: str, value: str,
    lo: int, hi: int,
) -> DataFrame:
    """``staged_stream`` of corpus table ``name``, restricted to
    ``lo <= key < hi`` and projected to ``(key, value)``."""
    return (
        staged_stream(spark, sf_dir, name)
        .filter((F.col(key) >= lo) & (F.col(key) < hi))
        .select(key, value)
    )
