"""Structured Streaming surface (beyond-reference — SURVEY.md §2.10/§7)."""

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
