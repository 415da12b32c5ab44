"""Structured Streaming surface (beyond-reference — SURVEY.md §2.10/§7)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter


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


def staged_slice(
    spark: SparkSession, sf_dir: str, name: str, key: str, value: str,
    lo: int, hi: int,
) -> DataFrame:
    """File stream of the staged copy of ``sf_dir/name``, restricted to
    ``lo <= key < hi`` and projected to ``(key, value)``."""
    from big_data_elt_pipeline_spark.streaming.scoring import _staged_docs_dir

    stage = _staged_docs_dir(sf_dir, name)
    return (
        spark.readStream.schema(spark.read.parquet(stage).schema)
        .parquet(stage)
        .filter((F.col(key) >= lo) & (F.col(key) < hi))
        .select(key, value)
    )
