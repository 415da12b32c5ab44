"""Thin IO layer (SURVEY.md §2.1 S1-S6, S11).

The reference moves bytes through MinIO with per-object get/put
(``flows/bronze_ingestion.py:30-59``); Spark-native IO is just
``spark.read``/``df.write`` against a path prefix — s3a:// on a cluster,
file:// locally — with the same bucket-layout semantics. The S6
primary/fallback helper ports ``flows_spark/config_spark.py:69-101``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S3: CSV scan with header and an EXPLICIT schema — no ``inferSchema``
    (the reference's inference costs a full extra pass and is
    non-deterministic on dirty data; silver casts do the coercion)."""
    return spark.read.csv(path, header=True, schema=schema, mode="PERMISSIVE")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON lines scan with explicit schema (inference on JSON is a full
    extra pass — never in production paths)."""
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> str:
    df.write.mode(mode).orc(path)
    return path


def read_lakehouse(
    spark: SparkSession, fmt: str, path: str, version: int | None = None
) -> DataFrame:
    """Lakehouse scan with time travel.

    ``fmt='manifest'`` (or any path carrying a ``_manifest`` commit log —
    i.e. written by ``lakehouse.write_table``) reads through the built-in
    manifest-snapshot format: ``version=N`` time-travels. For
    delta/iceberg/hudi the real connector is tried first; when its jars
    are absent (this image) a manifest log at the same path still serves
    the table, otherwise the honest NotImplementedError stands.
    """
    from big_data_elt_pipeline_spark import lakehouse

    if fmt not in ("delta", "iceberg", "hudi", "manifest"):
        raise ValueError(f"unknown lakehouse format {fmt!r}")
    if fmt == "manifest":
        return lakehouse.read_table(spark, path, version)
    try:
        reader = spark.read.format(fmt)
        if version is not None:
            reader = reader.option("versionAsOf", version)
        return reader.load(path)
    except Exception as exc:
        if lakehouse.is_manifest_table(path):
            return lakehouse.read_table(spark, path, version)
        raise NotImplementedError(
            f"{fmt} connector jars are not on the classpath in this image; "
            "add the connector package on a real cluster "
            "(e.g. io.delta:delta-spark, org.apache.iceberg:iceberg-spark-runtime)"
        ) from exc


def write_parquet(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> str:
    """S5: parquet sink. ``partition_by`` maps the reference's Mongo
    secondary indexes (S9) onto partition pruning where a column is a
    common filter key."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int, warehouse_note: str = ""
) -> str:
    """Bucketed managed table: pre-shuffles once at write so every later
    join/agg on ``key`` is co-located — no Exchange in the plan. This is the
    scale answer for repeatedly-joined fact tables (a 100 TB fact bucketed
    on its join key amortizes its shuffle across every downstream query).
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )
    return table


def to_json_records(df: DataFrame) -> DataFrame:
    """S11: edge serialization — one JSON string per row (NaN→null, ISO
    dates come free from Spark's JSON writer)."""
    from pyspark.sql import functions as F

    return df.select(F.to_json(F.struct(*df.columns)).alias("json"))
