"""SparkSession factory.

Spark-first replacement for the reference's session creation
(``flows_spark/config_spark.py:37-58``) minus its per-stage cold starts,
remote ``spark.jars.packages`` resolution and Windows hacks — those
accounted for most of the reference's 118 s Spark wall time (BASELINE.md).

One shared session per process; AQE enabled so joins/skew re-plan at
runtime; session timezone pinned to UTC so timestamp semantics match the
DuckDB oracle and survive cluster-node TZ drift.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def default_driver_memory(phys_bytes: int) -> str:
    """Driver heap for a host with ``phys_bytes`` of physical memory: half
    of it in whole GB (at least 1g), capped at 48g. A heap sized past the
    host lets G1 grow instead of collect until the JVM is OOM-killed."""
    return f"{max(1, min(48, phys_bytes // 2 // 2**30))}g"


def default_cpus() -> str:
    """Local parallelism: ``SPARK_GRAFT_CPUS``, else the CPUs this process
    may run on. One task slot per usable CPU; a wider ``local[N]``
    oversubscribes the host. On a real cluster these come from
    spark-submit / cluster conf; shuffle.partitions is deliberately *not*
    hardcoded to a cluster-scale value because AQE coalesces post-shuffle
    partitions down from the initial number at runtime."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(app_name: str = "big_data_elt_pipeline_spark") -> SparkSession:
    """Create (or return) the shared SparkSession.

    Settings that matter at 100 TB and cost nothing locally:
    - AQE + coalescePartitions + skewJoin: runtime re-planning fixes both
      over-partitioned small shuffles and skewed join keys.
    - Arrow for any pandas-UDF exchange (vectorized, not per-row pickle).
    - ``parquet.aggregatePushdown`` lets MIN/MAX/COUNT run on footer stats.
    """
    cpus = default_cpus()
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Python DataSource (docstore) readers implement pushFilters;
        # Spark 4.1 refuses them unless this runtime switch is on
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
        # read as long and convert via timestamp_micros (sources/tpch.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config("spark.driver.memory", heap)
    )
    if not os.environ.get("SPARK_MASTER_URL"):
        builder = builder.master(f"local[{cpus}]")
    else:
        builder = builder.master(os.environ["SPARK_MASTER_URL"])
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pinned_rdds(spark: SparkSession) -> set:
    """Ids of the RDDs the session's persistent-RDD registry holds now —
    the snapshot to diff against when freeing what a span pinned
    (``localCheckpoint`` blocks are reachable only through this registry;
    ``DataFrame.unpersist`` does not free them)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def unpersist_rdds(spark: SparkSession, ids: set) -> None:
    """Unpersist, without blocking, every RDD in ``ids`` that the registry
    still holds."""
    reg = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = reg.get(rid)
        if rdd is not None:
            rdd.unpersist(False)
