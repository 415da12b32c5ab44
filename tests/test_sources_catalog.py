"""``sources.tpch.read_table``: the schema catalog and the spread policy.

A repeat read of a corpus file must fire no schema-inference job, a
rewritten file must be re-inferred, and only the map-heavy corpora
(``documents``, ``embeddings``) get the single-split round-robin spread.
"""

import contextlib

from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_elt_pipeline_spark.plans import queries as Q
from big_data_elt_pipeline_spark.sources import tpch
from tests.conftest import SF_SMOKE


@contextlib.contextmanager
def _job_ids(spark, group):
    """Collect the ids of the jobs fired inside the block (statusTracker)."""
    sc = spark.sparkContext
    ids = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_repeat_read_fires_no_job(spark):
    tpch.read_table(spark, SF_SMOKE, "orders").schema
    with _job_ids(spark, "catalog-repeat") as ids:
        again = tpch.read_table(spark, SF_SMOKE, "orders")
        again.schema
    assert ids == []
    assert "o_orderkey" in again.columns


def test_rewritten_file_is_reinferred(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    spark.range(3).write.parquet(path)
    with _job_ids(spark, "catalog-first") as first:
        assert tpch.read_table(spark, sf, "t").columns == ["id"]
    with _job_ids(spark, "catalog-second") as second:
        tpch.read_table(spark, sf, "t").schema
    # the probe sees inference jobs, so the empty repeat is not vacuous
    assert first and second == []

    spark.range(3).select(F.col("id").cast("string").alias("name")).write.mode(
        "overwrite"
    ).parquet(path)
    df = tpch.read_table(spark, sf, "t")
    assert df.schema == T.StructType([T.StructField("name", T.StringType())])
    assert sorted(r.name for r in df.collect()) == ["0", "1", "2"]


def test_relational_plans_are_unspread(spark):
    for name in ("ca_country", "hll_monthly_distinct"):
        plan = _plan(Q.spark_queries()[name](spark, SF_SMOKE))
        assert "RoundRobinPartitioning" not in plan, (name, plan[:2000])


def test_documents_read_below_parallelism_is_spread(spark):
    floor = spark.sparkContext.defaultParallelism
    natural = tpch.read_table(spark, SF_SMOKE, "documents", spread=False)
    assert natural.rdd.getNumPartitions() < floor
    assert "RoundRobinPartitioning" not in _plan(natural)
    spread = tpch.read_table(spark, SF_SMOKE, "documents")
    assert "RoundRobinPartitioning" in _plan(spread)
    assert spread.rdd.getNumPartitions() == floor


def test_events_ts_is_micros_under_bare_session(spark):
    """A fresh session (no repo confs) shares the catalog with the tuned
    one; ``events_df`` must still see the physical ``ts`` type and give
    the same microsecond instants."""
    bare = spark.newSession()
    bare.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert bare.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None

    def micros(session):
        ev = tpch.events_df(session, SF_SMOKE)
        assert ev.schema["ts"].dataType == T.TimestampType()
        return ev.agg(
            F.sum(F.unix_micros("ts")).alias("s"), F.count(F.lit(1)).alias("n")
        ).first()

    assert micros(bare) == micros(spark)
