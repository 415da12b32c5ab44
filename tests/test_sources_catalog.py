"""``sources.tpch``: the schema catalog, the spread policy and the
domain plan memo.

A repeat read of a corpus file must fire no schema-inference job, a
rewritten file must be re-inferred, and only the map-heavy corpora
(``documents``, ``embeddings``) get the single-split round-robin spread.
``clients_df`` / ``achats_df`` / ``_fact`` hand a repeat caller the same
plan object, and a fresh one after a member file is rewritten, to another
session, or when the session time zone changes. ``_ref_date`` and
``_scored`` follow the same key, and the scored plan references no
checkpoint a caller can free.
"""

import contextlib
import shutil

from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_elt_pipeline_spark.operators import gold
from big_data_elt_pipeline_spark.plans import queries as Q
from big_data_elt_pipeline_spark.plans.compare import diff_frames, duckdb_connection
from big_data_elt_pipeline_spark.session import pinned_rdds, unpersist_rdds
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


_DOMAIN_TABLES = ("customer", "nation", "lineitem", "orders", "part")


def _domain_plans(spark, sf):
    return tpch.clients_df(spark, sf), tpch.achats_df(spark, sf), Q._fact(spark, sf)


def _copy_corpus(tmp_path, tables=_DOMAIN_TABLES):
    for t in tables:
        shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", f"{tmp_path}/{t}.parquet")
    return str(tmp_path)


def test_domain_plans_memoized_on_unchanged_corpus(spark):
    first = _domain_plans(spark, SF_SMOKE)
    with _job_ids(spark, "memo-repeat") as ids:
        again = _domain_plans(spark, SF_SMOKE)
    assert all(a is b for a, b in zip(first, again))
    assert ids == []  # a hit validates stamps only: no job


def test_rewritten_member_gives_fresh_plan(spark, tmp_path):
    import pyarrow.parquet as pq

    sf = _copy_corpus(tmp_path)
    clients, achats, fact = _domain_plans(spark, sf)
    n_clients = clients.count()

    customer = pq.read_table(f"{sf}/customer.parquet")
    pq.write_table(customer.slice(0, 10), f"{sf}/customer.parquet")
    clients2, achats2, fact2 = _domain_plans(spark, sf)
    assert clients2 is not clients and fact2 is not fact
    assert achats2 is achats  # its members are untouched
    assert n_clients > 10 and clients2.count() == 10
    assert fact2.filter(F.col("pays") != "Inconnu").select("id_client").distinct().count() <= 10


def test_new_session_never_gets_the_first_sessions_plan(spark):
    first = _domain_plans(spark, SF_SMOKE)
    other = spark.newSession()
    theirs = _domain_plans(other, SF_SMOKE)
    for mine, their in zip(first, theirs):
        assert their is not mine
        assert their.sparkSession is other
    assert all(p.sparkSession is spark for p in _domain_plans(spark, SF_SMOKE))


def test_time_zone_change_gives_fresh_plan(spark):
    """``date_achat`` is a date cast to a timestamp: its instant depends on
    the session time zone that analysis resolved."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)

    def first_purchase():
        achats = tpch.achats_df(spark, SF_SMOKE)
        return achats.agg(F.min(F.unix_seconds("date_achat"))).first()[0]

    base = first_purchase()
    spark.conf.set(key, "Etc/GMT+5")  # five hours behind UTC
    try:
        shifted = first_purchase()
    finally:
        spark.conf.set(key, old)
    assert shifted - base == 5 * 3600
    assert first_purchase() == base


def _version_state(spark, sf):
    return Q._ref_date(spark, sf), Q._scored(spark, sf)


def test_ref_date_and_scored_memoized_on_unchanged_corpus(spark, tmp_path):
    sf = _copy_corpus(tmp_path)
    with _job_ids(spark, "scored-miss") as miss:
        first = _version_state(spark, sf)
    with _job_ids(spark, "scored-hit") as hit:
        again = _version_state(spark, sf)
    assert miss  # the ref-date max and the thresholds collect
    assert hit == []
    assert all(a is b for a, b in zip(first, again))


def test_rewritten_lineitem_gives_fresh_ref_date_and_scores(spark, tmp_path):
    import pyarrow.parquet as pq

    sf = _copy_corpus(tmp_path)
    ref, scored = _version_state(spark, sf)
    old_t = gold.compute_score_thresholds(
        gold.build_client_features(Q._fact(spark, sf), tpch.clients_df(spark, sf), ref)
    )

    lineitem = pq.read_table(f"{sf}/lineitem.parquet")
    pq.write_table(lineitem.slice(0, 1000), f"{sf}/lineitem.parquet")
    ref2, scored2 = _version_state(spark, sf)
    assert ref2 < ref and scored2 is not scored

    # from scratch on the rewritten corpus: no memoized scalar involved
    clients = tpch.clients_df(spark, sf)
    fact = gold.build_fact(tpch.achats_df(spark, sf), clients)
    features = gold.build_client_features(fact, clients, gold.reference_date(fact))
    t = gold.compute_score_thresholds(features)
    assert t != old_t
    want = gold.score_clients(features, thresholds=t)
    assert sorted(scored2.collect()) == sorted(want.collect())


def test_time_zone_change_gives_fresh_scores(spark):
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    ref, scored = _version_state(spark, SF_SMOKE)
    spark.conf.set(key, "Etc/GMT+5")
    try:
        ref2, scored2 = _version_state(spark, SF_SMOKE)
    finally:
        spark.conf.set(key, old)
    assert (ref2 - ref).total_seconds() == 5 * 3600
    assert scored2 is not scored
    assert Q._ref_date(spark, SF_SMOKE) == ref


def test_new_session_never_gets_the_first_sessions_scores(spark):
    _, mine = _version_state(spark, SF_SMOKE)
    other = spark.newSession()
    with _job_ids(spark, "scored-other") as ids:
        _, theirs = _version_state(other, SF_SMOKE)
    assert ids  # its own ref-date and thresholds actions
    assert theirs is not mine and theirs.sparkSession is other
    assert Q._scored(spark, SF_SMOKE).sparkSession is spark


def test_scored_plan_pins_nothing_and_survives_freed_checkpoints(spark, tmp_path):
    """A memoized plan must never reference a checkpoint a caller can
    free: client scoring pins no RDD, and after every pinned RDD is
    freed the memo-hit plans still run and match the oracle."""
    sf = _copy_corpus(tmp_path, tpch.TABLES)
    names = ("client_scores", "segment_summary")
    before = pinned_rdds(spark)
    for name in names:
        Q.spark_queries()[name](spark, sf).write.format("noop").mode("overwrite").save()
    assert pinned_rdds(spark) == before

    unpersist_rdds(spark, pinned_rdds(spark))
    con = duckdb_connection(sf)
    try:
        for name in names:
            got = Q.spark_queries()[name](spark, sf).toPandas()
            want = con.execute(Q.oracle_queries()[name]).fetchdf()
            assert diff_frames(got, want) == [], name
    finally:
        con.close()
