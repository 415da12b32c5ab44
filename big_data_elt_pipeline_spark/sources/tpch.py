"""Adapters: driver TPC-H-ish test corpus → the engine's retail domain.

Per FIXTURES.md's mapping, ``customer`` plays ``clients`` (nationkey→pays via
``nation``) and ``orders``+``lineitem`` play ``achats`` (shipdate→date_achat,
discounted extendedprice→montant, part brand→produit). The derived columns
are defined by deterministic arithmetic that is expressible identically in
Spark and ANSI SQL, so every downstream operator can be differentially
tested against the DuckDB oracle.

Cross-engine exactness note: ``montant`` is the double product
``l_extendedprice*(1-l_discount)`` snapped to 4 decimals through a
``decimal(18,4)`` round-trip. Products of two 2-decimal inputs carry at most
4 true decimal digits, so the snap is unambiguous (never near a rounding
midpoint) and both engines land on the bit-identical double.

Per-version memo: ``memoized`` makes a ``(spark, sf_dir)`` builder
return one stored value per corpus dir instead of recomputing it on every
call. ``clients_df``, ``achats_df`` and ``plans.queries._fact`` store an
analyzed plan, so a hit skips rebuilding and re-analyzing the joined plan
over py4j. ``plans.queries._ref_date`` stores the reference date and
``plans.queries._scored`` the scored-clients plan, whose score thresholds
are literals: a hit skips the actions that computed them. An entry holds
an analyzed plan or a few scalars derived from that corpus version. It
never holds a row set and never holds pinned blocks, so no caller can
free what a later hit hands out. An entry is returned only to the session
that built it (identity), and only while every member table's stamp (file
listing plus schema confs, the ``read_table`` catalog stamp) and the
session time zone and ANSI mode, which analysis bakes into the plan, are
unchanged; otherwise the builder runs again and replaces the entry.
DataFrames and scalars are immutable, so a hit hands out the stored
object itself.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass
from typing import TypeVar

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


# the map-heavy corpora: their reads feed tokenize / explode / shingle /
# vector passes that run on the scan's own tasks. Every consumer of the
# relational tables and ``events`` is scan -> join/aggregate, which
# shuffles anyway, so a spread exchange there is pure overhead.
SPREAD_TABLES = frozenset({"documents", "embeddings"})

# SQL confs that change what parquet schema inference returns
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


@dataclass
class _CatalogEntry:
    stamp: tuple  # file (mtime, length) listing + schema conf values
    schema: T.StructType
    splits: int | None = None  # scan split count, probed on first spread


# one entry per corpus path: file metadata only, no query data. An entry
# whose stamp no longer matches (rewritten file, changed conf) is
# re-inferred and replaced.
_CATALOG: dict[str, _CatalogEntry] = {}


def _stamp(spark: SparkSession, *paths: str) -> tuple:
    """(modification time, length) of every Hadoop ``FileStatus`` under
    each path — one listing call per path, no job, and ``s3a://`` works
    too — plus the session's ``_SCHEMA_CONFS`` values. A missing path
    raises ``Py4JJavaError``."""
    fs_path = spark._jvm.org.apache.hadoop.fs.Path
    conf = spark._jsc.hadoopConfiguration()
    stamp = []
    for path in paths:
        jpath = fs_path(path)
        stamp.append(tuple(
            (st.getModificationTime(), st.getLen())
            for st in jpath.getFileSystem(conf).listStatus(jpath)
        ))
    return (*stamp, *(spark.conf.get(c, None) for c in _SCHEMA_CONFS))


def read_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool | None = None
) -> DataFrame:
    """Read one corpus table with its cached schema, spreading a single-
    split scan only for the map-heavy corpora.

    Schema catalog: ``spark.read.parquet`` runs a schema-inference job on
    every call. The first read of a file infers its schema and stores it
    in ``_CATALOG``; every later read passes it to
    ``spark.read.schema(...)`` and fires no job. The entry is stamped with
    the file's modification time and length and the session's parquet
    schema confs (``nanosAsLong`` among them), so a rewritten file or a
    changed conf is re-inferred and ``events_ts_col`` always sees the
    physical type.

    Input spread: the test corpus ships each table as ONE single-row-
    group parquet file, so a scan plans as ONE task. For ``documents``
    and ``embeddings`` (``SPREAD_TABLES``) that would run all map-side
    work on one core, so when the scan's split count is below
    ``defaultParallelism`` a round-robin repartition is inserted. On a
    production layout the condition is false and the plan is untouched.
    Deterministic: round-robin repartition local-sorts its input first,
    and every downstream operator is partitioning-independent by the
    repo's determinism contract. Other tables are read unspread.
    ``spread=`` overrides the per-table default.
    """
    path = f"{sf_dir}/{name}.parquet"
    try:
        stamp = _stamp(spark, path)
    except Py4JJavaError:
        return spark.read.parquet(path)  # missing path: Spark's own error
    entry = _CATALOG.get(path)
    if entry is None or entry.stamp != stamp:
        df = spark.read.parquet(path)
        entry = _CATALOG[path] = _CatalogEntry(stamp, df.schema)
    else:
        df = spark.read.schema(entry.schema).parquet(path)
    if spread is None:
        spread = name in SPREAD_TABLES
    if not spread:
        return df
    if entry.splits is None:
        entry.splits = df.rdd.getNumPartitions()
    floor = spark.sparkContext.defaultParallelism
    if entry.splits < floor:
        df = df.repartition(floor)
    return df


# SQL confs that analysis bakes into the domain plans' casts and
# date functions (resolved time zone, ANSI eval mode)
_PLAN_CONFS = ("spark.sql.session.timeZone", "spark.sql.ansi.enabled")

_V = TypeVar("_V")


@dataclass
class _PlanEntry:
    spark: SparkSession
    stamp: tuple  # members' ``_stamp`` and _PLAN_CONFS
    value: object  # an analyzed plan or scalars, never rows or pinned blocks


def memoized(*tables: str):
    """Memoize a ``(spark, sf_dir)`` builder over corpus ``tables``: one
    entry per corpus dir, handed out while it is still valid for the
    session and corpus version. The builder may return an analyzed plan
    or scalars derived from the corpus version, never a row set or a
    plan over pinned blocks (module docstring)."""
    def deco(build: Callable[[SparkSession, str], _V]) -> Callable[[SparkSession, str], _V]:
        plans: dict[str, _PlanEntry] = {}

        @functools.wraps(build)
        def memo(spark: SparkSession, sf_dir: str) -> _V:
            try:
                stamp = _stamp(spark, *(f"{sf_dir}/{t}.parquet" for t in tables))
            except Py4JJavaError:
                return build(spark, sf_dir)  # missing member: Spark's own error
            stamp += tuple(spark.conf.get(c, None) for c in _PLAN_CONFS)
            entry = plans.get(sf_dir)
            if entry is None or entry.spark is not spark or entry.stamp != stamp:
                entry = plans[sf_dir] = _PlanEntry(spark, stamp, build(spark, sf_dir))
            return entry.value

        return memo
    return deco


@memoized("customer", "nation")
def clients_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``clients`` from customer ⋈ nation (broadcast — nation has 25 rows),
    memoized per corpus version (module docstring)."""
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("c_custkey").alias("id_client"),
            F.col("c_name").alias("nom"),
            F.concat(F.lower(F.col("c_name")), F.lit("@clients.example")).alias("email"),
            F.date_add(
                F.lit("1992-01-01").cast("date"),
                (F.col("c_custkey") % 2557).cast("int"),
            ).alias("date_inscription"),
            F.col("n_name").alias("pays"),
        )
    )


@memoized("lineitem", "orders", "part")
def achats_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``achats`` from lineitem ⋈ orders ⋈ part, memoized per corpus
    version (module docstring).

    orders/part are joined on their keys; at scale the orders join is the
    big one (fact-to-fact) and shuffles on orderkey, while part is
    dimension-sized per SF and AQE will broadcast it.
    """
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    part = read_table(spark, sf_dir, "part")
    # (l_orderkey, l_linenumber) is NOT unique in this generator; the md5-
    # derived 60-bit hash of the full natural key is, and is portable
    # (identical expression in the DuckDB oracle CTE below)
    id_achat = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("l_orderkey"),
                        F.col("l_linenumber"),
                        F.col("l_partkey"),
                        F.col("l_suppkey"),
                        F.col("l_quantity").cast("int"),
                        F.date_format("l_shipdate", "yyyy-MM-dd"),
                    )
                ),
                1, 15,
            ),
            16, 10,
        )
        .cast("long")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(part, lineitem.l_partkey == part.p_partkey)
        .select(
            id_achat.alias("id_achat"),
            F.col("o_custkey").alias("id_client"),
            F.col("l_shipdate").cast("timestamp").alias("date_achat"),
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            .cast("decimal(18,4)").cast("double").alias("montant"),
            F.col("p_brand").alias("produit"),
        )
    )


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Older corpus drops store events.ts as TIMESTAMP(NANOS), which Spark
    can only read as a long with this legacy conf. Sessions we build set it
    at startup, but the driver's verify passes its OWN session — set it
    defensively at runtime (it is a runtime-settable SQL conf; verified).
    Harmless when the file stores micros."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def events_ts_col(ts_type: T.DataType):
    """Normalize the raw events ``ts`` to a microsecond TIMESTAMP column.

    The driver corpus has shipped ``ts`` both as TIMESTAMP(NANOS) (read as
    a nanosecond long under ``nanosAsLong``) and as TIMESTAMP(MICROS)
    (read as TIMESTAMP_NTZ). Branch on the observed physical type so a
    regenerated testdata drop cannot break the loaders; the session TZ is
    pinned to UTC, so the NTZ→TZ cast is wall-clock-identical to DuckDB's
    naive TIMESTAMP.
    """
    if isinstance(ts_type, T.LongType):
        # integer `div`, NOT `/`: ns epochs (~1.7e18) exceed double's exact
        # integer range, so float division corrupts the low microseconds
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")


def events_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` with proper microsecond timestamps (type-adaptive scan)."""
    ensure_nanos_conf(spark)
    raw = read_table(spark, sf_dir, "events")
    return raw.select(
        "event_id",
        events_ts_col(raw.schema["ts"].dataType).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


EVENTS_SQL = """
ev AS (
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props
    FROM events
)
"""


# --- matching ANSI-SQL CTEs for the DuckDB oracle --------------------------

CLIENTS_SQL = """
clients AS (
    SELECT c_custkey AS id_client,
           c_name AS nom,
           lower(c_name) || '@clients.example' AS email,
           DATE '1992-01-01' + CAST(c_custkey % 2557 AS INTEGER) AS date_inscription,
           n_name AS pays
    FROM customer JOIN nation ON c_nationkey = n_nationkey
)
"""

ACHATS_SQL = """
achats AS (
    SELECT ('0x' || substr(md5(concat_ws('|',
               CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
               CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR),
               CAST(CAST(l_quantity AS INTEGER) AS VARCHAR),
               strftime(l_shipdate, '%Y-%m-%d'))), 1, 15))::BIGINT AS id_achat,
           o_custkey AS id_client,
           CAST(l_shipdate AS TIMESTAMP) AS date_achat,
           CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS montant,
           p_brand AS produit
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN part ON l_partkey = p_partkey
)
"""

FACT_SQL = """
fact AS (
    SELECT a.*,
           coalesce(c.pays, 'Inconnu') AS pays,
           strftime(a.date_achat, '%Y-%m') AS mois,
           strftime(a.date_achat, '%Y-%m-%d') AS jour,
           CAST(year(a.date_achat) AS INTEGER) AS annee
    FROM achats a LEFT JOIN clients c USING (id_client)
)
"""


def domain_ctes() -> str:
    """WITH-clause prefix shared by every oracle query."""
    return f"WITH {CLIENTS_SQL.strip()},\n{ACHATS_SQL.strip()},\n{FACT_SQL.strip()}"
