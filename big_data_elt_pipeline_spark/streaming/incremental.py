"""Incremental gold refresh: maintain gold aggregates from a purchase
stream via ``foreachBatch`` — the streaming replacement for the
reference's cron-style full re-publish (``serving_mongo`` re-reads and
rewrites everything each cycle, SURVEY §2.10(b)).

Each micro-batch partial-aggregates by the gold key (exact decimal sums)
and merges into the persisted gold state. Because decimal addition is
associative, the incrementally-maintained table is BIT-IDENTICAL to a
full batch recompute — asserted in tests and under the oracle gate for
two different gold keys (``mois``, ``pays``), showing the pattern
generalizes. On a cluster the merge is a Delta ``MERGE INTO``; locally
the stand-in is an atomic read-merge-overwrite of a small parquet (the
state is dimension-sized: one row per key).
"""

from __future__ import annotations

import atexit
import pathlib
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.streaming import drain

_STAGING_CACHE: dict[tuple[str, str], str] = {}


def staging_dir(prefix: str, sf_dir: str) -> str:
    """Per-(prefix, sf_dir) cached staging root for gate/bench invocations.

    Repeated gate evaluation used to ``mkdtemp`` per call, restaging the
    source shards and leaking every directory. Caching by (query, sf_dir)
    stages the source once per process (``incremental_gold`` skips staging
    when ``_STAGED`` exists); the ``state`` subdir is wiped here so every
    invocation folds from an empty state and stays deterministic.

    Cached roots are removed at interpreter exit (atexit) so repeated gate
    runs leak nothing. Caveat (documented, not defended): regenerating the
    ``sf_dir`` dataset mid-process serves the stale staged copy — restart
    the process (or clear ``_STAGING_CACHE``) after a testdata refresh.
    """
    key = (prefix, sf_dir)
    root = _STAGING_CACHE.get(key)
    if root is None:
        root = tempfile.mkdtemp(prefix=f"{prefix}_")
        _STAGING_CACHE[key] = root
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    state = pathlib.Path(root, "state")
    if state.exists():
        shutil.rmtree(state)
    return root


def _merge_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, key: Column, key_name: str
) -> None:
    partial = (
        batch.groupBy(key.alias(key_name))
        .agg(
            F.sum(F.col("montant").cast("decimal(18,4)")).alias("ca_dec"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    state_path = pathlib.Path(state_dir)
    if (state_path / "_SUCCESS").exists():
        current = spark.read.parquet(state_dir)
        merged = (
            current.unionByName(partial)
            .groupBy(key_name)
            .agg(F.sum("ca_dec").alias("ca_dec"), F.sum("n").alias("n"))
        )
    else:
        merged = partial
    tmp = str(state_path) + "__tmp"
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    if state_path.exists():
        shutil.rmtree(state_dir)
    shutil.move(tmp, state_dir)


def incremental_gold(
    spark: SparkSession,
    df: DataFrame,
    source_dir: str,
    state_dir: str,
    key: Column,
    key_name: str,
    chunks: int = 3,
    shard_col: str = "id_achat",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Stage ``df`` as N file shards, stream them one per micro-batch, and
    fold each batch into the gold state with ``foreachBatch``. Returns the
    final state as (key_name, ca, n).

    With ``checkpoint_dir`` the query is RESUMABLE: source offsets and
    commit log persist, so a stopped query restarted against the same
    checkpoint skips already-folded shards and continues from the saved
    state — the cluster restart/recovery property
    (tests/test_streaming.py asserts the recovered state equals a full
    batch recompute bit-for-bit)."""
    src = pathlib.Path(source_dir)
    if not (src / "_STAGED").exists():
        df.withColumn(
            "__chunk", F.pmod(F.xxhash64(shard_col), F.lit(chunks))
        ).write.partitionBy("__chunk").mode("overwrite").parquet(str(src / "data"))
        (src / "_STAGED").touch()

    raw = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(str(src / "data"))
    )
    drain(
        raw.writeStream.outputMode("append").foreachBatch(
            lambda batch, _epoch: _merge_batch(spark, batch, state_dir, key, key_name)
        ),
        checkpoint_dir,
    )
    state = spark.read.parquet(state_dir)
    return state.select(
        key_name, F.col("ca_dec").cast("double").alias("ca"), "n"
    ).orderBy(key_name)


def incremental_ca_monthly(
    spark: SparkSession, achats: DataFrame, source_dir: str, state_dir: str,
    chunks: int = 3,
) -> DataFrame:
    return incremental_gold(
        spark, achats, source_dir, state_dir,
        key=F.date_format("date_achat", "yyyy-MM"), key_name="mois", chunks=chunks,
    )


def incremental_ca_country(
    spark: SparkSession, fact: DataFrame, source_dir: str, state_dir: str,
    chunks: int = 3,
) -> DataFrame:
    """Same ``foreachBatch`` fold over a second gold key (country), fed by
    the enriched fact (purchases joined to client country)."""
    return incremental_gold(
        spark, fact.select("id_achat", "montant", "pays"), source_dir, state_dir,
        key=F.col("pays"), key_name="pays", chunks=chunks,
    )
