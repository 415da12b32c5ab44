"""Incremental gold refresh: maintain gold aggregates from a purchase
stream via ``foreachBatch`` — the streaming replacement for the
reference's cron-style full re-publish (``serving_mongo`` re-reads and
rewrites everything each cycle, SURVEY §2.10(b)).

Each micro-batch partial-aggregates by the gold key (exact decimal sums),
merges into the persisted gold state and commits the merged state as one
lakehouse overwrite tagged ``txn=(app_id, epoch)``. Because decimal
addition is associative, the incrementally-maintained table is
BIT-IDENTICAL to a full batch recompute — asserted in tests and under
the oracle gate for two different gold keys (``mois``, ``pays``),
showing the pattern generalizes. The commit is atomic (a manifest
rename), and a re-delivered epoch finds its tag in the log and is
skipped, so a restart never folds an epoch twice. On a cluster the merge
is a Delta ``MERGE INTO`` under the same txnAppId protocol; the state is
dimension-sized (one row per key).
"""

from __future__ import annotations

import pathlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark import lakehouse as LH
from big_data_elt_pipeline_spark.streaming import drain


def _merge_batch(
    spark: SparkSession, batch: DataFrame, state_dir: str, key: Column, key_name: str,
    txn: tuple[str, int],
) -> None:
    partial = batch.groupBy(key.alias(key_name)).agg(
        F.sum(F.col("montant").cast("decimal(18,4)")).alias("ca_dec"),
        F.count(F.lit(1)).alias("n"),
    )
    merged = partial
    if LH.is_manifest_table(state_dir):
        merged = (
            LH.read_table(spark, state_dir).unionByName(partial)
            .groupBy(key_name)
            .agg(F.sum("ca_dec").alias("ca_dec"), F.sum("n").alias("n"))
        )
    LH.write_table(merged.coalesce(1), state_dir, mode="overwrite", txn=txn)


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
    batch recompute bit-for-bit). The txn app id is keyed on
    ``checkpoint_dir``, or else on ``state_dir`` (the ``stream_ingest``
    and ``stream_index_probe`` contract): an epoch the engine re-delivers
    is skipped, and without a checkpoint a second call against a
    persisted state replays as no-ops and returns that state."""
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
    app_id = f"incremental_gold:{checkpoint_dir or state_dir}"
    drain(
        raw.writeStream.outputMode("append").foreachBatch(
            lambda batch, epoch: _merge_batch(
                spark, batch, state_dir, key, key_name, (app_id, int(epoch))
            )
        ),
        checkpoint_dir,
    )
    return LH.read_table(spark, state_dir).select(
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
