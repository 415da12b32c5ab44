"""Streaming ANN serving: probe a query-vector stream against the
PERSISTED IVF-PQ index (beyond-reference surface — the reference has no
streaming and no ANN).

This is the production retrieval loop the stored index
(``operators/ann_index``) exists for: queries arrive continuously, the
quantizer state and codes are immutable between index commits, and each
micro-batch pays only the probe cost (IVFPIN.json: ~2.5 s flat vs a
30 s+ re-encode). The ADC scan contains an aggregation and a ranking
window, which append-mode streaming cannot express — so each
micro-batch runs the BATCH probe inside ``foreachBatch`` (the
documented per-batch-inference pattern) and lands its results as one
idempotent lakehouse commit (the exactly-once sink: a replayed epoch is
skipped, not duplicated). Top-k semantics are per micro-batch query set
— each query's candidates and ranking are self-contained, so
micro-batch boundaries cannot change any query's result (per-query
determinism is what makes the stream == batch comparison exact).

Evidence discipline (r11 streaming promotions): the comparison relation
returns n_stream / n_batch / n_mismatch plus content checksums the
DuckDB oracle recomputes by re-deriving the ENTIRE ranking (encode +
probe + ADC) from the raw corpus — a missed, duplicated, or reordered
emission anywhere in stream -> probe -> sink flips the driver hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark import lakehouse as LH
from big_data_elt_pipeline_spark.operators import ann_index as AIX
from big_data_elt_pipeline_spark.streaming import drain, evidence_relation, staged_slice


def stream_index_probe(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    out_path: str,
    lo: int = 32,
    hi: int = 48,
    k: int = 5,
    n_probe: int = 4,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run the embeddings FILE STREAM restricted to query ids
    [lo, hi) through per-micro-batch stored-index probes; each batch's
    top-k lands as one txn-tagged lakehouse commit under ``out_path``.
    Returns the sink table snapshot (query_id, vec_id, adc_l2sq, rank).

    Index-freshness semantics: each micro-batch resolves the latest
    state row and the codes and tombstone versions IT records
    (``ivfpq_probe``'s crash-consistent snapshot), so a concurrent
    ``append_to_index`` becomes visible to queries from the next epoch
    after its state publish — the serving behavior a vector store
    wants. For frozen-index replay, pass one publish-row
    ``state_version`` to ``ivfpq_probe`` inside a custom
    ``foreachBatch``.

    Idempotence contract: WITHOUT ``checkpoint_dir`` there is no stream
    state, so epoch ids restart at 0 every invocation while the txn app
    id is keyed on ``out_path`` alone — a second call against a
    PERSISTED out_path has all its commits txn-skipped as replays and
    returns the prior snapshot (correct only when the index is
    unchanged, which is what the replay test exercises; the gate's
    ``staging_dir`` wipes the sink each run). To serve a LIVE index
    across restarts, pass ``checkpoint_dir``: the engine then re-delivers
    only genuinely unfinished epochs (the ``stream_ingest``
    app-id-from-checkpoint pattern) and new invocations continue the
    epoch sequence instead of replaying it.
    """
    raw = staged_slice(
        spark, sf_dir, "embeddings", "vec_id", "embedding", lo, hi
    )
    app_id = f"stream_ann_probe:{checkpoint_dir or out_path}"

    def _probe_batch(batch: DataFrame, epoch: int) -> None:
        out = AIX.ivfpq_probe(
            spark, index_path, batch, k=k, n_probe=n_probe
        )
        LH.write_table(out, out_path, mode="append", txn=(app_id, int(epoch)))

    drain(
        raw.writeStream.outputMode("append").foreachBatch(_probe_batch),
        checkpoint_dir,
    )
    return LH.read_table(spark, out_path)


def stream_index_ingest(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    lo: int,
    hi: int,
    n_files: int | None = None,
    checkpoint_dir: str | None = None,
) -> dict:
    """File-stream the embeddings rows [lo, hi) INTO an existing index:
    each micro-batch is one ``append_to_index`` call — delta encoded
    against the stored immutable quantizers, txn-tagged so a re-delivered
    epoch is skipped instead of double-appended (the single-writer
    streaming ingest shape ``append_to_index``'s contract names).
    Returns the post-ingest state params.

    Same idempotence contract as ``stream_index_probe``: without
    ``checkpoint_dir`` the txn app id keys on ``index_path`` alone and a
    re-invocation replays (safely, as no-ops); with it, restarts continue
    the epoch sequence.
    """
    raw = staged_slice(
        spark, sf_dir, "embeddings", "vec_id", "embedding", lo, hi
    )
    app_id = f"stream_index_ingest:{checkpoint_dir or index_path}"

    def _ingest(batch: DataFrame, epoch: int) -> None:
        AIX.append_to_index(
            batch, index_path, txn=(app_id, int(epoch)), n_files=n_files
        )

    drain(
        raw.writeStream.outputMode("append").foreachBatch(_ingest),
        checkpoint_dir,
    )
    return AIX.load_index_state(spark, index_path)[2]


def stream_index_probe_evidence(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    out_path: str,
    lo: int = 32,
    hi: int = 48,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """ONE row comparing the streamed stored-index probe against the
    batch probe of the same query set: (n_stream, n_batch, n_mismatch,
    sum_rank, sum_adc_nanos, n_queries). adc checksums ride the
    round(x*1e9) integer trick (the ``stream_doc_scoring`` nanos
    discipline — both engines compute the same IEEE product from the
    same decimal-snapped sum, so the rounded integer is bit-portable).
    """
    s = stream_index_probe(
        spark, sf_dir, index_path, out_path, lo, hi, k, n_probe
    )
    queries = (
        # deliberate spread exemption: probe-sized slice (hi-lo query
        # vectors survive the pushed filter) — a repartition would cost
        # more than the single-task scan it replaces
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        .select("vec_id", "embedding")
    )
    twin = AIX.ivfpq_probe(
        spark, index_path, queries, k=k, n_probe=n_probe
    ).localCheckpoint(eager=True)
    checks = twin.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.sum("rank").cast("long").alias("sum_rank"),
        F.sum(F.round(F.col("adc_l2sq") * 1_000_000_000.0, 0).cast("long"))
        .cast("long")
        .alias("sum_adc_nanos"),
        F.count_distinct(F.col("query_id")).cast("long").alias("n_queries"),
    )
    return evidence_relation(s, twin, checks).select(
        "n_stream", "n_batch", "n_mismatch",
        "sum_rank", "sum_adc_nanos", "n_queries",
    )
