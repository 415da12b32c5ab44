"""Streaming ingest INTO the persisted BM25 index — the text twin of
``streaming/ann_serving.stream_index_ingest`` (beyond-reference surface;
the reference has no streaming and no retrieval).

A document stream lands in the index one ``append_to_text_index`` call
per micro-batch: the delta is tokenized alone (never the corpus), its
postings and (term, df) increments commit clustered-by-term, and the
stats row advances — txn-tagged per epoch, so a crash re-delivery is
skipped (or, if the original crashed mid-publish, CONVERGED) rather
than double-counted. Because BM25 index stats are exact (no frozen
quantizers — contrast the ANN ingest's immutable-codebook note), a
fully streamed corpus is bit-identical to a batch build of the same
corpus: ``text_index_audit`` hashes match, which is what the pytest
pins.

Single-writer contract inherited from ``append_to_text_index`` — a
micro-batch stream IS the single writer.

``stream_text_updates`` is the mutation twin: a stream of document
REVISIONS applied one ``update_text_documents`` epoch at a time — the
RAG corpus-refresh loop as a stream, each epoch one atomic publish.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from big_data_elt_pipeline_spark.operators import text_index as TIX
from big_data_elt_pipeline_spark.streaming import drain, staged_slice


def stream_text_ingest(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    lo: int,
    hi: int,
    n_files: int | None = None,
    checkpoint_dir: str | None = None,
) -> dict:
    """File-stream the documents rows [lo, hi) into an EXISTING text
    index; returns the post-ingest stats dict. Same idempotence contract
    as ``ann_serving.stream_index_ingest``: without ``checkpoint_dir``
    the txn app id keys on ``index_path`` and a re-invocation replays as
    converging no-ops; with one, restarts continue the epoch sequence.
    """
    raw = staged_slice(
        spark, sf_dir, "documents", "doc_id", "text", lo, hi
    )
    app_id = f"stream_text_ingest:{checkpoint_dir or index_path}"

    def _ingest(batch: DataFrame, epoch: int) -> None:
        TIX.append_to_text_index(
            batch, index_path, txn=(app_id, int(epoch)), n_files=n_files
        )

    drain(
        raw.writeStream.outputMode("append").foreachBatch(_ingest),
        checkpoint_dir,
    )
    return TIX.load_text_index_stats(spark, index_path)


def stream_text_updates(
    updates: DataFrame,
    index_path: str,
    n_files: int | None = None,
    checkpoint_dir: str | None = None,
    app_id: str | None = None,
) -> dict:
    """Apply a STREAM of document revisions to an existing text index —
    the RAG corpus-refresh loop as a stream: each micro-batch is one
    ``update_text_documents`` call (delete + append under ONE atomic
    stats publish per epoch), txn-tagged so a crash re-delivery is
    skipped or converged, never double-applied. A reader at any instant
    resolves each document at exactly one revision — the epoch
    boundaries ARE the visibility points.

    ``updates`` is a STREAMING (doc_id, text) DataFrame (any source);
    upsert semantics per batch (new doc_ids insert). Later revisions of
    a doc_id must arrive in later epochs (within one micro-batch a
    doc_id must be unique — the ``update_text_documents`` contract);
    single-writer inherited. Returns the post-stream stats dict.
    """
    tag = app_id or f"stream_text_updates:{checkpoint_dir or index_path}"

    def _apply(batch: DataFrame, epoch: int) -> None:
        TIX.update_text_documents(
            batch, index_path, txn=(tag, int(epoch)), n_files=n_files
        )

    drain(
        updates.writeStream.outputMode("append").foreachBatch(_apply),
        checkpoint_dir,
    )
    return TIX.load_text_index_stats(updates.sparkSession, index_path)
