"""Model scoring on a document stream (beyond-reference surface).

The quality/language classifier every ingest pipeline runs is a SCORING
pass, and the streaming-correct shape is map-only: the trained model is a
tokenizer-config-sized weight table, so it rides into every micro-batch
as a broadcast single-row MAP column and the margin is computed INSIDE
the row — per-doc feature extraction, map lookups, and an exact decimal
fold over the doc's own distinct buckets. No per-doc aggregation state,
no watermark, no shuffle: the stream side stays append-mode stateless
(the stream-static enrichment discipline, applied to inference).

The scorer itself is ``operators/classify.score_documents``, the one
logreg scorer in the repo; batch and stream run the same plan, so
stream == batch is asserted row-for-row in tests and in the
``stream_doc_scoring`` evidence relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.operators.classify import (
    model_map_row,
    score_documents,
)
from big_data_elt_pipeline_spark.streaming import (
    drain_to_memory,
    evidence_relation,
    staged_stream,
)


def stream_scored_documents(
    spark: SparkSession,
    sf_dir: str,
    model: DataFrame,
    model_row: DataFrame | None = None,
) -> DataFrame:
    """Score a document FILE STREAM under a trained model: readStream ->
    map-only scoring (model broadcast per micro-batch) -> append-mode
    memory sink. Stateless, so no watermark and no state store.

    ``model_row`` lets a caller that already materialized the one-row map
    form (``model_map_row``) share it instead of re-deriving it — the
    evidence relation passes its eagerly checkpointed row so the stream
    and the batch twin consume the SAME computed state."""
    raw = staged_stream(spark, sf_dir, "documents")
    scored = score_documents(
        raw.select("doc_id", "text"),
        model_map_row(model) if model_row is None else model_row,
    )
    return drain_to_memory(scored, "stream_doc_scoring_sink")


def stream_doc_scoring_evidence(
    spark: SparkSession, sf_dir: str, model: DataFrame
) -> DataFrame:
    """Streaming inference under HASH evidence (the r11 discipline
    applied to the last rows-only stream): run the file-stream scoring
    AND its batch twin (the SAME map-only ``score_documents`` plan on the
    batch read — the two must agree row-for-row because the margin is an
    order-free exact decimal fold), return the comparison relation. The
    oracle retrains the logreg weights in SQL (the unrolled
    ``_logreg_body`` rounds), rescoring every document relationally —
    so the driver hash certifies stream == batch == cross-engine model
    end to end."""
    from big_data_elt_pipeline_spark.sources.tpch import read_table

    # read_table, not a bare read: the batch twin re-scores the WHOLE
    # corpus with per-doc text features, exactly the map-heavy shape the
    # single-split input spread exists for (r14 §2.5 fix; this was the
    # one corpus-sized bypass the r14 audit flagged)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    mrow = model_map_row(model).localCheckpoint(eager=True)
    s = stream_scored_documents(spark, sf_dir, model, model_row=mrow)
    twin = score_documents(docs, mrow)
    checks = twin.agg(
        F.count(F.lit(1)).cast("long").alias("n_batch"),
        F.sum(F.round(F.col("score") * 1_000_000_000.0, 0).cast("long"))
        .cast("long")
        .alias("sum_score_nanos"),
        F.sum("predicted").cast("long").alias("n_predicted"),
    )
    return evidence_relation(s, twin, checks).select(
        "n_stream", "n_batch", "n_mismatch", "sum_score_nanos", "n_predicted"
    )
