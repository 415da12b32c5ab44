"""Index mutation semantics added in r14: generation-scoped tombstones
(delete -> re-append of the same id works WITHOUT an intervening
compaction), membership-validated deletes (a bogus id cannot corrupt
global stats), replay-after-delete convergence (the r13 advisory's
at-least-once redelivery hole), and the atomic ``update_*`` composites
(delete + append under ONE publish point — a mid-update reader sees the
old document or the new one, never neither)."""

import pytest
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark import lakehouse as LH
from big_data_elt_pipeline_spark.operators import ann_index as AIX
from big_data_elt_pipeline_spark.operators import retrieval as RETR
from big_data_elt_pipeline_spark.operators import similarity as SIM
from big_data_elt_pipeline_spark.operators import text_index as TIX
from tests.conftest import SF_SMOKE

KEY = ["query_id", "rank", "doc_id", "score"]
VKEY = ["query_id", "vec_id", "adc_l2sq", "rank"]


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _q(spark):
    return spark.createDataFrame(
        [
            ("q_join", "shuffle join broadcast table"),
            ("q_scan", "parquet scan filter pushdown"),
        ],
        "query_id string, query_text string",
    )


def _rows(df):
    return sorted(map(tuple, df.select(KEY).collect()))


def _vrows(df):
    return sorted(map(tuple, df.select(VKEY).collect()))


# --------------------------------------------------------------------------
# text index
# --------------------------------------------------------------------------

def _updated_docs(spark, docs):
    """Deterministic update batch: every doc_id % 11 == 0 gets rewritten
    text; two brand-new doc_ids are upserted."""
    rewritten = docs.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        F.concat(F.lit("refreshed shuffle corpus "), F.col("text")).alias(
            "text"
        ),
    )
    fresh = spark.createDataFrame(
        [
            (900001, "broadcast table refreshed join pushdown"),
            (900002, "parquet filter scan window order"),
        ],
        "doc_id long, text string",
    )
    return rewritten.unionByName(fresh), fresh


def test_update_text_documents_matches_adhoc_on_updated_corpus(
    spark, tmp_path, index_copy
):
    docs = _docs(spark)
    path = str(tmp_path / "index")
    index_copy("text_full", path)
    batch, fresh = _updated_docs(spark, docs)
    res = TIX.update_text_documents(batch, path, txn=("u", 1), n_files=4)
    assert res["n_updated"] == docs.filter(F.col("doc_id") % 11 == 0).count()
    assert res["n_inserted"] == 2

    updated = docs.filter(F.col("doc_id") % 11 != 0).unionByName(batch)
    assert res["n_docs"] == updated.count()
    q = _q(spark)
    got = _rows(TIX.bm25_index_probe(spark, path, q, k=10))
    assert got == _rows(RETR.bm25_topk(updated, q, k=10))

    audit = TIX.text_index_audit(spark, path).first()
    assert audit.n_docs == updated.count()
    assert audit.n_df_mismatch == 0 and audit.stats_consistent is True

    # the physical fold keeps exactly the newest generation of each doc
    hash_before = audit.postings_hash
    TIX.compact_text_index(spark, path, n_files=3)
    after = TIX.text_index_audit(spark, path).first()
    assert after.postings_hash == hash_before
    assert after.n_tombstones == 0
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=10)) == got

    # replaying the whole update epoch is a converging no-op
    assert TIX.update_text_documents(batch, path, txn=("u", 1)) == {
        "skipped": True
    }


def test_delete_then_reappend_same_doc_survives(spark, tmp_path, index_copy):
    """The r13 advisory trap: doc_id-level tombstones would hide a
    re-appended document and a later compact would destroy it. With
    generation-scoped tombstones the delete + append sequencing works,
    and compaction keeps the re-added rows."""
    docs = _docs(spark)
    path = str(tmp_path / "index")
    index_copy("text_full", path)
    victim = docs.filter(F.col("doc_id") == 0)
    assert victim.count() == 1
    TIX.delete_from_text_index(victim.select("doc_id"), path)
    readded = victim.select(
        "doc_id", F.concat(F.lit("revised "), F.col("text")).alias("text")
    )
    TIX.append_to_text_index(readded, path)

    updated = docs.filter(F.col("doc_id") != 0).unionByName(readded)
    q = _q(spark)
    got = _rows(TIX.bm25_index_probe(spark, path, q, k=10))
    assert got == _rows(RETR.bm25_topk(updated, q, k=10))

    # compaction folds ONLY the dead generation — the revision survives
    TIX.compact_text_index(spark, path, n_files=3)
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=10)) == got
    audit = TIX.text_index_audit(spark, path).first()
    assert audit.n_docs == updated.count()
    assert audit.n_df_mismatch == 0 and audit.stats_consistent is True


def test_append_replay_after_delete_does_not_resurrect(
    spark, tmp_path, index_copy
):
    """The r13 HIGH advisory: a replayed append epoch arriving AFTER a
    delete must not 'repair' stats by re-including tombstoned documents
    — the recount anti-joins the live tombstones."""
    docs = _docs(spark)
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    delta = docs.filter(F.col("doc_id") > mid)
    path = str(tmp_path / "index")
    index_copy("text_half", path)
    TIX.append_to_text_index(delta, path, txn=("stream", 42), n_files=4)
    victims = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    TIX.delete_from_text_index(victims, path)
    p_before = TIX.load_text_index_stats(spark, path)

    # at-least-once redelivery of the COMPLETED epoch after the delete
    assert TIX.append_to_text_index(delta, path, txn=("stream", 42)) == {
        "skipped": True
    }
    assert TIX.load_text_index_stats(spark, path) == p_before
    live = docs.filter(F.col("doc_id") % 7 != 0)
    q = _q(spark)
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=10)) == _rows(
        RETR.bm25_topk(live, q, k=10)
    )


def test_delete_bogus_ids_cannot_corrupt_stats(spark, tmp_path, index_copy):
    """The r13 LOW advisory: the N decrement derives from registry
    membership evidence, so deleting never-indexed ids is a counted
    no-op, and a mixed batch decrements by its live members only."""
    docs = _docs(spark)
    path = str(tmp_path / "index")
    meta = index_copy("text_full", path)
    q = _q(spark)
    before = _rows(TIX.bm25_index_probe(spark, path, q, k=10))

    bogus = spark.createDataFrame([(10**9,), (10**9 + 1,)], "doc_id long")
    res = TIX.delete_from_text_index(bogus, path)
    assert res == {"n_deleted": 0, "n_ignored": 2}
    p = TIX.load_text_index_stats(spark, path)
    assert p["n_docs"] == meta["n_docs"]
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=10)) == before

    mixed = spark.createDataFrame([(0,), (10**9,)], "doc_id long")
    res2 = TIX.delete_from_text_index(mixed, path)
    assert res2["n_deleted"] == 1 and res2["n_ignored"] == 1
    assert res2["n_docs"] == meta["n_docs"] - 1
    live = docs.filter(F.col("doc_id") != 0)
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=10)) == _rows(
        RETR.bm25_topk(live, q, k=10)
    )


def test_update_text_documents_publishes_atomically(
    spark, tmp_path, monkeypatch, index_copy
):
    """The crash window the composite exists to close: every data commit
    lands but the stats publish 'crashes' — a reader still resolves the
    OLD corpus exactly (old doc, not neither); the replayed epoch then
    converges to the NEW corpus."""
    docs = _docs(spark)
    path = str(tmp_path / "index")
    index_copy("text_full", path)
    q = _q(spark)
    before = _rows(TIX.bm25_index_probe(spark, path, q, k=10))
    batch, _ = _updated_docs(spark, docs)

    real_publish = TIX._publish_stats

    def crash(*a, **kw):
        raise RuntimeError("simulated crash at the publish point")

    monkeypatch.setattr(TIX, "_publish_stats", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        TIX.update_text_documents(batch, path, txn=("u", 7), n_files=4)
    monkeypatch.setattr(TIX, "_publish_stats", real_publish)

    # mid-update reader: the OLD document set, bit for bit
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=10)) == before

    res = TIX.update_text_documents(batch, path, txn=("u", 7), n_files=4)
    assert res.get("repaired") is True
    updated = docs.filter(F.col("doc_id") % 11 != 0).unionByName(batch)
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=10)) == _rows(
        RETR.bm25_topk(updated, q, k=10)
    )
    audit = TIX.text_index_audit(spark, path).first()
    assert audit.n_df_mismatch == 0 and audit.stats_consistent is True


def test_stream_text_updates_equals_batch_update(spark, tmp_path, index_copy):
    """The RAG refresh loop as a stream: streamed revisions leave the
    index bit-identical to the batch composite applied to the same
    batches (audit-hash equality) and to the ad-hoc BM25 over the
    updated corpus; a full stream replay converges as no-ops."""
    from big_data_elt_pipeline_spark.streaming.text_serving import (
        stream_text_updates,
    )

    docs = _docs(spark)
    s_path, b_path = str(tmp_path / "s"), str(tmp_path / "b")
    index_copy("text_full", s_path)
    index_copy("text_full", b_path)
    batch, _ = _updated_docs(spark, docs)

    src = str(tmp_path / "revisions")
    batch.repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    # NOTE maxFilesPerTrigger=1 splits the revision set across epochs —
    # legal because each doc_id appears once in the whole set
    p = stream_text_updates(stream, s_path, n_files=4)
    TIX.update_text_documents(batch, b_path, n_files=4)

    updated = docs.filter(F.col("doc_id") % 11 != 0).unionByName(batch)
    assert p["n_docs"] == updated.count()
    sa = TIX.text_index_audit(spark, s_path).first()
    ba = TIX.text_index_audit(spark, b_path).first()
    assert sa.postings_hash == ba.postings_hash
    assert sa.n_docs == ba.n_docs and sa.total_dl == ba.total_dl
    q = _q(spark)
    got = _rows(TIX.bm25_index_probe(spark, s_path, q, k=10))
    assert got == _rows(RETR.bm25_topk(updated, q, k=10))

    # replayed stream: every epoch a converging no-op
    stream2 = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    stream_text_updates(stream2, s_path, n_files=4)
    assert (
        TIX.text_index_audit(spark, s_path).first().postings_hash
        == sa.postings_hash
    )
    assert _rows(TIX.bm25_index_probe(spark, s_path, q, k=10)) == got


# --------------------------------------------------------------------------
# ANN index
# --------------------------------------------------------------------------

def _updated_vectors(spark, emb):
    """Deterministic re-encode batch: every vec_id % 5 == 0 gets a
    perturbed embedding; two brand-new vec_ids are upserted."""
    rewritten = emb.filter(F.col("vec_id") % 5 == 0).select(
        "vec_id",
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(0.5) + F.lit(0.25)
        ).alias("embedding"),
    )
    fresh = emb.filter(F.col("vec_id") < 2).select(
        (F.col("vec_id") + 900001).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(-1.0)).alias(
            "embedding"
        ),
    )
    return rewritten.unionByName(fresh), fresh


def _probe_twin(spark, path, corpus, queries):
    """Per-call twin: the corpus encoded with the STORED quantizers and
    scanned with the shared ADC kernel (what the stored index must
    answer after mutations)."""
    cells, books, p = AIX.load_index_state(spark, path)
    codes = SIM.ivfpq_encode_with_state(corpus, cells, books, p["m"], p["dsub"])
    return SIM.ivfpq_adc_scan(
        codes, cells, books, queries, k=5, n_probe=4, m=p["m"], dsub=p["dsub"]
    )


def test_update_index_vectors_matches_twin_on_updated_corpus(
    spark, tmp_path, index_copy
):
    emb = _emb(spark)
    path = str(tmp_path / "index")
    index_copy("ann_full", path)
    batch, fresh = _updated_vectors(spark, emb)
    res = AIX.update_index_vectors(batch, path, txn=("u", 1), n_files=4)
    assert res["n_updated"] == emb.filter(F.col("vec_id") % 5 == 0).count()
    assert res["n_inserted"] == 2

    updated = emb.filter(F.col("vec_id") % 5 != 0).unionByName(batch)
    assert res["n_vectors"] == updated.count()
    queries = emb.filter(F.col("vec_id") < 8)
    got = _vrows(AIX.ivfpq_probe(spark, path, queries, k=5, n_probe=4))
    assert got == _vrows(_probe_twin(spark, path, updated, queries))

    audit = AIX.index_audit(spark, path).first()
    assert audit.n_vectors == updated.count()
    assert audit.n_tombstones == res["n_updated"]

    # compaction folds only the dead generations — hash stable across it
    AIX.compact_index(spark, path, n_files=3)
    folded = AIX.index_audit(spark, path).first()
    assert folded.codes_hash == audit.codes_hash
    assert folded.n_tombstones == 0
    assert _vrows(AIX.ivfpq_probe(spark, path, queries, k=5, n_probe=4)) == got

    # replaying the whole update epoch is a converging no-op
    assert AIX.update_index_vectors(batch, path, txn=("u", 1)) == {
        "skipped": True
    }


def test_ann_delete_bogus_ids_counted_not_applied(spark, tmp_path, index_copy):
    emb = _emb(spark)
    path = str(tmp_path / "index")
    meta = index_copy("ann_full", path)
    bogus = spark.createDataFrame([(10**9,)], "vec_id long")
    assert AIX.delete_from_index(bogus, path) == {
        "n_deleted": 0, "n_ignored": 1
    }
    assert AIX.load_index_state(spark, path)[2]["n_vectors"] == meta["n_vectors"]

    mixed = spark.createDataFrame([(0,), (10**9,)], "vec_id long")
    res = AIX.delete_from_index(mixed, path)
    assert res["n_deleted"] == 1 and res["n_ignored"] == 1
    assert res["n_vectors"] == meta["n_vectors"] - 1


def test_ann_delete_visible_at_state_publish(
    spark, tmp_path, monkeypatch, index_copy
):
    """Tombstone visibility is state-pinned (mirrors the text index): a
    delete whose state publish 'crashes' is invisible — the probe
    answers the pre-delete corpus — and the replay converges it."""
    emb = _emb(spark)
    path = str(tmp_path / "index")
    index_copy("ann_full", path)
    queries = emb.filter(F.col("vec_id") < 8)
    before = _vrows(AIX.ivfpq_probe(spark, path, queries, k=5, n_probe=4))

    victims = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    real_publish = AIX._publish_state

    def crash(*a, **kw):
        raise RuntimeError("simulated crash at the publish point")

    monkeypatch.setattr(AIX, "_publish_state", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        AIX.delete_from_index(victims, path, txn=("d", 3))
    monkeypatch.setattr(AIX, "_publish_state", real_publish)

    # mid-delete reader: the PRE-delete ranking, not mixed halves
    assert (
        _vrows(AIX.ivfpq_probe(spark, path, queries, k=5, n_probe=4))
        == before
    )
    res = AIX.delete_from_index(victims, path, txn=("d", 3))
    assert res["n_deleted"] == victims.count()
    got = AIX.ivfpq_probe(spark, path, queries, k=5, n_probe=4).collect()
    assert got and all(r.vec_id % 7 != 0 for r in got)


def test_rebuild_clears_tombstones_and_recovers_deleted_ids(
    spark, tmp_path, index_copy
):
    """The r13 advisory convergence bug: a drift rebuild over a corpus
    containing previously-deleted ids must make them fully live again
    (tombstones cleared at build), so index_recall stops under-reporting
    and the loop converges."""
    emb = _emb(spark)
    path = str(tmp_path / "index")
    index_copy("ann_full", path)
    victims = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    AIX.delete_from_index(victims, path)
    queries = emb.filter(F.col("vec_id") < 8)
    assert all(
        r.vec_id % 7 != 0
        for r in AIX.ivfpq_probe(spark, path, queries, k=5).collect()
    )

    tripped = AIX.rebuild_if_drifted(
        spark, path, emb, queries, floor=1.0, n_files=4
    )
    assert tripped["rebuilt"] is True
    p = AIX.load_index_state(spark, path)[2]
    assert p["tombstones_version"] == -1
    assert p["n_vectors"] == emb.count()
    # previously-deleted ids rank again (the rebuilt corpus includes them)
    got = AIX.ivfpq_probe(spark, path, queries, k=5).collect()
    assert any(r.vec_id % 7 == 0 for r in got)
    audit = AIX.index_audit(spark, path).first()
    assert audit.n_vectors == emb.count() and audit.n_tombstones == 0
