"""Persisted BM25 text index (operators/text_index.py): the stored-index
probe must answer bit-identically to the per-call ``bm25_topk``, the
stored postings must verify against the corpus, appends must converge to
exactly the full-corpus index (BM25 stats are exact, unlike the frozen
ANN quantizers), and the probe read must actually skip files for terms
outside a file's range."""

import pytest
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark import lakehouse as LH
from big_data_elt_pipeline_spark.operators import retrieval as RETR
from big_data_elt_pipeline_spark.operators import text_index as TIX
from tests.conftest import SF_SMOKE

QUERIES = [
    ("q_join", "shuffle join broadcast table"),
    ("q_scan", "parquet scan filter pushdown"),
    ("q_window", "window partition order row"),
]


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )


def _queries(spark, pairs=QUERIES):
    return spark.createDataFrame(pairs, "query_id string, query_text string")


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("textix") / "index")
    meta = TIX.build_text_index(_docs(spark), path, n_files=8)
    return path, meta


KEY = ["query_id", "rank", "doc_id", "score"]


def _rows(df):
    return sorted(map(tuple, df.select(KEY).collect()))


def test_probe_matches_per_call_form(spark, index_path):
    path, _ = index_path
    q = _queries(spark)
    stored = TIX.bm25_index_probe(spark, path, q, k=10)
    adhoc = RETR.bm25_topk(_docs(spark), q, k=10)
    assert _rows(stored) == _rows(adhoc)
    assert len(_rows(stored)) > 0


def test_audit_counts_hash_and_consistency(spark, index_path):
    path, meta = index_path
    row = TIX.text_index_audit(spark, path).first()
    assert row.n_docs == meta["n_docs"]
    assert row.n_docs_tokenized == meta["n_docs_tokenized"]
    assert row.total_dl == meta["total_dl"]
    assert row.n_df_mismatch == 0
    assert row.stats_consistent is True
    assert row.vocab_size > 0
    assert row.n_postings >= row.vocab_size
    assert len(row.postings_hash) == 32


def test_append_converges_to_full_corpus_index(spark, tmp_path, index_copy):
    """BM25 index stats are exact (no frozen quantizers): base build +
    delta append must equal the full-corpus index EXACTLY — the probe is
    bit-identical to the ad-hoc form over the whole corpus, and the df
    increments reconcile."""
    docs = _docs(spark)
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    path = str(tmp_path / "index")
    index_copy("text_half", path)
    res = TIX.append_to_text_index(
        docs.filter(F.col("doc_id") > mid), path, txn=("t", 1), n_files=4
    )
    assert res["n_docs"] == docs.count()

    q = _queries(spark)
    stored = TIX.bm25_index_probe(spark, path, q, k=10)
    adhoc = RETR.bm25_topk(docs, q, k=10)
    assert _rows(stored) == _rows(adhoc)

    row = TIX.text_index_audit(spark, path).first()
    assert row.n_df_mismatch == 0 and row.stats_consistent is True

    # replayed txn: no duplicate rows, audit unchanged
    before = row.postings_hash
    assert TIX.append_to_text_index(
        docs.filter(F.col("doc_id") > mid), path, txn=("t", 1)
    ) == {"skipped": True}
    assert TIX.text_index_audit(spark, path).first().postings_hash == before

    # pinned pre-append read still answers as the base-only index
    base_meta = LH.read_table(spark, f"{path}/stats", 0).first()
    pinned = TIX.bm25_index_probe(spark, path, q, k=10, stats_version=0)
    base_adhoc = RETR.bm25_topk(docs.filter(F.col("doc_id") <= mid), q, k=10)
    assert _rows(pinned) == _rows(base_adhoc)
    assert base_meta.n_docs == mid + 1


def test_replay_converges_stats_after_crash(spark, tmp_path, index_copy):
    """Crash+replay repair: commit the delta's postings AND df under the
    txn tag, 'die' before the stats publish — the replayed call must
    repair the stats row instead of returning early."""
    docs = _docs(spark)
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    base = docs.filter(F.col("doc_id") <= mid)
    delta = docs.filter(F.col("doc_id") > mid)
    path = str(tmp_path / "index")
    index_copy("text_half", path)
    p0 = TIX.load_text_index_stats(spark, path)
    post = TIX._postings(delta, "doc_id", "text", p0["postings_version"] + 1)
    LH.write_table(
        post, f"{path}/postings", mode="append", cluster_by=["term"],
        txn=("crashy", 3),
    )
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    LH.write_table(
        dfreq, f"{path}/df", mode="append", cluster_by=["term"],
        txn=("crashy", 3),
    )
    LH.write_table(
        TIX._registry_rows(delta, "doc_id", p0["postings_version"] + 1),
        f"{path}/docs", mode="append", txn=("crashy", 3),
    )
    assert TIX.load_text_index_stats(spark, path)["n_docs"] == base.count()

    res = TIX.append_to_text_index(delta, path, txn=("crashy", 3))
    assert res["skipped"] and res["repaired"]
    assert res["n_docs"] == docs.count()
    p = TIX.load_text_index_stats(spark, path)
    assert p["n_docs"] == docs.count()
    assert p["postings_version"] == LH.table_versions(f"{path}/postings")[-1]
    assert p["df_version"] == LH.table_versions(f"{path}/df")[-1]
    # second replay: nothing to repair
    assert TIX.append_to_text_index(delta, path, txn=("crashy", 3)) == {
        "skipped": True
    }
    # and the repaired index answers exactly as the full-corpus form
    q = _queries(spark)
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=10)) == _rows(
        RETR.bm25_topk(docs, q, k=10)
    )


def test_partial_replay_commits_missing_table(spark, tmp_path, index_copy):
    """Crash BETWEEN the two appends: postings committed, df did not —
    the replay must commit the missing df increment and publish correct
    stats (each table's txn log is checked independently)."""
    docs = _docs(spark)
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    delta = docs.filter(F.col("doc_id") > mid)
    path = str(tmp_path / "index")
    index_copy("text_half", path)
    p0 = TIX.load_text_index_stats(spark, path)
    post = TIX._postings(delta, "doc_id", "text", p0["postings_version"] + 1)
    LH.write_table(
        post, f"{path}/postings", mode="append", cluster_by=["term"],
        txn=("crashy", 9),
    )
    res = TIX.append_to_text_index(delta, path, txn=("crashy", 9))
    assert "skipped" not in res  # the df append went through this time
    row = TIX.text_index_audit(spark, path).first()
    assert row.n_df_mismatch == 0 and row.stats_consistent is True
    assert row.n_docs == docs.count()


def test_probe_prunes_files_and_handles_absent_terms(spark, index_path):
    path, _ = index_path
    postings = f"{path}/postings"
    live = LH.live_files(postings)
    assert len(live) > 1  # n_files=8 build: pruning is non-vacuous
    stats = LH.live_file_stats(postings)
    lo_term = stats[sorted(live)[0]]["term"][0]
    kept, skipped = LH.prune_files(postings, "term", lo=lo_term, hi=lo_term)
    assert skipped and len(kept) < len(live)

    # a term above every file's max range: empty scan, never a full read
    probe = LH.read_table_pruned_in(spark, postings, "term", ["zzzzzzz"])
    assert probe.count() == 0
    # a query of absent terms ranks nothing (and does not error)
    q = _queries(spark, [("q_absent", "zzzzzzz qqqqqqq")])
    assert TIX.bm25_index_probe(spark, path, q, k=10).count() == 0


def test_index_rm3_matches_adhoc_form(spark, index_path):
    """The stored-index RM3 probe must answer bit-identically to the
    ad-hoc ``bm25_rm3_topk`` on the corpus the index holds — all three
    stages (base probe, feedback model, weighted re-probe) compose the
    same shared kernels."""
    path, _ = index_path
    q = _queries(spark)
    stored = TIX.bm25_index_rm3(spark, path, q, k=10, fb_k=5, fb_terms=10)
    adhoc = RETR.bm25_rm3_topk(_docs(spark), q, k=10, fb_k=5, fb_terms=10)
    assert _rows(stored) == _rows(adhoc)
    assert len(_rows(stored)) > 0


def test_index_rm3_tracks_updates(spark, tmp_path):
    """After ``update_text_documents`` the RM3 probe must equal the
    ad-hoc form over the UPDATED corpus: the base ranking, the feedback
    postings fetch, and the re-probe all resolve the post-update
    snapshot (stale feedback from a replaced document would flip the
    comparison)."""
    docs = _docs(spark).filter(F.col("doc_id") < 400)
    path = str(tmp_path / "index")
    TIX.build_text_index(docs, path, n_files=4)
    rev = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.concat(F.lit("revised shuffle join edition "), F.col("text")).alias(
            "text"
        ),
    )
    TIX.update_text_documents(rev, path)
    live = docs.filter(F.col("doc_id") % 5 != 0).unionByName(rev)
    q = _queries(spark)
    stored = TIX.bm25_index_rm3(spark, path, q, k=10, fb_k=3, fb_terms=6)
    adhoc = RETR.bm25_rm3_topk(live, q, k=10, fb_k=3, fb_terms=6)
    assert _rows(stored) == _rows(adhoc)
    assert len(_rows(stored)) > 0


def test_audit_chunked_fold_counts_stable(spark, index_path):
    """Tiny chunk_target forces C > 1: counts invariant, hash
    deterministic per chunk_target, fold shape actually changed."""
    path, meta = index_path
    default = TIX.text_index_audit(spark, path).first()
    assert (meta["n_docs"] + 0) // 1 >= 2  # corpus big enough to chunk
    tiny1 = TIX.text_index_audit(spark, path, chunk_target=1).first()
    tiny2 = TIX.text_index_audit(spark, path, chunk_target=1).first()
    for f in ("n_docs", "n_docs_tokenized", "n_postings", "vocab_size",
              "total_dl", "n_df_mismatch"):
        assert getattr(tiny1, f) == getattr(default, f)
    assert tiny1.postings_hash == tiny2.postings_hash
    assert len(tiny1.postings_hash) == 32
    assert tiny1.postings_hash != default.postings_hash


def test_delete_probe_equals_live_corpus_and_compaction_folds(
    spark, tmp_path, index_copy
):
    """delete_from_text_index must make the probe answer EXACTLY as the
    ad-hoc BM25 over the live corpus (N, avgdl, df all decremented, dead
    postings gone); re-deleting is a no-op; compact_text_index folds the
    tombstones physically with identical answers."""
    docs = _docs(spark)
    path = str(tmp_path / "index")
    index_copy("text_full", path)
    victims = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    res = TIX.delete_from_text_index(victims, path, txn=("d", 1))
    live = docs.filter(F.col("doc_id") % 7 != 0)
    assert res["n_deleted"] == victims.count()
    assert res["n_docs"] == live.count()

    q = _queries(spark)
    got = _rows(TIX.bm25_index_probe(spark, path, q, k=10))
    assert got == _rows(RETR.bm25_topk(live, q, k=10))
    assert all(r[2] % 7 != 0 for r in got)  # no dead doc ranked

    row = TIX.text_index_audit(spark, path).first()
    assert row.n_docs == live.count()
    assert row.n_tombstones == victims.count()
    assert row.n_df_mismatch == 0 and row.stats_consistent is True

    # replayed txn converges without double-decrement; re-deleting the
    # same ids without a txn is also a no-op (already tombstoned)
    TIX.delete_from_text_index(victims, path, txn=("d", 1))
    assert TIX.delete_from_text_index(victims, path) == {
        "n_deleted": 0, "n_ignored": victims.count()
    }
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=10)) == got
    hash_before = TIX.text_index_audit(spark, path).first().postings_hash

    meta = TIX.compact_text_index(spark, path, n_files=3)
    p = TIX.load_text_index_stats(spark, path)
    assert p["tombstones_version"] == -1
    assert p["postings_version"] == meta["postings_version"]
    assert LH.read_table(spark, f"{path}/tombstones").count() == 0
    after = TIX.text_index_audit(spark, path).first()
    assert after.postings_hash == hash_before  # live content unchanged
    assert after.n_tombstones == 0
    assert after.n_df_mismatch == 0 and after.stats_consistent is True
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=10)) == got


def test_delete_publishes_atomically(spark, tmp_path, index_copy):
    """A crash between the df/tombstone appends and the stats publish
    must leave default readers on the PRE-delete snapshot (the stats row
    records the tombstone version it accounts for — a latest-read of
    tombstones with stale stats would be neither corpus)."""
    docs = _docs(spark)
    path = str(tmp_path / "index")
    index_copy("text_full", path)
    q = _queries(spark)
    before = _rows(TIX.bm25_index_probe(spark, path, q, k=10))
    # simulate the crash: commit the decrements and the tombstones, then
    # "die" before the stats overwrite (exactly delete's first two writes)
    victims = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    p0 = TIX.load_text_index_stats(spark, path)
    post = TIX._postings(docs, "doc_id", "text", 0)
    vic_post = post.join(F.broadcast(victims), "doc_id", "left_semi")
    dec = vic_post.groupBy("term").agg(
        (-F.count(F.lit(1))).cast("long").alias("df")
    )
    LH.write_table(dec, f"{path}/df", mode="append", cluster_by=["term"])
    LH.write_table(
        victims.distinct().select(
            "doc_id",
            F.lit(p0["postings_version"]).cast("long").alias("upto_gen"),
        ),
        f"{path}/tombstones", mode="append",
    )

    racing = _rows(TIX.bm25_index_probe(spark, path, q, k=10))
    assert racing == before  # pre-delete snapshot, not mixed halves
    audit = TIX.text_index_audit(spark, path).first()
    assert audit.n_tombstones == 0 and audit.n_df_mismatch == 0


def test_stream_text_ingest_equals_batch_build(spark, tmp_path, index_copy):
    """Streamed document ingest must leave the index bit-identical to a
    batch build of the same corpus (BM25 stats are exact — no frozen
    quantizers), and a full stream replay must converge as no-ops."""
    from big_data_elt_pipeline_spark.streaming.text_serving import (
        stream_text_ingest,
    )

    docs = _docs(spark)
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    s_path, b_path = str(tmp_path / "s"), str(tmp_path / "b")
    index_copy("text_half", s_path)
    index_copy("text_full", b_path)

    p = stream_text_ingest(spark, SF_SMOKE, s_path, mid + 1, 10**9, n_files=2)
    assert p["n_docs"] == docs.count()
    sa = TIX.text_index_audit(spark, s_path).first()
    ba = TIX.text_index_audit(spark, b_path).first()
    assert sa.postings_hash == ba.postings_hash
    assert sa.n_docs == ba.n_docs and sa.total_dl == ba.total_dl
    assert sa.n_df_mismatch == 0 and sa.stats_consistent is True

    q = _queries(spark)
    assert _rows(TIX.bm25_index_probe(spark, s_path, q, k=10)) == _rows(
        RETR.bm25_topk(docs, q, k=10)
    )
    # replayed stream: every epoch a converging no-op
    stream_text_ingest(spark, SF_SMOKE, s_path, mid + 1, 10**9, n_files=2)
    assert (
        TIX.text_index_audit(spark, s_path).first().postings_hash
        == sa.postings_hash
    )
    assert TIX.load_text_index_stats(spark, s_path)["n_docs"] == docs.count()


def test_vacuum_after_compaction_keeps_default_reads(
    spark, tmp_path, index_copy
):
    """Storage-reclaim lifecycle for the text index: delete ->
    compact_text_index -> vacuum(retain 1) on postings and df. Default
    probes/audits pin the versions the latest stats row references,
    which survive the vacuum — answers unchanged while the
    pre-compaction files (and the folded df increment log) are
    reclaimed."""
    docs = _docs(spark)
    path = str(tmp_path / "index")
    index_copy("text_full", path)
    victims = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    TIX.delete_from_text_index(victims, path)
    q = _queries(spark)
    before = _rows(TIX.bm25_index_probe(spark, path, q, k=10))
    before_hash = TIX.text_index_audit(spark, path).first().postings_hash

    TIX.compact_text_index(spark, path, n_files=3)
    res = LH.vacuum(f"{path}/postings", retain_versions=1)
    assert res["deleted_files"] > 0
    LH.vacuum(f"{path}/df", retain_versions=1)
    LH.vacuum(f"{path}/stats", retain_versions=1)

    assert _rows(TIX.bm25_index_probe(spark, path, q, k=10)) == before
    after = TIX.text_index_audit(spark, path).first()
    assert after.postings_hash == before_hash
    assert after.n_df_mismatch == 0 and after.stats_consistent is True


def test_delete_every_doc_leaves_an_empty_live_index(spark, tmp_path):
    """An index whose every document is tombstoned: both stored-index
    probes rank nothing (as the ad-hoc form does on an empty corpus)
    and the audit counts 0, consistent with the stats row."""
    docs = _docs(spark).filter(F.col("doc_id") < 2)
    path = str(tmp_path / "index")
    TIX.build_text_index(docs, path, n_files=2)
    res = TIX.delete_from_text_index(docs.select("doc_id"), path)
    assert res["n_deleted"] == 2 and res["n_docs_tokenized"] == 0
    q = _queries(spark)
    assert TIX.bm25_index_probe(spark, path, q, k=10).count() == 0
    assert TIX.bm25_index_rm3(spark, path, q, k=10).count() == 0
    assert RETR.bm25_topk(docs.limit(0), q, k=10).count() == 0
    row = TIX.text_index_audit(spark, path).first()
    assert (row.n_docs, row.n_docs_tokenized, row.n_postings, row.total_dl) == (
        0, 0, 0, 0
    )
    assert row.stats_consistent is True


def test_tokenless_docs_split_n_from_avgdl(spark, tmp_path):
    """BM25's N counts EVERY document while avgdl averages only docs with
    tokens — the stats row keeps both, and the probe must stay bit-equal
    to the ad-hoc form on a corpus containing empty and punctuation-only
    documents (which leave no trace in any index table)."""
    rows = [
        (0, "spark shuffle join"),
        (1, ""),                      # empty text
        (2, "... 123 !!!"),           # tokenizes to nothing ([^a-z]+ split)
        (3, "join broadcast table spark"),
        (4, "window partition order"),
        (5, "shuffle partition spark table"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "index")
    meta = TIX.build_text_index(docs, path, n_files=2)
    assert meta["n_docs"] == 6
    assert meta["n_docs_tokenized"] == 4  # docs 1 and 2 have no tokens

    q = _queries(spark, [("q1", "spark table"), ("q2", "window join")])
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=5)) == _rows(
        RETR.bm25_topk(docs, q, k=5)
    )

    # deleting a token-less doc changes N (hence every idf) but not
    # avgdl/df — still bit-equal to the ad-hoc form on the live corpus
    res = TIX.delete_from_text_index(
        docs.filter(F.col("doc_id") == 1).select("doc_id"), path
    )
    assert res["n_deleted"] == 1
    assert res["n_docs"] == 5 and res["n_docs_tokenized"] == 4
    assert res["total_dl"] == meta["total_dl"]
    live = docs.filter(F.col("doc_id") != 1)
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=5)) == _rows(
        RETR.bm25_topk(live, q, k=5)
    )
    row = TIX.text_index_audit(spark, path).first()
    assert row.n_docs == 5 and row.stats_consistent is True
    # a tokenized delete after the token-less one: both stats move
    res2 = TIX.delete_from_text_index(
        docs.filter(F.col("doc_id") == 0).select("doc_id"), path
    )
    assert res2["n_docs"] == 4 and res2["n_docs_tokenized"] == 3
    live2 = live.filter(F.col("doc_id") != 0)
    assert _rows(TIX.bm25_index_probe(spark, path, q, k=5)) == _rows(
        RETR.bm25_topk(live2, q, k=5)
    )


def test_default_probe_consistent_across_crashed_rebuild(
    spark, tmp_path, index_copy
):
    """A rebuild over a CHANGED corpus crashing between its postings
    overwrite and its stats overwrite leaves default readers on the OLD
    consistent triple (stats records the versions it references)."""
    docs = _docs(spark)
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    base = docs.filter(F.col("doc_id") <= mid)
    path = str(tmp_path / "index")
    index_copy("text_half", path)
    q = _queries(spark)
    before = _rows(TIX.bm25_index_probe(spark, path, q, k=10))
    # half-rebuild: overwrite postings + df from the FULL corpus, then
    # "crash" before the stats overwrite
    nxt = LH.table_versions(f"{path}/postings")[-1] + 1
    post = TIX._postings(docs, "doc_id", "text", nxt)
    LH.write_table(post, f"{path}/postings", mode="overwrite", cluster_by=["term"])
    LH.write_table(
        post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df")),
        f"{path}/df", mode="overwrite", cluster_by=["term"],
    )
    racing = _rows(TIX.bm25_index_probe(spark, path, q, k=10))
    assert racing == before  # old triple, not mixed halves
    assert (
        TIX.text_index_audit(spark, path).first().n_docs == base.count()
    )
