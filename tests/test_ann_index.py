"""Persisted IVF-PQ index (operators/ann_index.py): build once / probe
many must answer bit-identically to the per-call form, the stored codes
must verify against the corpus, and the probe read must actually skip
files for unprobed cells."""

import pytest
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark import lakehouse as LH
from big_data_elt_pipeline_spark.operators import ann_index as AIX
from big_data_elt_pipeline_spark.operators import similarity as SIM
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path_factory.mktemp("annix") / "index")
    meta = AIX.build_ivfpq_index(emb, path, n_files=8)
    return path, meta


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_probe_matches_per_call_form(spark, index_path):
    path, _ = index_path
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 12)
    stored = AIX.ivfpq_probe(spark, path, queries, k=5, n_probe=4)
    onehot = SIM.ivfpq_topk(emb, queries, k=5, n_probe=4)
    key = ["query_id", "vec_id", "adc_l2sq", "rank"]
    assert sorted(map(tuple, stored.select(key).collect())) == sorted(
        map(tuple, onehot.select(key).collect())
    )


def test_audit_counts_and_params(spark, index_path):
    path, meta = index_path
    row = AIX.index_audit(spark, path).first()
    assert row.n_vectors == meta["n_vectors"]
    assert row.n_code_rows == meta["n_vectors"] * row.m
    assert row.n_cells == meta["n_cells"]
    assert 0 < row.n_cells_used <= row.n_cells
    assert len(row.codes_hash) == 32


def test_probe_prunes_files(index_path):
    """The manifest stats must let a single-cell predicate skip files —
    the file-level pruning the cluster_by build layout exists for."""
    path, _ = index_path
    codes = f"{path}/codes"
    live = LH.live_files(codes)
    assert len(live) > 1  # n_files=8 build: pruning is non-vacuous
    stats = LH.live_file_stats(codes)
    # pick a cell only the first file covers
    first = sorted(live)[0]
    lo_cell = stats[first]["cell"][0]
    kept, skipped = LH.prune_files(codes, "cell", lo=lo_cell, hi=lo_cell)
    assert skipped, "single-cell predicate skipped no files"
    assert len(kept) < len(live)


def test_append_ingest_and_idempotence(spark, tmp_path, index_copy):
    """Index maintenance: build on half the corpus, append the rest —
    the probe over the grown stored index must equal the in-memory scan
    of the full corpus encoded with the SAME (base-built) quantizer
    state, and a replayed txn append must be a no-op."""
    emb = _emb(spark)
    mid = emb.agg(F.max("vec_id")).first()[0] // 2
    base = emb.filter(F.col("vec_id") <= mid)
    delta = emb.filter(F.col("vec_id") > mid)
    path = str(tmp_path / "index")
    meta = index_copy("ann_half", path)
    res = AIX.append_to_index(delta, path, txn=("t", 1), n_files=4)
    assert res["n_vectors"] == emb.count()
    assert AIX.index_audit(spark, path).first().n_vectors == emb.count()

    queries = emb.filter(F.col("vec_id") < 8)
    stored = AIX.ivfpq_probe(spark, path, queries, k=5, n_probe=4)
    cells, books, p = AIX.load_index_state(spark, path)
    twin_codes = SIM.ivfpq_encode_with_state(emb, cells, books, p["m"], p["dsub"])
    twin = SIM.ivfpq_adc_scan(
        twin_codes, cells, books, queries, k=5, n_probe=4,
        m=p["m"], dsub=p["dsub"],
    )
    key = ["query_id", "vec_id", "adc_l2sq", "rank"]
    assert sorted(map(tuple, stored.select(key).collect())) == sorted(
        map(tuple, twin.select(key).collect())
    )
    # the base-built quantizer state never changes on append
    assert meta["n_cells"] == p["n_cells"]

    before = AIX.index_audit(spark, path).first().codes_hash
    assert AIX.append_to_index(delta, path, txn=("t", 1)) == {"skipped": True}
    assert AIX.index_audit(spark, path).first().codes_hash == before

    # snapshot-pinned read: the pre-append publish row still answers as
    # the base-only index (time travel over the index history)
    pinned_audit = AIX.index_audit(
        spark, path, state_version=meta["state_version"]
    ).first()
    assert pinned_audit.n_vectors == base.count()
    pinned = AIX.ivfpq_probe(
        spark, path, queries, k=5, n_probe=4,
        state_version=meta["state_version"],
    )
    base_twin = SIM.ivfpq_adc_scan(
        SIM.ivfpq_encode_with_state(base, cells, books, p["m"], p["dsub"]),
        cells, books, queries, k=5, n_probe=4, m=p["m"], dsub=p["dsub"],
    )
    assert sorted(map(tuple, pinned.select(key).collect())) == sorted(
        map(tuple, base_twin.select(key).collect())
    )


def test_compaction_preserves_index(spark, tmp_path, index_copy):
    """OPTIMIZE on the codes table after appends (small-file compaction,
    re-clustered by cell) must not change what the index answers: the
    audit hash and a probe are identical across the rewrite, and the
    file-level cell pruning works on the compacted layout."""
    from pyspark.sql import functions as F

    emb = _emb(spark)
    path = str(tmp_path / "index")
    index_copy("ann_half_appended", path)
    queries = emb.filter(F.col("vec_id") < 8)
    before_hash = AIX.index_audit(spark, path).first().codes_hash
    before = sorted(
        map(tuple, AIX.ivfpq_probe(spark, path, queries, k=5).collect())
    )
    n_before = len(LH.live_files(f"{path}/codes"))

    LH.compact_table(spark, f"{path}/codes", cluster_by=["cell"], n_files=3)

    assert len(LH.live_files(f"{path}/codes")) < n_before
    assert AIX.index_audit(spark, path).first().codes_hash == before_hash
    after = sorted(
        map(tuple, AIX.ivfpq_probe(spark, path, queries, k=5).collect())
    )
    assert after == before
    # stats-based cell pruning still live on the compacted files
    stats = LH.live_file_stats(f"{path}/codes")
    lo = stats[sorted(stats)[0]]["cell"][0]
    kept, skipped = LH.prune_files(f"{path}/codes", "cell", lo=lo, hi=lo)
    assert skipped and len(kept) < len(kept) + len(skipped)


def test_stream_probe_equals_batch_and_replays_idempotently(
    spark, index_path, tmp_path
):
    """Streaming stored-index serving: the foreachBatch probe stream
    must land exactly the batch probe's rows, and a full replay of the
    stream into the same sink (same app id, re-delivered epochs) must
    be a no-op under the txn protocol."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.streaming.ann_serving import (
        stream_index_probe,
    )

    path, _ = index_path
    out = str(tmp_path / "sink")
    s = stream_index_probe(
        spark, SF_SMOKE, path, out, lo=32, hi=40, k=5, n_probe=4
    )
    queries = _emb(spark).filter(
        (F.col("vec_id") >= 32) & (F.col("vec_id") < 40)
    )
    twin = AIX.ivfpq_probe(spark, path, queries, k=5, n_probe=4)
    key = ["query_id", "vec_id", "adc_l2sq", "rank"]
    got = sorted(map(tuple, s.select(key).collect()))
    assert got == sorted(map(tuple, twin.select(key).collect()))
    assert len(got) == 8 * 5

    n_versions = len(LH.table_versions(out))
    replay = stream_index_probe(
        spark, SF_SMOKE, path, out, lo=32, hi=40, k=5, n_probe=4
    )
    assert len(LH.table_versions(out)) == n_versions  # every epoch skipped
    assert sorted(map(tuple, replay.select(key).collect())) == got


def test_replay_converges_state_after_crash(spark, tmp_path, index_copy):
    """Crash+replay repair (r12 ADVICE): if the original append crashed
    AFTER the codes commit but BEFORE the state re-publish, the replayed
    txn must not return early — it recounts n_vectors from the codes and
    re-publishes state pointing at the latest codes commit."""
    emb = _emb(spark)
    mid = emb.agg(F.max("vec_id")).first()[0] // 2
    base = emb.filter(F.col("vec_id") <= mid)
    delta = emb.filter(F.col("vec_id") > mid)
    path = str(tmp_path / "index")
    index_copy("ann_half", path)
    # simulate the crash: commit the delta's codes under the txn tag,
    # then "die" before the state overwrite (exactly append_to_index's
    # first write, nothing after)
    cells, books, p = AIX.load_index_state(spark, path)
    encoded = AIX._stamp_gen(
        SIM.ivfpq_encode_with_state(delta, cells, books, p["m"], p["dsub"]),
        p["codes_version"] + 1,
    )
    LH.write_table(
        encoded, f"{path}/codes", mode="append", cluster_by=["cell"],
        txn=("crashy", 7),
    )
    stale = AIX.load_index_state(spark, path)[2]
    assert stale["n_vectors"] == base.count()  # state is understated

    res = AIX.append_to_index(delta, path, txn=("crashy", 7))
    assert res["skipped"] and res["repaired"]
    assert res["n_vectors"] == emb.count()
    repaired = AIX.load_index_state(spark, path)[2]
    assert repaired["n_vectors"] == emb.count()
    assert repaired["codes_version"] == LH.table_versions(f"{path}/codes")[-1]
    # a second replay finds nothing to repair
    assert AIX.append_to_index(delta, path, txn=("crashy", 7)) == {
        "skipped": True
    }


def test_compact_index_moves_state_pointer(spark, tmp_path, index_copy):
    """compact_index = codes OPTIMIZE + state re-publish: default probes
    pin codes to the version state references, so compaction must move
    that pointer for readers to see the compacted layout at all."""
    emb = _emb(spark)
    path = str(tmp_path / "index")
    index_copy("ann_half_appended", path)
    queries = emb.filter(F.col("vec_id") < 8)
    before_hash = AIX.index_audit(spark, path).first().codes_hash
    before = sorted(
        map(tuple, AIX.ivfpq_probe(spark, path, queries, k=5).collect())
    )
    old_p = AIX.load_index_state(spark, path)[2]

    meta = AIX.compact_index(spark, path, n_files=3)
    new_p = AIX.load_index_state(spark, path)[2]
    assert new_p["codes_version"] == meta["codes_version"] > old_p["codes_version"]
    assert new_p["n_vectors"] == old_p["n_vectors"]
    assert AIX.index_audit(spark, path).first().codes_hash == before_hash
    after = sorted(
        map(tuple, AIX.ivfpq_probe(spark, path, queries, k=5).collect())
    )
    assert after == before


def test_default_probe_consistent_across_crashed_rebuild(
    spark, tmp_path, index_copy
):
    """The r12 ADVICE race: a rebuild over a CHANGED corpus that crashes
    (or is observed) between its codes overwrite and its state overwrite
    must leave default readers on the OLD consistent pair — never new
    codes scanned against old quantizers."""
    emb = _emb(spark)
    mid = emb.agg(F.max("vec_id")).first()[0] // 2
    base = emb.filter(F.col("vec_id") <= mid)
    path = str(tmp_path / "index")
    index_copy("ann_half", path)
    queries = emb.filter(F.col("vec_id") < 8)
    before = sorted(
        map(tuple, AIX.ivfpq_probe(spark, path, queries, k=5).collect())
    )
    # simulate the half-rebuild: overwrite codes with an encode under
    # DIFFERENT quantizers (the full corpus's), then "crash" before the
    # state overwrite
    enc2, _, _ = SIM.ivfpq_encode_relations(
        emb, n_cells=SIM.auto_cells(emb.count()), m=8, dsub=8, n_cents=16
    )
    LH.write_table(enc2, f"{path}/codes", mode="overwrite", cluster_by=["cell"])

    racing = sorted(
        map(tuple, AIX.ivfpq_probe(spark, path, queries, k=5).collect())
    )
    assert racing == before  # old pair, not mixed halves
    assert (
        AIX.index_audit(spark, path).first().n_vectors == base.count()
    )  # audit defaults to the same consistent pair


def test_audit_chunked_fold_counts_stable(spark, index_path):
    """Forcing a tiny chunk_target (C > 1) proves the bound level: the
    counts are partition-invariant across any chunking, the hash is
    deterministic for a given chunk_target, and the fold shape actually
    changed (different hash than the default single-chunk form)."""
    path, meta = index_path
    default = AIX.index_audit(spark, path).first()
    _, _, p = AIX.load_index_state(spark, path)
    denom = p["n_cells"] * 1
    expect_chunks = (p["n_vectors"] + denom - 1) // denom
    assert expect_chunks > 1  # chunk_target=1 must force real chunking
    tiny1 = AIX.index_audit(spark, path, chunk_target=1).first()
    tiny2 = AIX.index_audit(spark, path, chunk_target=1).first()
    for f in ("n_vectors", "n_code_rows", "n_cells_used", "n_cells", "m"):
        assert getattr(tiny1, f) == getattr(default, f)
    assert tiny1.codes_hash == tiny2.codes_hash
    assert len(tiny1.codes_hash) == 32
    assert tiny1.codes_hash != default.codes_hash


def test_probe_empty_codes_snapshot(spark, tmp_path, index_copy):
    """kept == [] must scan an EMPTY frame (schema preserved), never the
    full snapshot: an index whose referenced codes commit holds no rows
    probes to zero rows without error."""
    emb = _emb(spark)
    path = str(tmp_path / "index")
    index_copy("ann_full", path)
    cells, books, p = AIX.load_index_state(spark, path)
    empty = LH.read_table(spark, f"{path}/codes").limit(0)
    v = LH.write_table(empty, f"{path}/codes", mode="overwrite")
    from big_data_elt_pipeline_spark.operators.ann_index import _publish_state

    _publish_state(cells, books, p, path, 0, v)
    out = AIX.ivfpq_probe(
        spark, path, emb.filter(F.col("vec_id") < 4), k=5, n_probe=4
    )
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "vec_id", "adc_l2sq", "rank"}


def test_delete_probe_and_compaction_fold(spark, tmp_path, index_copy):
    """delete_from_index: tombstoned vectors vanish from every ranking
    immediately (broadcast anti-join), the delete is idempotent under a
    txn tag, and compact_index folds the tombstones physically — same
    answers, reduced audit counts, truncated tombstone table."""
    emb = _emb(spark)
    path = str(tmp_path / "index")
    index_copy("ann_full", path)
    queries = emb.filter(F.col("vec_id") < 8)
    before = AIX.ivfpq_probe(spark, path, queries, k=5, n_probe=4)
    victims = {
        r.vec_id
        for r in before.filter(F.col("vec_id") % 7 == 0).collect()
    }
    assert victims  # the delete must actually displace some results

    del_ids = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    res = AIX.delete_from_index(del_ids, path, txn=("d", 1))
    assert res["n_deleted"] == del_ids.count() and res["n_ignored"] == 0
    assert res["n_vectors"] == emb.count() - del_ids.count()
    after = AIX.ivfpq_probe(spark, path, queries, k=5, n_probe=4)
    got = after.collect()
    assert all(r.vec_id % 7 != 0 for r in got)
    assert len(got) == 8 * 5  # ranks refill from surviving candidates
    # re-deleting: every id is already dead, so nothing decrements
    assert AIX.delete_from_index(del_ids, path, txn=("d", 1)) == {
        "n_deleted": 0, "n_ignored": del_ids.count()
    }

    key = ["query_id", "vec_id", "adc_l2sq", "rank"]
    pre_compact = sorted(map(tuple, after.select(key).collect()))
    # the audit certifies the LIVE index even before the physical fold:
    # deleted vectors are already out of its counts and hash
    live_audit = AIX.index_audit(spark, path).first()
    assert live_audit.n_vectors == emb.count() - del_ids.count()
    assert live_audit.n_tombstones == del_ids.count()
    meta = AIX.compact_index(spark, path, n_files=3)
    assert meta["n_vectors"] == live_audit.n_vectors
    folded_audit = AIX.index_audit(spark, path).first()
    assert folded_audit.n_vectors == meta["n_vectors"]
    assert folded_audit.n_tombstones == 0
    # physical fold changes no live content: hash identical across it
    assert folded_audit.codes_hash == live_audit.codes_hash
    assert (
        LH.read_table(spark, f"{path}/tombstones").count() == 0
    )  # folded away
    post_compact = sorted(
        map(
            tuple,
            AIX.ivfpq_probe(spark, path, queries, k=5, n_probe=4)
            .select(key).collect(),
        )
    )
    assert post_compact == pre_compact


def test_delete_every_vector_leaves_an_empty_live_index(spark, tmp_path):
    """An index whose every vector is tombstoned: the probe ranks
    nothing and the audit counts 0, as the state row does (not NULL)."""
    emb = _emb(spark).filter(F.col("vec_id") < 64)
    path = str(tmp_path / "index")
    AIX.build_ivfpq_index(emb, path, n_files=4)
    res = AIX.delete_from_index(emb.select("vec_id"), path)
    assert res["n_deleted"] == 64 and res["n_vectors"] == 0
    queries = emb.filter(F.col("vec_id") < 8)
    assert AIX.ivfpq_probe(spark, path, queries, k=5, n_probe=4).count() == 0
    row = AIX.index_audit(spark, path).first()
    assert (row.n_vectors, row.n_code_rows, row.n_cells_used) == (0, 0, 0)
    assert row.n_tombstones == 64


def test_stream_ingest_equals_batch_append(spark, tmp_path, index_copy):
    """stream_index_ingest must leave the index in exactly the state a
    batch append_to_index of the same delta would — audit hash equal —
    and a full stream replay must be a no-op (txn tags)."""
    from big_data_elt_pipeline_spark.streaming.ann_serving import (
        stream_index_ingest,
    )

    emb = _emb(spark)
    delta_pred = (F.col("vec_id") >= 64) & (F.col("vec_id") < 80)
    s_path, b_path = str(tmp_path / "s"), str(tmp_path / "b")
    index_copy("ann_no_64_80", s_path)
    index_copy("ann_no_64_80", b_path)

    p = stream_index_ingest(spark, SF_SMOKE, s_path, 64, 80, n_files=2)
    AIX.append_to_index(emb.filter(delta_pred), b_path, n_files=2)
    assert p["n_vectors"] == emb.count()
    sh = AIX.index_audit(spark, s_path).first()
    bh = AIX.index_audit(spark, b_path).first()
    assert sh.codes_hash == bh.codes_hash
    assert sh.n_vectors == bh.n_vectors == emb.count()

    # replayed stream: every epoch txn-skipped, state converged already
    stream_index_ingest(spark, SF_SMOKE, s_path, 64, 80, n_files=2)
    assert AIX.index_audit(spark, s_path).first().codes_hash == sh.codes_hash
    assert AIX.load_index_state(spark, s_path)[2]["n_vectors"] == emb.count()


def test_index_recall_gate(spark, index_path):
    """The stored-index recall monitor: deterministic exact values, a
    floor boolean consistent with the measured recall, and full
    coverage of the query set."""
    path, _ = index_path
    emb = _emb(spark)
    queries = emb.filter((F.col("vec_id") >= 48) & (F.col("vec_id") < 64))
    r1 = AIX.index_recall(spark, path, emb, queries, k=5, n_probe=4).first()
    r2 = AIX.index_recall(spark, path, emb, queries, k=5, n_probe=4).first()
    assert r1 == r2  # deterministic measurement
    assert r1.n_queries == 16 and r1.k == 5
    assert 0.0 <= r1.recall_at_k <= 1.0
    assert r1.floor_ok == (r1.recall_at_k >= 0.05)
    assert r1.min_recall <= r1.recall_at_k


def test_rebuild_if_drifted_policy(spark, tmp_path, index_copy):
    """The closed maintenance loop: a passing gate is a no-op; a tripped
    gate (forced via floor=1.0 — measured recall is always < 1 for this
    quantizer) rebuilds with the stored quantizer shape and reports the
    post-rebuild recall; the rebuilt index keeps answering."""
    emb = _emb(spark)
    path = str(tmp_path / "index")
    index_copy("ann_full", path)
    queries = emb.filter(F.col("vec_id") < 8)

    ok = AIX.rebuild_if_drifted(spark, path, emb, queries, floor=0.0)
    assert ok["rebuilt"] is False and "codes_version" not in ok

    v_before = AIX.load_index_state(spark, path)[2]["codes_version"]
    tripped = AIX.rebuild_if_drifted(
        spark, path, emb, queries, floor=1.0, n_files=4
    )
    assert tripped["rebuilt"] is True
    assert tripped["codes_version"] > v_before
    assert "recall_after_rebuild" in tripped
    p = AIX.load_index_state(spark, path)[2]
    assert p["codes_version"] == tripped["codes_version"]
    assert p["n_vectors"] == emb.count()
    assert AIX.ivfpq_probe(spark, path, queries, k=5).count() == 8 * 5


def test_vacuum_after_compaction_keeps_default_reads(
    spark, tmp_path, index_copy
):
    """The storage-reclaim lifecycle: build -> append -> compact_index ->
    vacuum(retain 1). Default probes/audits pin the versions the LATEST
    state row references, which survive any vacuum that retains the
    latest version — so reclaiming every pre-compaction codes file
    changes no answer. (Pinned TIME-TRAVEL reads older than the
    retention window are gone by design — vacuum's documented trade;
    compact_index's state re-publish is what makes the default path
    vacuum-safe, since a bare compact_table would leave state pointing
    at reclaimed files.)"""
    emb = _emb(spark)
    path = str(tmp_path / "index")
    index_copy("ann_half_appended", path)
    queries = emb.filter(F.col("vec_id") < 8)
    before = sorted(
        map(tuple, AIX.ivfpq_probe(spark, path, queries, k=5).collect())
    )
    before_hash = AIX.index_audit(spark, path).first().codes_hash

    AIX.compact_index(spark, path, n_files=3)
    res = LH.vacuum(f"{path}/codes", retain_versions=1)
    assert res["deleted_files"] > 0  # pre-compaction files reclaimed
    LH.vacuum(f"{path}/state", retain_versions=1)

    after = sorted(
        map(tuple, AIX.ivfpq_probe(spark, path, queries, k=5).collect())
    )
    assert after == before
    assert AIX.index_audit(spark, path).first().codes_hash == before_hash


def test_rebuild_is_versioned_and_stable(spark, index_path):
    """A rebuild commits new versions atomically; the audit hash is
    unchanged (deterministic encode) and old versions stay readable."""
    path, meta = index_path
    before = AIX.index_audit(spark, path).first().codes_hash
    meta2 = AIX.build_ivfpq_index(_emb(spark), path, n_files=8)
    assert meta2["state_version"] > meta["state_version"]
    assert AIX.index_audit(spark, path).first().codes_hash == before
    # time travel: the original state version still resolves
    old = LH.read_table(spark, f"{path}/state", meta["state_version"])
    assert old.count() == 1
