"""Persisted IVF-PQ ANN index: build once, probe many (r11 verdict #2).

IVFPIN.json documents why this exists: the per-call ``ivfpq_topk``
re-encodes the corpus inside every invocation, and encode dominates wall
at every measured scale. A production vector store amortizes the build —
FAISS writes an index file; here the index is three lakehouse tables
(atomic versioned commits, so a reader can never observe a half-built
index, and rebuilds are time-travelable):

- ``{path}/state`` — ONE row: (n_vectors, n_cells, m, dsub, n_cents,
  codes_version, tombstones_version, cells array<struct<cell,cvec,cvn>>,
  cents array<struct<cid,cvec>>). KB-sized at any corpus scale (it IS
  the broadcast quantizer state). ``codes_version`` and
  ``tombstones_version`` record the commits this state row references,
  so every reader resolves a CONSISTENT snapshot — a mutation that has
  committed data but not yet re-published state can never be observed
  half-mixed (new codes against old centroids, or a delete counted but
  not applied). ``tombstones_version`` is -1 while
  no unfolded delete exists — in particular a REBUILD publishes -1, so
  tombstones from a previous index generation can never hide the new
  corpus's vectors.
- ``{path}/codes`` — (vec_id, cell, j, code, gen): m rows per corpus
  vector of a few-byte payload, range-clustered by ``cell`` so every
  data file covers a tight cell range and the manifest min/max stats
  let a probe skip whole files for the cells it does not touch
  (lakehouse data skipping — partition-style pruning without a physical
  partition column). ``gen`` is the batch's write generation
  (deterministic under the single-writer contract).
- ``{path}/tombstones`` — (vec_id, upto_gen) logical deletes, folded
  physically by ``compact_index``; format and generation rules in
  ``operators/tombstones``.

Determinism: the build stage IS ``similarity.ivfpq_encode_relations``
and the probe IS ``similarity.ivfpq_adc_scan`` — the same two relations
the one-shot ``ivfpq_topk`` composes — so a stored-index probe is
bit-identical to the per-call form and stays oracle-checkable (the
DuckDB oracle recomputes the encode from the raw corpus; the audit
re-hashes the STORED codes against that recomputation, the
``read_shard_verified`` discipline applied to index content).

Scale shape: build cost is the one-map-pass encode plus one clustered
write (a single range shuffle of the few-byte code rows). Probe cost is
|queries| x quantizer-state work (map-side against the broadcast state
row) + the pruned code scan + one partial-aggregated decimal sum —
the float corpus is never touched after build. Deletes and updates are
delta-sized (one tombstone append + one state publish; updates add the
delta encode).

Single-writer contract: mutations run single-writer (the streaming
``foreachBatch`` shape) — ``n_vectors`` is a state read-modify-write.
After a crash, the writer replays the failed epoch before issuing new
operations (ordinary at-least-once redelivery order): generation stamps
derive from the state the crashed attempt saw.

Reference parity: the reference (pandas/Prefect/Mongo retail ELT) has no
ANN surface; this extends the beyond-reference LLM-data-pipeline layer
(Jégou et al., TPAMI 2011; FAISS IVFx,PQy public design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark import lakehouse as LH
from big_data_elt_pipeline_spark.functions.core import count_sum, ordered_md5
from big_data_elt_pipeline_spark.operators import similarity as SIM
from big_data_elt_pipeline_spark.operators import tombstones as TS

# target rows per audit hash chunk: the largest collect_list in
# ``index_audit`` is bounded by ~this constant regardless of corpus size
# (the per-cell population is n/n_cells, which AUTO_CELLS_HI makes linear
# in n past ~8M vectors — the chunk level re-bounds it)
AUDIT_CHUNK_TARGET = 4096


def _publish_state(
    cells: DataFrame,
    books: DataFrame,
    p: dict,
    path: str,
    n_vectors: int,
    codes_version: int,
    tombstones_version: int = -1,
) -> int:
    """Overwrite the one-row state table from the (cells, books) quantizer
    frames + params, recording the codes and tombstone commits it
    references. The state commit is the index's publish point — it is
    always written AFTER the commits it names."""
    state = cells.crossJoin(books).select(
        F.lit(n_vectors).cast("long").alias("n_vectors"),
        F.lit(p["n_cells"]).cast("int").alias("n_cells"),
        F.lit(p["m"]).cast("int").alias("m"),
        F.lit(p["dsub"]).cast("int").alias("dsub"),
        F.lit(p["n_cents"]).cast("int").alias("n_cents"),
        F.lit(codes_version).cast("long").alias("codes_version"),
        F.lit(tombstones_version).cast("long").alias("tombstones_version"),
        F.col("__cells").alias("cells"),
        F.col("__cents").alias("cents"),
    )
    return LH.write_table(state, f"{path}/state", mode="overwrite")


def _stamp_gen(encoded: DataFrame, gen: int) -> DataFrame:
    return encoded.withColumn("gen", F.lit(gen).cast("long"))


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_cells: int | None = None,
    m: int = 8,
    dsub: int = 8,
    n_cents: int = 16,
    n_files: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Materialize the IVF-PQ index for ``corpus`` under ``path``.

    Writes ``codes`` first, truncates any leftover tombstones from a
    previous index generation (a rebuild starts clean — stale tombstones
    must never hide the new corpus's vectors, the drift-rebuild
    convergence bug a latest-read tombstone default would cause), then
    ``state`` — the one-row state commit is the publish point: it
    records the ``codes_version`` it references (and
    ``tombstones_version = -1``), and readers resolve codes AT THAT
    VERSION, so a crash (or a racing read) between the writes observes
    the previous consistent snapshot — never new codes against old
    quantizers. Returns the commit metadata ``{"n_vectors",
    "n_cells", "codes_version", "state_version"}``.

    ``n_files`` bounds the clustered code file count (default: the
    session's shuffle partitions, AQE-coalesced — a corpus-scale build
    sizes files by data; fixture-scale tests pass a small explicit count
    so the per-cell file skipping is exercised rather than collapsing to
    one file).
    """
    spark = corpus.sparkSession
    n = corpus.count()
    if n_cells is None:
        n_cells = SIM.auto_cells(n)
    encoded, cells, books = SIM.ivfpq_encode_relations(
        corpus, n_cells, m, dsub, n_cents, id_col, vec_col
    )
    gen = TS.next_gen(f"{path}/codes")
    codes_version = LH.write_table(
        _stamp_gen(encoded, gen), f"{path}/codes", mode="overwrite",
        cluster_by=["cell"], n_files=n_files,
    )
    TS.truncate(spark, path)
    p = {"n_cells": n_cells, "m": m, "dsub": dsub, "n_cents": n_cents}
    state_version = _publish_state(cells, books, p, path, n, codes_version)
    return {
        "n_vectors": n,
        "n_cells": n_cells,
        "codes_version": codes_version,
        "state_version": state_version,
    }


def _recount_live_and_repair(
    spark: SparkSession, path: str, cells: DataFrame, books: DataFrame,
    p: dict,
) -> dict:
    """The rare-path replay repair: the original attempt may have crashed
    between its data commits and the state re-publish, so recount
    n_vectors from the LIVE codes at their latest version (the latest
    tombstone snapshot anti-joined — a replay arriving after a delete
    never re-counts tombstoned vectors) and re-publish state iff it
    drifted from ``p``. Under the single-writer contract the latest
    tombstones are the ones ``p`` pins unless a crash stranded a newer
    commit, which the repair then publishes. Returns the repair dict, or
    ``{"skipped": True}`` when the stored state already matches."""
    latest = LH.table_versions(f"{path}/codes")[-1]
    latest_tomb = TS.latest(spark, path)
    true_n = (
        TS.read_live(
            spark, path, "codes",
            {"codes_version": latest, "tombstones_version": latest_tomb},
            "vec_id",
        )
        .select("vec_id").distinct().count()
    )
    if (
        true_n != p["n_vectors"]
        or p["codes_version"] != latest
        or p["tombstones_version"] != latest_tomb
    ):
        sv = _publish_state(cells, books, p, path, true_n, latest, latest_tomb)
        return {
            "skipped": True, "repaired": True,
            "n_vectors": true_n, "state_version": sv,
        }
    return {"skipped": True}


def append_to_index(
    delta: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
    n_files: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Ingest a vector batch into an EXISTING index without a rebuild:
    the delta is encoded against the STORED quantizer state (one map
    pass over the delta only — ``similarity.ivfpq_encode_with_state``),
    appended to ``codes`` as one clustered commit, and the state row is
    re-published with the updated vector count. Sampled quantizers are
    immutable by design, so every existing code stays valid; this is the
    standard IVF ingest shape (FAISS ``add`` after ``train``). Appended
    vec_ids must be NEW vectors — re-encoding an existing id is
    ``update_index_vectors``.

    ``txn=(app_id, epoch)`` makes the codes append idempotent (the
    lakehouse exactly-once protocol) — a streaming ingest can re-deliver
    an epoch after a crash without duplicating codes. A replayed call
    returns ``{"skipped": True}`` but still CONVERGES state: if the
    original attempt crashed after the codes append and before the
    state re-publish, the replay recounts n_vectors from the LIVE codes
    and re-publishes the state row pointing at the latest codes commit
    (``_recount_live_and_repair`` — a distinct-count over the few-byte
    codes relation, paid only on the rare replay path, never on the
    normal ingest path).

    Snapshot note: readers resolve codes at the version the state row
    records, so the appended vectors become visible exactly AT the state
    re-publish — the state commit is the publish point for appends just
    as for builds; audits wanting an older snapshot pass the older
    ``state_version`` (the returned one names this publish).

    Concurrency contract: CODES commits from racing appenders serialize
    safely (the manifest version CAS), but ``n_vectors`` is a
    read-modify-write — run ingest single-writer (the streaming
    ``foreachBatch`` shape, which also supplies the txn tag) as Delta
    writers conventionally do; ``index_audit`` recomputes the true count
    from the codes themselves if state ever drifts.
    """
    spark = delta.sparkSession
    cells, books, p = load_index_state(spark, path)
    gen = p["codes_version"] + 1  # deterministic under single-writer
    encoded = SIM.ivfpq_encode_with_state(
        delta, cells, books, p["m"], p["dsub"], id_col, vec_col
    )
    codes_version = LH.write_table(
        _stamp_gen(encoded, gen), f"{path}/codes", mode="append",
        cluster_by=["cell"], n_files=n_files, txn=txn,
    )
    if codes_version == -1:
        return _recount_live_and_repair(spark, path, cells, books, p)
    n_delta = delta.count()
    state_version = _publish_state(
        cells, books, p, path, p["n_vectors"] + n_delta, codes_version,
        p["tombstones_version"],
    )
    return {
        "n_vectors": p["n_vectors"] + n_delta,
        "n_delta": n_delta,
        "codes_version": codes_version,
        "state_version": state_version,
    }


def load_index_state(
    spark: SparkSession, path: str, version: int | None = None
) -> tuple[DataFrame, DataFrame, dict]:
    """(cells one-row frame, books one-row frame, params dict) from the
    stored ``state`` table. The params fetch is one ``.first()`` over the
    one-row state relation (the adaptive-planning scalar-fetch idiom —
    m/dsub size plan-build expressions, so they must be driver values)."""
    state = LH.read_table(spark, f"{path}/state", version)
    p = state.select(
        "n_vectors", "n_cells", "m", "dsub", "n_cents", "codes_version",
        "tombstones_version",
    ).first()
    cells = F.broadcast(state.select(F.col("cells").alias("__cells")))
    books = F.broadcast(state.select(F.col("cents").alias("__cents")))
    return cells, books, p.asDict()


def ivfpq_probe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    state_version: int | None = None,
) -> DataFrame:
    """Top-k over the STORED index — no corpus re-encode. Same output,
    bit for bit, as ``similarity.ivfpq_topk`` on the corpus the index
    was built from (both run ``ivfpq_adc_scan`` on the same relations),
    minus any tombstoned vectors (``delete_from_index`` — the broadcast
    generation-scoped anti-join applies logical deletes until the next
    ``compact_index`` folds them physically).

    Read path: the query batch's probed cells are a bounded relation
    (|queries| x n_probe ints) computed map-side against the broadcast
    state; ONE single-row aggregate fetches them as a set (the
    adaptive-planning scalar-fetch idiom — the set is bounded by n_cells
    regardless of query count) and the codes scan opens only the files
    whose manifest cell range intersects a probed cell — with the
    ``cluster_by=["cell"]`` build layout that is ~n_probe/n_cells of the
    files, the file-level analogue of the equi-join's row pruning. The
    row-level cell equi-join still applies inside kept files.

    Snapshot consistency: codes AND tombstones are read at the versions
    the resolved state row RECORDS (``tombstones.read_live``), so a read
    is crash-consistent across rebuilds and mutations by construction —
    a probe racing (or following a crash) between a mutation's data
    commits and its state overwrite scans the OLD snapshot, never mixed
    halves, and a delete becomes visible exactly at its state publish.
    ``state_version`` time travels (e.g. the one a ``build``/``append``
    returned); it is the only version a probe can name.
    """
    cells, books, p = load_index_state(spark, path, state_version)

    # probed-cell hull: same ranked-slice expression as the scan's probe
    # side, reduced to ONE row holding the distinct cell set
    q = queries.select(
        F.col(vec_col).alias("qvec"),
        SIM.norm(F.col(vec_col)).alias("__qn"),
    ).crossJoin(cells)
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("__cells"),
                lambda ct: F.struct(
                    (-F.try_divide(
                        SIM.dot(F.col("qvec"), ct["cvec"]),
                        F.col("__qn") * ct["cvn"],
                    )).alias("negcos"),
                    ct["cell"].alias("cell"),
                ),
            )
        ),
        1,
        n_probe,
    )
    probed = (
        q.select(F.explode(ranked).alias("pr"))
        .agg(F.collect_set(F.col("pr.cell")).alias("cs"))
        .first()[0]
    )

    codes = TS.read_live(spark, path, "codes", p, "vec_id", keep_in=("cell", probed))
    return SIM.ivfpq_adc_scan(
        codes, cells, books, queries, k, n_probe, p["m"], p["dsub"],
        id_col, vec_col, query_id_col,
    )


def index_recall(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    floor: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Recall@k of the PERSISTED index against exact squared-L2 brute
    force over ``corpus`` (the raw vectors — the index stores only
    codes), as ONE scalar row: (n_queries, k, recall_at_k, min_recall,
    floor_ok). The ground truth is L2 because the ADC ranking is an
    L2-metric approximation — a cosine ground truth would conflate
    metric disagreement with the quantization loss this gate monitors.

    This is the stored-index drift monitor ``similarity.ivf_recall``'s
    discipline applied to the SERVING artifact: because
    ``append_to_index`` encodes deltas against the immutable base-built
    quantizers, recall silently decays if appended data drifts from the
    build distribution — running this gate on a deterministic sampled
    query set after ingest catches the decay in the driver hash instead
    of in production. ``floor_ok`` rides the bounded-assertion contract
    (the ml_queries AUC-floor idiom): the recall math is exact integers
    until two final IEEE divisions, and the floor literal is shared with
    the oracle, so the boolean is bit-portable.

    Scale shape: the probe side is the pruned stored-index scan; the
    brute-force side is |queries| x corpus — the measurement's price, so
    run it on a SAMPLED query set (the point is a drift signal, not a
    second serving path).
    """
    probe = ivfpq_probe(
        spark, path, queries, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    )
    bf = SIM.brute_force_l2_topk(
        corpus, queries, k, id_col, vec_col, query_id_col
    )
    return SIM._recall_rollup(probe, bf, queries, k, id_col, query_id_col).withColumn(
        "floor_ok", F.col("recall_at_k") >= F.lit(floor)
    )


def delete_from_index(
    ids: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
    id_col: str = "vec_id",
) -> dict:
    """Delete vectors from the index WITHOUT rewriting codes: append the
    victims to ``{path}/tombstones`` as (vec_id, upto_gen) — pinned to
    the current codes generation, so only rows committed AT OR BEFORE
    the delete die and a later re-append of the same vec_id (an update)
    survives — then re-publish the state row with the decremented
    ``n_vectors`` and the tombstone version it accounts for.
    ``ivfpq_probe`` anti-joins the state-pinned tombstones after its
    pruned codes scan, and the next ``compact_index`` folds them away
    physically (the Delta deletion-vector shape: logical delete now,
    physical rewrite at OPTIMIZE).

    Victims are validated against the LIVE codes: ids that were never
    indexed, or are already deleted, are silently ignored (returned as
    ``n_ignored``) — ``n_vectors`` decrements by membership EVIDENCE,
    never by the request size. The state publish is the visibility
    point (mirroring ``text_index.delete_from_text_index``): a reader
    racing the delete resolves the old consistent snapshot until the
    state overwrite lands.

    Scale bound: the tombstone relation is broadcast at probe time, so
    deletes accumulated BETWEEN compactions must stay dimension-sized
    (the standard DV assumption) — compact when they grow. ``txn`` makes
    the tombstone commit idempotent under the lakehouse exactly-once
    protocol; the victim set derives from the versions the PRE-delete
    state row pins, so a crash+replay recomputes identical rows and
    converges at the state re-publish.
    """
    spark = ids.sparkSession
    cells, books, p = load_index_state(spark, path)
    victims, n_del, n_ignored = TS.split(
        ids, id_col, TS.read_live(spark, path, "codes", p, "vec_id"), "vec_id"
    )
    if n_del == 0:
        return {"n_deleted": 0, "n_ignored": n_ignored}
    v, _ = TS.append(victims, path, "vec_id", p["codes_version"], txn)
    state_version = _publish_state(
        cells, books, p, path, p["n_vectors"] - n_del, p["codes_version"], v
    )
    return {
        "n_deleted": n_del,
        "n_ignored": n_ignored,
        "n_vectors": p["n_vectors"] - n_del,
        "tombstones_version": v,
        "state_version": state_version,
    }


def update_index_vectors(
    delta: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
    n_files: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Re-encode vectors in place — the embedding-refresh shape — as ONE
    atomic publish: tombstone each vec_id's current generation, append
    the delta's codes at the next generation (encoded against the
    immutable stored quantizers), and re-publish state once. A reader at
    ANY instant resolves either the old encoding or the new one, never
    neither and never both: both the codes and the tombstones are read
    at the versions the state row records, so every intermediate commit
    is invisible until the state overwrite.

    Upsert semantics: ids absent from the live codes are INSERTED
    (counted in ``n_inserted``); present ids are replaced
    (``n_updated``). Both appends share the ``txn`` tag and replay
    independently; a full replay converges through the same live-count
    repair as ``append_to_index``.
    """
    spark = delta.sparkSession
    cells, books, p = load_index_state(spark, path)
    victims, n_updated, n_inserted = TS.split(
        delta, id_col, TS.read_live(spark, path, "codes", p, "vec_id"), "vec_id"
    )
    encoded = SIM.ivfpq_encode_with_state(
        delta, cells, books, p["m"], p["dsub"], id_col, vec_col
    )
    codes_version = LH.write_table(
        _stamp_gen(encoded, p["codes_version"] + 1), f"{path}/codes",
        mode="append", cluster_by=["cell"], n_files=n_files, txn=txn,
    )
    tomb_version, fresh_tomb = TS.append_upsert(
        victims, path, "vec_id", p["codes_version"], n_updated,
        p["tombstones_version"], txn,
    )
    if codes_version == -1 and not fresh_tomb:
        return _recount_live_and_repair(spark, path, cells, books, p)
    if codes_version == -1:
        codes_version = LH.table_versions(f"{path}/codes")[-1]
    n_vectors = p["n_vectors"] + n_inserted
    state_version = _publish_state(
        cells, books, p, path, n_vectors, codes_version, tomb_version
    )
    return {
        "n_updated": n_updated,
        "n_inserted": n_inserted,
        "n_vectors": n_vectors,
        "codes_version": codes_version,
        "tombstones_version": tomb_version,
        "state_version": state_version,
    }


def compact_index(
    spark: SparkSession, path: str, n_files: int | None = None
) -> dict:
    """OPTIMIZE the index: rewrite the codes table (small-file
    compaction, re-clustered by cell) with every DEAD GENERATION folded
    away (the generation-scoped anti-join — a tombstoned-then-updated
    vector keeps exactly its newest codes), re-publish the state row to
    reference the compacted commit (tombstones cleared), then truncate
    the tombstones. Because readers read codes at the version state
    names, a bare ``lakehouse.compact_table`` on the codes table
    alone would leave probes reading the PRE-compaction files (correct
    but un-optimized, and vacuum-unsafe) — index compaction must move
    the state pointer too.

    Crash ordering: codes rewrite -> state publish -> tombstone
    truncate. A crash before the state publish leaves readers on the
    old (codes, tombstones) snapshot — correct via the anti-join; a
    crash after it leaves compacted codes with the tombstones already
    un-referenced (state records -1) — also correct. Truncating BEFORE
    the state publish would be the unsafe order (old codes with the
    deletes forgotten).

    With no tombstones the content is unchanged (``index_audit`` hash
    identical across the rewrite); with tombstones the audit reflects
    the deletion (hash over the surviving codes only)."""
    cells, books, p = load_index_state(spark, path)
    codes = TS.read_live(spark, path, "codes", p, "vec_id")
    folds = p["tombstones_version"] >= 0
    if folds:
        # folding deletes changes the physical row set — recount exactly
        # from the surviving codes (one agg over the already-materializing
        # rewrite input; should equal the state count delete maintains)
        n_vectors = codes.select("vec_id").distinct().count()
    else:
        n_vectors = p["n_vectors"]
    codes_version = LH.write_table(
        codes, f"{path}/codes", mode="overwrite", cluster_by=["cell"],
        n_files=n_files,
    )
    state_version = _publish_state(
        cells, books, p, path, n_vectors, codes_version, -1
    )
    if folds:
        TS.truncate(spark, path)
    return {
        "codes_version": codes_version,
        "state_version": state_version,
        "n_vectors": n_vectors,
    }


def rebuild_if_drifted(
    spark: SparkSession,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    floor: float = 0.05,
    n_files: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """The closed maintenance loop the drift gate exists for: run
    ``index_recall`` on the sampled query set; if recall has fallen
    below ``floor`` (appends drifted from the build distribution — the
    immutable-quantizer decay ``append_to_index`` documents), RETRAIN by
    rebuilding the index over ``corpus`` (fresh quantizers, one atomic
    versioned publish — readers mid-rebuild stay on the old consistent
    snapshot; the rebuild clears every tombstone, so previously-deleted
    ids that exist in ``corpus`` are fully live again). Returns
    ``{"recall_at_k", "floor", "rebuilt", ...}`` with the rebuild
    metadata (and the post-rebuild recall) when it fired.

    Scheduling shape: run after every N ingest epochs or on a cadence —
    the measurement is one probe + one |queries| x corpus brute-force
    pass (sampled queries keep it bounded), and the rebuild is the
    ordinary build cost paid only when the gate trips.
    """
    before = index_recall(
        spark, path, corpus, queries, k=k, n_probe=n_probe, floor=floor,
        id_col=id_col, vec_col=vec_col,
    ).first()
    out = {
        "recall_at_k": before["recall_at_k"],
        "floor": floor,
        "rebuilt": not before["floor_ok"],
    }
    if before["floor_ok"]:
        return out
    # retrain with the STORED quantizer shape (m/dsub/n_cents carry over;
    # n_cells re-derives from the current corpus size via auto_cells)
    _, _, p = load_index_state(spark, path)
    meta = build_ivfpq_index(
        corpus, path, m=p["m"], dsub=p["dsub"], n_cents=p["n_cents"],
        n_files=n_files, id_col=id_col, vec_col=vec_col,
    )
    out.update(meta)
    after = index_recall(
        spark, path, corpus, queries, k=k, n_probe=n_probe, floor=floor,
        id_col=id_col, vec_col=vec_col,
    ).first()
    out["recall_after_rebuild"] = after["recall_at_k"]
    return out


def index_audit(
    spark: SparkSession,
    path: str,
    state_version: int | None = None,
    chunk_target: int = AUDIT_CHUNK_TARGET,
) -> DataFrame:
    """ONE verification row over the STORED index — the
    ``read_shard_verified`` discipline applied to index content: re-hash
    the persisted codes and surface the quantizer params, so an oracle
    that re-derives the encode from the raw corpus certifies that what
    sits on disk IS the deterministic encode (any corruption, partial
    build, or quantizer drift flips the hash).

    The audit certifies the LIVE index (the ``text_index_audit``
    contract): dead generations — tombstoned by ``delete_from_index`` /
    ``update_index_vectors`` and not yet folded by ``compact_index`` —
    are anti-joined away (generation-scoped) before every derivation,
    so a post-delete audit matches an oracle computed over the live
    corpus, and ``n_tombstones`` surfaces the pending physical fold.

    Hash shape at scale — a three-level fold whose largest collect_list
    is bounded by a CONSTANT, not by the cell population (which
    ``AUTO_CELLS_HI`` makes linear in n past ~8M vectors): code rows
    group by (cell, vec_id % C) where C = ceil(n_vectors / (n_cells *
    chunk_target)) — so a chunk holds ~chunk_target * m rows whatever
    the corpus size — then per-cell md5 over the (chunk, hash) pairs in
    chunk order, then one global md5 over the n_cells-row (cell, hash)
    relation in cell order. C is exact integer arithmetic from the
    state params, mirrored verbatim in the SQL oracle, so the fold
    shape (and therefore the hash) is cross-engine identical. The hash
    covers (vec_id, j, code) — generation stamps are physical
    bookkeeping, not content, so the hash is stable across compaction.

    Columns: (n_vectors, n_code_rows, n_cells_used, n_cells, m, dsub,
    n_cents, n_tombstones, codes_hash). ``state_version`` audits an
    older publish (time travel over the index history); the default
    resolves the latest state row. Either way codes and tombstones are
    read at the versions that row records (the crash-consistent
    snapshot).
    """
    _, _, p = load_index_state(spark, path, state_version)
    denom = max(1, p["n_cells"] * chunk_target)
    n_chunks = max(1, (p["n_vectors"] + denom - 1) // denom)
    n_tombstones = TS.n_ids(TS.pinned(spark, path, p["tombstones_version"]), "vec_id")
    codes = TS.read_live(spark, path, "codes", p, "vec_id")
    per_chunk = codes.groupBy(
        "cell", F.pmod(F.col("vec_id"), F.lit(n_chunks)).alias("chunk")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct(F.col("vec_id")).cast("long").alias("n_vecs"),
        ordered_md5("vec_id", "j", "code").alias("h"),
    )
    per_cell = per_chunk.groupBy("cell").agg(
        F.sum("n_rows").cast("long").alias("n_rows"),
        # a vector's m rows share vec_id, hence one chunk: per-chunk
        # distinct counts partition the cell's distinct count exactly
        F.sum("n_vecs").cast("long").alias("n_vecs"),
        ordered_md5("chunk", "h").alias("h"),
    )
    return per_cell.agg(
        count_sum("n_vecs").alias("n_vectors"),
        count_sum("n_rows").alias("n_code_rows"),
        F.count(F.lit(1)).cast("long").alias("n_cells_used"),
        ordered_md5("cell", "h").alias("codes_hash"),
    ).select(
        "n_vectors",
        "n_code_rows",
        "n_cells_used",
        F.lit(p["n_cells"]).cast("int").alias("n_cells"),
        F.lit(p["m"]).cast("int").alias("m"),
        F.lit(p["dsub"]).cast("int").alias("dsub"),
        F.lit(p["n_cents"]).cast("int").alias("n_cents"),
        F.lit(n_tombstones).cast("long").alias("n_tombstones"),
        "codes_hash",
    )
