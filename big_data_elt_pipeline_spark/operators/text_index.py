"""Persisted BM25 text-retrieval index: build once, probe many — the
``ann_index`` build/probe discipline applied to text (r12 verdict #1).

Why this exists: the ad-hoc ``retrieval.bm25_topk`` recomputes tf, df,
and avgdl from the FULL corpus inside every invocation — the exact
per-call re-encode IVFPIN.json documented for vectors. A serving loop
pays a corpus scan per query batch; at 100 TB that is the whole wall.
The index amortizes the one corpus-sized pass into four lakehouse
tables (atomic versioned commits — a reader can never observe a
half-built index, and rebuilds are time-travelable):

- ``{path}/postings`` — (doc_id, term, tf, dl, gen): one row per
  distinct (document, term), range-clustered by ``term`` so every data
  file covers a tight term range and the manifest min/max stats let a
  probe open only the files whose range can contain a query term.
  ``dl`` is denormalized into the postings (one extra int per row) so a
  probe is a SINGLE pruned scan — no second corpus-sized doc-length
  join (Lucene stores norms per doc for the same reason). ``gen`` is
  the batch's write generation (the postings version the writer is
  about to commit, deterministic under the single-writer contract).
- ``{path}/df`` — (term, df) ADDITIVE increments, clustered by term:
  the build writes the full document frequencies; each append commits
  the delta's contribution and readers fold ``sum(df) group by term``
  (vocab-sized, never corpus-sized). Pruned by query vocabulary the
  same way as postings.
- ``{path}/docs`` — (doc_id, gen): the corpus-membership REGISTRY, one
  row per live document generation (two longs per doc — metadata-sized
  next to the text). It is the evidence base for every global count:
  BM25's N is the live registry count (exact even for token-less
  documents, which leave no postings), and a delete's N decrement is
  bounded by registry membership, so deleting a never-indexed id is a
  no-op instead of silent stats corruption.
- ``{path}/tombstones`` — (doc_id, upto_gen) logical deletes over the
  postings and the registry, folded physically by
  ``compact_text_index``; format and generation rules in
  ``operators/tombstones``.
- ``{path}/stats`` — ONE row (n_docs, n_docs_tokenized, total_dl,
  postings_version, df_version, docs_version, tombstones_version).
  ``n_docs`` is the CORPUS count (BM25's idf N counts every document);
  ``n_docs_tokenized`` is the number of documents with at least one
  token (``avgdl``'s denominator — the ad-hoc form's ``avg(dl)``
  averages over the dl relation, which only holds tokenized
  documents). Published LAST: the stats commit is the index's publish
  point, and it RECORDS the versions of every table it references, so
  every reader resolves a crash-consistent snapshot —
  a mutation that has committed data but not yet re-published stats
  can never be observed half-mixed (the ``ann_index`` codes_version
  lesson applied from day one).

Determinism: the probe composes the SAME ranking kernel
(``retrieval.bm25_rank``) as the per-call form — quantized round-6
decimal contributions, exact associative decimal sum — so a
stored-index probe is bit-identical to ``bm25_topk`` on the live corpus
the index holds, and stays oracle-checkable (the DuckDB oracle
recomputes the whole ranking from the raw corpus). ``avgdl`` is
reconstructed from the exact integer pair (total_dl, n_docs_tokenized)
with the identical IEEE double division ``F.avg`` performs, so the
scalar is bit-equal too.

Scale shape: build cost is the tokenize pass + two partial aggregations
+ one clustered write. Probe cost is |query vocab| x (pruned postings
files) + a candidate-sized score aggregation — the corpus text is never
touched after build. Appends, deletes, and updates are all delta-sized
(tokenize the delta, clustered appends, one stats re-publish; a delete
additionally pays one postings scan to derive its df decrements — the
Lucene segment-delete asymmetry; batch deletes rather than dripping
them).

Single-writer contract (the ``ann_index.append_to_index`` convention):
mutations run single-writer (the streaming ``foreachBatch`` shape) —
concurrent writers would race the stats read-modify-write. After a
crash, the writer REPLAYS the failed epoch before issuing new
operations (ordinary at-least-once redelivery order): generation
stamps derive from the stats the crashed attempt saw, so an
out-of-order new mutation between a crash and its replay could pin a
tombstone below a committed-but-unpublished generation. Updating an
existing document is ``update_text_documents`` (delete + append under
ONE publish point) — sequencing ``delete_from_text_index`` +
``append_to_text_index`` by hand is also correct (generation scoping
makes the re-append visible) but leaves a crash window where the doc
is absent.

Reference parity: the reference (pandas/Prefect/Mongo retail ELT) has
no retrieval surface; this extends the beyond-reference
LLM-data-pipeline layer (Robertson & Zaragoza 2009 BM25; Lucene/ES
inverted-index + segment-scoped-delete public design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark import lakehouse as LH
from big_data_elt_pipeline_spark.functions.core import count_sum, ordered_md5
from big_data_elt_pipeline_spark.operators import retrieval as RETR
from big_data_elt_pipeline_spark.operators import tombstones as TS

# target postings rows per audit hash chunk (same bound discipline as
# ann_index.AUDIT_CHUNK_TARGET): the largest collect_list in
# ``text_index_audit`` stays ~constant whatever the corpus size
AUDIT_CHUNK_TARGET = 4096


def _postings(
    docs: DataFrame, id_col: str, text_col: str, gen: int
) -> DataFrame:
    """(doc_id, term, tf, dl, gen) for ``docs`` — the deterministic
    tokenize + two partial aggregations the ad-hoc form runs in-plan,
    stamped with the batch's write generation."""
    tokens = RETR.tokenize(docs, id_col, text_col)
    if id_col != "doc_id":
        tokens = tokens.withColumnRenamed(id_col, "doc_id")
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    return tf.join(dl, "doc_id").select(
        "doc_id", "term", "tf", "dl", F.lit(gen).cast("long").alias("gen")
    )


def _registry_rows(docs: DataFrame, id_col: str, gen: int) -> DataFrame:
    """(doc_id, gen) registry rows for a document batch."""
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.lit(gen).cast("long").alias("gen"),
    ).distinct()


def _publish_stats(
    spark: SparkSession,
    path: str,
    n_docs: int,
    n_docs_tokenized: int,
    total_dl: int,
    postings_version: int,
    df_version: int,
    docs_version: int,
    tombstones_version: int = -1,
) -> int:
    """Overwrite the one-row stats table — always written AFTER the
    postings/df/docs/tombstone commits it names (the publish point).
    ``tombstones_version`` is -1 while no delete has ever landed; unlike
    a bare content append, a text delete changes N/avgdl/df, so the
    tombstone snapshot must publish ATOMICALLY with the stats that
    account for it — readers resolve the version recorded here."""
    stats = spark.range(1).select(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.lit(n_docs_tokenized).cast("long").alias("n_docs_tokenized"),
        F.lit(total_dl).cast("long").alias("total_dl"),
        F.lit(postings_version).cast("long").alias("postings_version"),
        F.lit(df_version).cast("long").alias("df_version"),
        F.lit(docs_version).cast("long").alias("docs_version"),
        F.lit(tombstones_version).cast("long").alias("tombstones_version"),
    )
    return LH.write_table(stats, f"{path}/stats", mode="overwrite")


def _corpus_row(spark: SparkSession, p: dict) -> DataFrame:
    """BM25's one-row (n_docs, avgdl) corpus frame from the stats row.
    avgdl is the same IEEE double division F.avg(dl) lowers to (cast(sum)
    / cast(count)), so the scalar is bit-equal to the per-call form's
    in-plan average. Its denominator is the TOKENIZED doc count (the dl
    relation only holds docs with >= 1 token) and is NULL when that is 0,
    as F.avg over an empty dl relation is; idf's N is the full corpus
    count."""
    avgdl = (
        F.lit(p["total_dl"]).cast("double")
        / F.lit(p["n_docs_tokenized"]).cast("double")
        if p["n_docs_tokenized"]
        else F.lit(None).cast("double")
    )
    return spark.range(1).select(
        F.lit(p["n_docs"]).cast("long").alias("n_docs"), avgdl.alias("avgdl")
    )


def load_text_index_stats(
    spark: SparkSession, path: str, version: int | None = None
) -> dict:
    """The one-row stats dict — one ``.first()`` over the one-row stats
    relation (the adaptive-planning scalar-fetch idiom: the counts and
    referenced versions shape the probe plan, so they must be driver
    values)."""
    stats = LH.read_table(spark, f"{path}/stats", version)
    return stats.first().asDict()


def build_text_index(
    docs: DataFrame,
    path: str,
    n_files: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Materialize the BM25 index for ``docs`` under ``path``.

    Writes postings, then df, then the docs registry, truncates any
    leftover tombstones from a previous index generation (a rebuild
    starts clean — stale tombstones must never hide the new corpus's
    documents), then stats — the stats commit is the publish point and
    records the (postings, df, docs) versions it references (default
    readers resolve that consistent snapshot; a crash anywhere before
    the stats overwrite leaves the previous index version fully
    intact). Returns ``{"n_docs", "n_docs_tokenized", "total_dl",
    "postings_version", "df_version", "docs_version",
    "stats_version"}``.

    ``n_files`` bounds the clustered file counts (fixture-scale tests
    pass a small explicit count so per-term file skipping is exercised
    rather than collapsing to one file).
    """
    spark = docs.sparkSession
    gen = TS.next_gen(f"{path}/postings")
    post = _postings(docs, id_col, text_col, gen)
    postings_version = LH.write_table(
        post, f"{path}/postings", mode="overwrite", cluster_by=["term"],
        n_files=n_files,
    )
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    df_version = LH.write_table(
        dfreq, f"{path}/df", mode="overwrite", cluster_by=["term"],
        n_files=n_files,
    )
    docs_version = LH.write_table(
        _registry_rows(docs, id_col, gen), f"{path}/docs", mode="overwrite"
    )
    TS.truncate(spark, path)
    n_docs = docs.count()  # corpus N (idf counts token-less docs too)
    counts = post.agg(
        F.count_distinct("doc_id").cast("long").alias("n"),
        F.sum("tf").cast("long").alias("t"),
    ).first()
    n_tok, total_dl = int(counts["n"] or 0), int(counts["t"] or 0)
    stats_version = _publish_stats(
        spark, path, n_docs, n_tok, total_dl,
        postings_version, df_version, docs_version,
    )
    return {
        "n_docs": n_docs,
        "n_docs_tokenized": n_tok,
        "total_dl": total_dl,
        "postings_version": postings_version,
        "df_version": df_version,
        "docs_version": docs_version,
        "stats_version": stats_version,
    }


def _recount_live_and_repair(spark: SparkSession, path: str, p: dict) -> dict:
    """The rare-path replay repair: recount every global stat from the
    LIVE relations at their latest versions — postings and registry with
    the latest tombstone snapshot anti-joined (generation-scoped), so a
    replay AFTER a delete never 're-includes' tombstoned documents (the
    r13 advisory's exact failure) — and re-publish stats iff anything
    drifted from ``p``. One corpus-sized postings pass, paid only on
    replay. Returns the repair dict, or ``{"skipped": True}`` when the
    stored stats already match."""
    latest_post = LH.table_versions(f"{path}/postings")[-1]
    latest_df = LH.table_versions(f"{path}/df")[-1]
    latest_docs = LH.table_versions(f"{path}/docs")[-1]
    latest_tomb = TS.latest(spark, path)
    latest = {
        "postings_version": latest_post, "docs_version": latest_docs,
        "tombstones_version": latest_tomb,
    }
    counts = TS.read_live(spark, path, "postings", latest, "doc_id").agg(
        F.count_distinct("doc_id").cast("long").alias("n"),
        F.sum("tf").cast("long").alias("t"),
    ).first()
    true_tok, true_dl = int(counts["n"] or 0), int(counts["t"] or 0)
    true_n_docs = TS.read_live(spark, path, "docs", latest, "doc_id").count()
    if (
        true_n_docs != p["n_docs"]
        or true_tok != p["n_docs_tokenized"]
        or true_dl != p["total_dl"]
        or p["postings_version"] != latest_post
        or p["df_version"] != latest_df
        or p["docs_version"] != latest_docs
        or p["tombstones_version"] != latest_tomb
    ):
        sv = _publish_stats(
            spark, path, true_n_docs, true_tok, true_dl,
            latest_post, latest_df, latest_docs, latest_tomb,
        )
        return {
            "skipped": True, "repaired": True, "n_docs": true_n_docs,
            "n_docs_tokenized": true_tok, "total_dl": true_dl,
            "stats_version": sv,
        }
    return {"skipped": True}


def append_to_text_index(
    delta_docs: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
    n_files: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Ingest a document batch into an EXISTING index without a rebuild:
    tokenize the DELTA only, append its postings, its (term, df)
    increments, and its registry rows as clustered commits, and
    re-publish stats with the updated exact counts. Document frequencies
    are additive because appended doc_ids are new documents (the
    single-writer append-only contract — use ``update_text_documents``
    to replace existing documents) — readers fold ``sum(df)`` over the
    increments.

    ``txn=(app_id, epoch)`` makes ALL THREE table appends idempotent
    under the lakehouse exactly-once protocol (each table's log is
    checked independently, so a crash between them is repaired by the
    replay: the committed ones skip, the missing ones commit). A
    fully-replayed call returns ``{"skipped": True}`` but still
    CONVERGES stats: it recounts every global stat from the LIVE
    relations (latest tombstones anti-joined, generation-scoped — a
    replay arriving after a delete must not re-include tombstoned
    documents) and re-publishes the stats row iff anything drifted —
    the rare-path repair for a crash between the appends and the stats
    publish (the ``ann_index.append_to_index`` replay discipline).
    """
    spark = delta_docs.sparkSession
    p = load_text_index_stats(spark, path)
    gen = p["postings_version"] + 1  # deterministic under single-writer
    post = _postings(delta_docs, id_col, text_col, gen)
    postings_version = LH.write_table(
        post, f"{path}/postings", mode="append", cluster_by=["term"],
        n_files=n_files, txn=txn,
    )
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    df_version = LH.write_table(
        dfreq, f"{path}/df", mode="append", cluster_by=["term"],
        n_files=n_files, txn=txn,
    )
    docs_version = LH.write_table(
        _registry_rows(delta_docs, id_col, gen), f"{path}/docs",
        mode="append", txn=txn,
    )
    if postings_version == -1 and df_version == -1 and docs_version == -1:
        return _recount_live_and_repair(spark, path, p)
    # partial replay (some tables committed before the crash): the missing
    # appends just committed above; fall through to the normal publish
    if postings_version == -1:
        postings_version = LH.table_versions(f"{path}/postings")[-1]
    if df_version == -1:
        df_version = LH.table_versions(f"{path}/df")[-1]
    if docs_version == -1:
        docs_version = LH.table_versions(f"{path}/docs")[-1]
    n_delta_docs = delta_docs.count()  # corpus N counts token-less docs
    delta_counts = post.agg(
        F.count_distinct("doc_id").cast("long").alias("n"),
        F.sum("tf").cast("long").alias("t"),
    ).first()
    n_docs = p["n_docs"] + n_delta_docs
    n_tok = p["n_docs_tokenized"] + int(delta_counts["n"] or 0)
    total_dl = p["total_dl"] + int(delta_counts["t"] or 0)
    stats_version = _publish_stats(
        spark, path, n_docs, n_tok, total_dl,
        postings_version, df_version, docs_version, p["tombstones_version"],
    )
    return {
        "n_docs": n_docs,
        "n_docs_tokenized": n_tok,
        "total_dl": total_dl,
        "n_delta": n_delta_docs,
        "postings_version": postings_version,
        "df_version": df_version,
        "docs_version": docs_version,
        "stats_version": stats_version,
    }


def delete_from_text_index(
    ids: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
    id_col: str = "doc_id",
) -> dict:
    """Delete documents from the index WITHOUT rewriting postings.

    Unlike the ANN index — where a delete changes nothing global — removing
    a document changes BM25's corpus statistics (N, avgdl, and df of
    every term it contained), so a text delete is a three-part commit
    published atomically at the stats overwrite: (1) per-term NEGATIVE
    (term, df) increments for the deleted documents' vocabulary (the
    additive df log absorbs them — readers fold sum(df)); (2) the
    victims appended to ``{path}/tombstones`` as (doc_id, upto_gen)
    with ``upto_gen`` pinned to the current postings generation, so
    only rows committed AT OR BEFORE the delete die — a later re-append
    of the same doc_id (an update) survives; (3) the stats row
    re-published with the decremented counts AND the tombstone version
    it accounts for. A reader between (1)/(2) and (3) still resolves
    the OLD stats row, whose recorded versions predate the delete —
    fully consistent. After publish, ``bm25_index_probe`` answers
    EXACTLY as the ad-hoc ``bm25_topk`` over the live corpus (the gate
    oracle's check).

    Victims are validated against the LIVE docs registry: ids that were
    never indexed, or are already deleted, are silently ignored (their
    count returns as ``n_ignored``) — the N decrement is derived from
    corpus-membership EVIDENCE, never from the request size, so a bogus
    id cannot skew idf/avgdl. Token-less documents are registry members
    like any other, so deleting them decrements N exactly.

    Cost note: computing the decrements needs the deleted documents'
    postings, and postings are clustered by TERM — this is one postings
    scan per delete batch (the Lucene segment-delete asymmetry; batch
    deletes rather than dripping them). The tombstone anti-join at probe
    time is broadcast — deletes accumulated between compactions must
    stay dimension-sized (``compact_text_index`` folds them). ``txn``
    makes the df/tombstone appends idempotent; the decrement relations
    derive from the versions the PRE-delete stats row pins, so a
    crash+replay recomputes identical numbers and converges.
    """
    spark = ids.sparkSession
    p = load_text_index_stats(spark, path)
    victims, n_del, n_ignored = TS.split(
        ids, id_col, TS.read_live(spark, path, "docs", p, "doc_id"), "doc_id"
    )
    if n_del == 0:
        return {"n_deleted": 0, "n_ignored": n_ignored}
    post = TS.read_live(spark, path, "postings", p, "doc_id")
    vic_post = post.join(F.broadcast(victims), "doc_id", "left_semi")
    dec = vic_post.groupBy("term").agg(
        (-F.count(F.lit(1))).cast("long").alias("df")
    )
    df_version = LH.write_table(
        dec, f"{path}/df", mode="append", cluster_by=["term"], txn=txn
    )
    tomb_version, _ = TS.append(
        victims, path, "doc_id", p["postings_version"], txn
    )
    if df_version == -1:
        df_version = LH.table_versions(f"{path}/df")[-1]
    gone = vic_post.agg(
        F.count_distinct("doc_id").cast("long").alias("n"),
        F.sum("tf").cast("long").alias("t"),
    ).first()
    n_docs = p["n_docs"] - n_del
    n_tok = p["n_docs_tokenized"] - int(gone["n"] or 0)
    total_dl = p["total_dl"] - int(gone["t"] or 0)
    stats_version = _publish_stats(
        spark, path, n_docs, n_tok, total_dl,
        p["postings_version"], df_version, p["docs_version"], tomb_version,
    )
    return {
        "n_deleted": n_del,
        "n_ignored": n_ignored,
        "n_docs": n_docs,
        "n_docs_tokenized": n_tok,
        "total_dl": total_dl,
        "df_version": df_version,
        "tombstones_version": tomb_version,
        "stats_version": stats_version,
    }


def update_text_documents(
    docs: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
    n_files: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Replace documents in place — the RAG-corpus refresh shape — as ONE
    atomic publish: tombstone each doc_id's current generation, append
    the re-tokenized postings/df/registry rows at the next generation,
    and re-publish stats once. A reader at ANY instant resolves either
    the old document or the new one, never neither and never both: every
    intermediate commit is invisible until the stats overwrite because
    probes read postings AND tombstones at the stats-recorded versions.

    Upsert semantics: ids absent from the live registry are INSERTED
    (counted in ``n_inserted``); present ids are replaced
    (``n_updated``). ``docs`` must carry one row per doc_id.

    The df delta commits as ONE net increment relation (new counts minus
    old counts, zero rows dropped), so the additive df log grows by the
    touched vocabulary only. All four appends share the ``txn`` tag —
    each table's log replays independently, and a full replay converges
    through the same live-relation recount as ``append_to_text_index``.

    Cost: delta tokenize + one postings scan (the victims' old rows —
    the same segment-delete asymmetry as ``delete_from_text_index``) +
    four delta-sized appends + one stats publish. No corpus rewrite.
    """
    spark = docs.sparkSession
    p = load_text_index_stats(spark, path)
    gen = p["postings_version"] + 1
    victims, n_updated, n_inserted = TS.split(
        docs, id_col, TS.read_live(spark, path, "docs", p, "doc_id"), "doc_id"
    )
    new_post = _postings(docs, id_col, text_col, gen)
    post = TS.read_live(spark, path, "postings", p, "doc_id")
    old_post = post.join(F.broadcast(victims), "doc_id", "left_semi")

    postings_version = LH.write_table(
        new_post, f"{path}/postings", mode="append", cluster_by=["term"],
        n_files=n_files, txn=txn,
    )
    net_df = (
        new_post.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .unionByName(
            old_post.groupBy("term").agg(
                (-F.count(F.lit(1))).cast("long").alias("df")
            )
        )
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .filter(F.col("df") != 0)
    )
    df_version = LH.write_table(
        net_df, f"{path}/df", mode="append", cluster_by=["term"],
        n_files=n_files, txn=txn,
    )
    tomb_version, fresh_tomb = TS.append_upsert(
        victims, path, "doc_id", p["postings_version"], n_updated,
        p["tombstones_version"], txn,
    )
    docs_version = LH.write_table(
        _registry_rows(docs, id_col, gen), f"{path}/docs",
        mode="append", txn=txn,
    )
    if (
        postings_version == -1 and df_version == -1 and docs_version == -1
        and not fresh_tomb
    ):
        return _recount_live_and_repair(spark, path, p)
    if postings_version == -1:
        postings_version = LH.table_versions(f"{path}/postings")[-1]
    if df_version == -1:
        df_version = LH.table_versions(f"{path}/df")[-1]
    if docs_version == -1:
        docs_version = LH.table_versions(f"{path}/docs")[-1]
    new_counts = new_post.agg(
        F.count_distinct("doc_id").cast("long").alias("n"),
        F.sum("tf").cast("long").alias("t"),
    ).first()
    old_counts = old_post.agg(
        F.count_distinct("doc_id").cast("long").alias("n"),
        F.sum("tf").cast("long").alias("t"),
    ).first()
    n_docs = p["n_docs"] + n_inserted
    n_tok = (
        p["n_docs_tokenized"]
        - int(old_counts["n"] or 0)
        + int(new_counts["n"] or 0)
    )
    total_dl = (
        p["total_dl"] - int(old_counts["t"] or 0) + int(new_counts["t"] or 0)
    )
    stats_version = _publish_stats(
        spark, path, n_docs, n_tok, total_dl,
        postings_version, df_version, docs_version, tomb_version,
    )
    return {
        "n_updated": n_updated,
        "n_inserted": n_inserted,
        "n_docs": n_docs,
        "n_docs_tokenized": n_tok,
        "total_dl": total_dl,
        "postings_version": postings_version,
        "df_version": df_version,
        "docs_version": docs_version,
        "tombstones_version": tomb_version,
        "stats_version": stats_version,
    }


def compact_text_index(
    spark: SparkSession, path: str, n_files: int | None = None
) -> dict:
    """OPTIMIZE the index: rewrite postings and the docs registry with
    every DEAD GENERATION folded away (the generation-scoped anti-join —
    a tombstoned-then-updated document keeps exactly its newest rows),
    rewrite df as the single folded relation (collapsing the
    increment/decrement log and dropping dead terms), re-publish stats
    (same logical values, new versions, tombstones cleared), then
    truncate the tombstones. Crash ordering mirrors
    ``ann_index.compact_index``: rewrites -> stats publish -> tombstone
    truncate — a crash on either side of the stats publish leaves
    readers on a fully consistent snapshot. ``text_index_audit`` answers
    identically across the fold (it already audits the live relation).
    """
    p = load_text_index_stats(spark, path)
    postings_version = LH.write_table(
        TS.read_live(spark, path, "postings", p, "doc_id"),
        f"{path}/postings", mode="overwrite", cluster_by=["term"],
        n_files=n_files,
    )
    live = LH.read_table(spark, f"{path}/postings", postings_version)
    dfreq = live.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    df_version = LH.write_table(
        dfreq, f"{path}/df", mode="overwrite", cluster_by=["term"],
        n_files=n_files,
    )
    docs_version = LH.write_table(
        TS.read_live(spark, path, "docs", p, "doc_id"), f"{path}/docs",
        mode="overwrite",
    )
    stats_version = _publish_stats(
        spark, path, p["n_docs"], p["n_docs_tokenized"], p["total_dl"],
        postings_version, df_version, docs_version, -1,
    )
    if p["tombstones_version"] >= 0:
        TS.truncate(spark, path)
    return {
        "postings_version": postings_version,
        "df_version": df_version,
        "docs_version": docs_version,
        "stats_version": stats_version,
    }


def bm25_index_probe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    stats_version: int | None = None,
) -> DataFrame:
    """Top-``k`` BM25 over the STORED index — no corpus tokenize, no
    corpus stats recompute in this plan. Same output, bit for bit, as
    ``retrieval.bm25_topk`` on the live corpus the index holds (both
    compose ``retrieval.bm25_rank``; avgdl is the identical IEEE
    division of the stored exact integers).

    Read path: the query vocabulary is a bounded relation (|queries|
    distinct terms); ONE single-row aggregate fetches it as a set (the
    adaptive-planning scalar-fetch idiom) and both the postings and df
    scans open only files whose manifest term range can contain a query
    term — with the ``cluster_by=["term"]`` build layout that is the
    file-level analogue of the row-level term equi-join, which still
    applies inside kept files.

    Snapshot consistency: postings, df AND tombstones are read at the
    versions the resolved stats row RECORDS, so a read is
    crash-consistent across rebuilds by construction (a text delete
    changes N/avgdl/df, so its visibility must flip atomically with the
    stats that account for it — see ``delete_from_text_index``) and the
    anti-join is generation-scoped (an updated document's re-appended
    rows outrank its tombstone). ``stats_version`` time travels; it is
    the only version a probe can name.
    """
    p = load_text_index_stats(spark, path, stats_version)

    # query vocabulary: bounded by the probe set, never corpus-sized
    qvocab = [
        r["term"]
        for r in RETR.tokenize(queries, "query_id", "query_text")
        .select("term").distinct().collect()
    ]

    post = TS.read_live(
        spark, path, "postings", p, "doc_id", keep_in=("term", qvocab)
    )
    dfreq = (
        LH.read_table_pruned_in(spark, f"{path}/df", "term", qvocab, p["df_version"])
        # fold the additive increments (vocab-sized; pruned to ~query
        # vocab by the file skip + the kernel's qterms join)
        .groupBy("term").agg(F.sum("df").cast("long").alias("df"))
    )
    return RETR.bm25_rank(
        post, dfreq, _corpus_row(spark, p), queries, k=k, k1=k1, b=b
    )


def bm25_index_rm3(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    fb_k: int = 5,
    fb_terms: int = 10,
    lam: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
    stats_version: int | None = None,
) -> DataFrame:
    """RM3 query expansion served from the STORED index (the
    pseudo-relevance-feedback rewrite every lexical serving stack grows
    next): base ``bm25_index_probe`` at depth ``fb_k`` -> feedback term
    model from the feedback documents' stored postings
    (``retrieval.rm3_weights``) -> weighted re-probe over the expanded
    vocabulary (``retrieval.bm25_rank_weighted``, the BM25 kernel the
    base probe runs at unit weights).
    Bit-identical to ``retrieval.bm25_rm3_topk`` on the corpus the index
    holds — all three stages compose the same shared kernels.

    Read path: the base probe and the re-probe are term-range-pruned
    scans (query vocab, then query vocab + <= ``fb_terms`` expansion
    terms per query — both bounded by the probe batch). The feedback
    fetch is the one DOC-keyed read over the term-clustered postings —
    a single postings scan per probe batch with a broadcast semi-join
    (the segment-delete asymmetry, same as ``delete_from_text_index``;
    its output is candidate-sized). A serving stack probing continuously
    at 100 TB should batch queries per call — the scan amortizes over
    the batch — or maintain a doc-clustered postings twin.

    Consistency: every read resolves the SAME stats row (N, avgdl, df,
    tombstones all version-pinned once at entry), so the expansion and
    the re-probe see one snapshot even under concurrent updates. The
    base ranking and the weight relation are |queries|-bounded and
    checkpointed eagerly — the corpus-sized feedback subtree runs once,
    not once per downstream reference.
    """
    p = load_text_index_stats(spark, path, stats_version)
    base = bm25_index_probe(
        spark, path, queries, k=fb_k, k1=k1, b=b,
        stats_version=stats_version,
    ).localCheckpoint(eager=True)

    post_full = TS.read_live(spark, path, "postings", p, "doc_id")
    qw = RETR.rm3_weights(
        base, post_full, queries, fb_k=fb_k, fb_terms=fb_terms, lam=lam
    ).localCheckpoint(eager=True)

    # expanded vocabulary: original + feedback terms, bounded by the
    # probe batch (|queries| x (|q| + fb_terms)) — the serving
    # collect-the-vocab idiom bm25_index_probe documents
    evocab = [r["term"] for r in qw.select("term").distinct().collect()]
    post = TS.read_live(
        spark, path, "postings", p, "doc_id", keep_in=("term", evocab)
    )
    dfreq = (
        LH.read_table_pruned_in(spark, f"{path}/df", "term", evocab, p["df_version"])
        .groupBy("term").agg(F.sum("df").cast("long").alias("df"))
    )
    return RETR.bm25_rank_weighted(
        post, dfreq, _corpus_row(spark, p), qw, k=k, k1=k1, b=b
    )


def text_index_audit(
    spark: SparkSession,
    path: str,
    stats_version: int | None = None,
    chunk_target: int = AUDIT_CHUNK_TARGET,
) -> DataFrame:
    """ONE verification row over the STORED text index — the
    ``ann_index.index_audit`` discipline applied to postings: re-hash
    the persisted (doc_id, term, tf, dl) relation and re-derive the
    aggregates, so an oracle that recomputes the tokenize from the raw
    corpus certifies that what sits on disk IS the deterministic
    inverted index (corruption, a partial build, double-counted df
    increments, or stats drift all flip a column).

    Columns: (n_docs, n_docs_tokenized, n_postings, vocab_size,
    total_dl, n_tombstones, n_df_mismatch, stats_consistent,
    postings_hash) —
    ``n_docs`` is the LIVE registry count (tombstones anti-joined,
    generation-scoped — the oracle recomputes it from the raw corpus,
    so registry drift flips the column);
    ``n_docs_tokenized`` is DERIVED from the live postings (the audit
    certifies the LIVE index);
    - n_df_mismatch: full-outer compare of the FOLDED stored df
      relation against the postings-derived document frequencies
      (0 = the additive increments reconcile exactly);
    - stats_consistent: the stored stats row equals the derived
      (n_docs, n_docs_tokenized, total_dl) triple;
    - postings_hash: two-level fold — rows group by doc_id % C with
      C = ceil(n_docs / chunk_target) (the largest collect_list is
      ~chunk_target * terms-per-doc, constant at any corpus size), each
      chunk md5-hashed over its rows in (doc_id, term) order, then one
      global md5 over the (chunk, hash) relation in chunk order. The
      hash covers (doc_id, term, tf, dl) — generation stamps are
      physical bookkeeping, not content, so the hash is stable across
      compaction and matches the oracle's from-raw tokenize. C is
      exact integer arithmetic from the stats row, mirrored verbatim in
      the SQL oracle.
    """
    p = load_text_index_stats(spark, path, stats_version)
    n_chunks = max(1, (p["n_docs"] + chunk_target - 1) // chunk_target)

    # the audit certifies the LIVE index: dead generations are logically
    # gone (physically folded at the next compact_text_index), so every
    # derivation — hash included — runs over the anti-joined relation,
    # matching an oracle that re-tokenizes the live corpus
    post = TS.read_live(spark, path, "postings", p, "doc_id")
    n_tombstones = TS.n_ids(TS.pinned(spark, path, p["tombstones_version"]), "doc_id")
    n_docs_live = TS.read_live(spark, path, "docs", p, "doc_id").count()
    per_chunk = post.groupBy(
        F.pmod(F.col("doc_id"), F.lit(n_chunks)).alias("chunk")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("doc_id").cast("long").alias("n_docs_c"),
        F.sum("tf").cast("long").alias("dl_c"),
        ordered_md5("doc_id", "term", "tf", "dl").alias("h"),
    )
    fold = per_chunk.agg(
        count_sum("n_docs_c").alias("n_docs_tokenized"),
        count_sum("n_rows").alias("n_postings"),
        count_sum("dl_c").alias("total_dl"),
        ordered_md5("chunk", "h").alias("postings_hash"),
    )
    derived_df = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("ddf")
    )
    stored_df = (
        LH.read_table(spark, f"{path}/df", p["df_version"])
        .groupBy("term").agg(F.sum("df").cast("long").alias("sdf"))
        # fully-decremented terms legitimately fold to 0 while the
        # live postings have no row at all — not a mismatch
        .filter(F.col("sdf") != 0)
    )
    df_check = (
        derived_df.join(stored_df, "term", "full_outer")
        .filter(
            ~(F.col("ddf").eqNullSafe(F.col("sdf")))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_df_mismatch"))
    )
    vocab = post.agg(
        F.count_distinct("term").cast("long").alias("vocab_size")
    )
    return (
        fold.crossJoin(vocab)
        .crossJoin(df_check)
        .select(
            F.lit(n_docs_live).cast("long").alias("n_docs"),
            "n_docs_tokenized",
            "n_postings",
            "vocab_size",
            "total_dl",
            F.lit(n_tombstones).cast("long").alias("n_tombstones"),
            "n_df_mismatch",
            (
                F.lit(bool(n_docs_live == p["n_docs"]))
                & (F.col("n_docs_tokenized") == F.lit(p["n_docs_tokenized"]))
                & (F.col("total_dl") == F.lit(p["total_dl"]))
            ).alias("stats_consistent"),
            "postings_hash",
        )
    )
