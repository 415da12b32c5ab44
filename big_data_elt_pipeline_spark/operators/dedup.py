"""Deduplication operators for training-data pipelines (beyond-reference).

Exact (hash-groupBy), MinHash+LSH (shingle→minhash→band→bucket-join→exact
Jaccard verify), SimHash, and embedding-cosine near-dup. Everything is
DataFrame-native: explode/groupBy/self-join-within-bucket — no Python UDFs,
no driver-side pair enumeration.

Scale design (the whole point of LSH here):
- Candidate generation is a self-equi-join on (band_id, band_key) — the
  O(n²) pair space never materializes; only same-bucket pairs shuffle.
- Signatures are one explode + one groupBy(doc) with k min-aggregates
  (map-side combinable).
- Exact-Jaccard verification joins shingles only for candidate pairs.

Cross-engine portability: hashes are md5-derived integers (``hash32``), so
the DuckDB oracle computes identical signatures — parity is exact, not
statistical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions.text import (
    fingerprint,
    hash32,
    tokens,
    word_shingles,
)
from big_data_elt_pipeline_spark.session import pinned_rdds, unpersist_rdds

MERSENNE_P = (1 << 61) - 1
N_PERMS = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERMS // N_BANDS
SIMHASH_BITS = 32


def minhash_perms(k: int = N_PERMS) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants for h_i(x) = (a*x + b) mod (2^61-1).

    a < 2^16 keeps a*hash32 < 2^48 — no int64 overflow in any engine.
    Generated by a fixed LCG so the SQL oracle embeds the same constants.
    """
    x = 0x5DEECE66D
    out = []
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % ((1 << 16) - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % (1 << 32)
        out.append((a, b))
    return out


PERMS = minhash_perms()


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content fingerprint; the canonical row is the min
    id (deterministic survivor).

    Skew-safe survivor selection (the r8 ``_non_survivor_windows``
    discipline, and here the aggregate is a primitive long min — pure
    HashAggregate): ``groupBy(fingerprint).agg(min(id))`` collapses a hot
    boilerplate fingerprint map-side before the shuffle, then joins back
    (broadcast when the distinct-fingerprint side is small,
    AQE-skew-splittable otherwise). The previous ``min().over(
    Window.partitionBy("fingerprint"))`` form required every occurrence
    of the hottest fingerprint inside one unsplittable task. The
    fingerprint projection is map-only and deliberately recomputed for
    the probe side (the shingle_table lesson)."""
    fp = docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
    surv = fp.groupBy("fingerprint").agg(F.min(id_col).alias("canonical_id"))
    return (
        fp.join(surv, "fingerprint")
        .withColumn("is_canonical", (F.col(id_col) == F.col("canonical_id")).cast("boolean"))
        .select(id_col, "fingerprint", "canonical_id", "is_canonical")
    )


def incremental_exact_dedup(
    index_docs: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: decide each INCOMING document against the
    existing corpus WITHOUT re-deduplicating the corpus — the operational
    form at 100 TB, where dedup runs per-ingest, not per-corpus.

    Returns one row per batch doc: (doc_id, fingerprint, status, dup_of)
    with status ``dup_of_corpus`` (fingerprint already in the index;
    ``dup_of`` = the corpus canonical id), ``dup_in_batch`` (first seen
    earlier IN this batch; ``dup_of`` = the batch's min id), or ``new``
    (``dup_of`` NULL). Survivors = batch rows with status ``new`` — append
    them (and their fingerprints) to the index and the invariant "corpus
    has unique fingerprints, earliest id wins" is maintained ingest over
    ingest.

    Scale shape: the index here is DERIVED (one fingerprint groupBy over
    ``index_docs``) because the gate feeds raw tables, but in production
    it is a STORED (fingerprint → canonical_id) table maintained across
    ingests — then the only per-ingest work is fingerprinting the batch
    (map-only) plus a join of the SMALL batch against the index, which a
    fingerprint-bucketed index turns into a shuffle of the batch side
    only. The in-batch rollup is a groupBy of the batch alone.
    """
    fp = fingerprint(F.col(text_col))
    index = (
        index_docs.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("corpus_canonical"))
    )
    b = batch.select(F.col(id_col), fp.alias("fingerprint"))
    first_in_batch = b.groupBy("fingerprint").agg(
        F.min(id_col).alias("first_in_batch")
    )
    return (
        b.join(first_in_batch, "fingerprint")
        .join(index, "fingerprint", "left")
        .select(
            id_col,
            "fingerprint",
            F.when(F.col("corpus_canonical").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col(id_col) > F.col("first_in_batch"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.when(F.col("corpus_canonical").isNotNull(), F.col("corpus_canonical"))
            .when(F.col(id_col) > F.col("first_in_batch"), F.col("first_in_batch"))
            .alias("dup_of"),
        )
    )


def shingle_table(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3) -> DataFrame:
    """(doc, shingle) pairs, distinct — the MinHash/Jaccard universe.

    ``array_distinct`` already dedups within the doc, and a doc appears
    once, so the exploded pairs are unique BY CONSTRUCTION — no trailing
    ``.distinct()``. That keeps this relation shuffle-free (scan → explode,
    fully pipelined), which matters because every dedup consumer
    (signatures, frequencies, verify) re-derives it: recompute costs one
    codegen pass, not a repeated exchange. Measured at sf0.1 (5k docs):
    the old distinct-per-consumer plan ran minhash_dedup in 7.3 s, this
    one in ~2 s; persisting instead of recomputing was SLOWER (9.1 s) —
    the cache write + AQE-opaque InMemoryRelation cost more than the
    recompute it saved.

    When the scan under-parallelizes the session (a single small parquet
    file → one task doing ALL the shingling), rebalance first: the doc
    rows are tiny relative to the n-gram expansion, so the extra exchange
    is ~free and the compute spreads across every core. At cluster scale
    the input arrives pre-split into thousands of tasks and the condition
    never triggers — no 100 TB shuffle is ever introduced.
    """
    sc = docs.sparkSession.sparkContext
    target = sc.defaultParallelism
    # inputFiles() is a metadata-only probe (no job, no .rdd conversion):
    # few backing files => the scan cannot feed every core
    if len(docs.inputFiles()) < max(target // 2, 2):
        docs = docs.repartition(target)
    return docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), n))).alias("shingle"),
    )


def shingle_sizes(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, nsh): per-doc distinct-shingle count as a PURE MAP expression —
    the cheap twin of ``shingle_table`` for consumers that need only
    sizes. ``size(array_distinct(word_shingles(text)))`` equals the
    exploded relation's per-doc row count by construction, with no
    explode, no shuffle and no shingle hashing. ``jaccard_verify``
    references its sizes relation FOUR times (ratio prune + final n1/n2
    re-joins); deriving each reference from a map-only subtree instead of
    a groupBy over the exploded corpus removed four scan+explode+hash
    replays from every verify consumer (r15, guide §1.2)."""
    from big_data_elt_pipeline_spark.functions.text import word_shingles

    return docs.select(
        F.col(id_col),
        # long, as ``count`` gives: the verify's n1/n2 are declared bigint
        F.size(F.array_distinct(word_shingles(F.col(text_col), n)))
        .cast("long").alias("nsh"),
    )


def minhash_signatures(shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """k min-aggregates over permuted shingle hashes — one groupBy(doc).

    Also emits ``nsh`` (the doc's shingle-set size) in the SAME aggregate:
    the exact-verify stage needs per-doc sizes, and folding the count into
    this shuffle makes the separate sizes subplan (another scan + exchange)
    unnecessary."""
    h = hash32(F.col("shingle"))
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(PERMS)
    ]
    aggs.append(F.count(F.lit(1)).alias("nsh"))
    return shingles.groupBy(id_col).agg(*aggs)


def banded_signature(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, bkey): the LSH bucket relation — self-joined for
    whole-corpus dedup, or STORED as the corpus index that per-ingest
    batches probe (``incremental_minhash_dedup``)."""
    bands = []
    for b in range(N_BANDS):
        cols = [F.col(f"mh{b * ROWS_PER_BAND + r}").cast("string") for r in range(ROWS_PER_BAND)]
        bands.append(F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("_", *cols)).alias("bkey")))
    return signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Band the signature and self-join per (band, band_key) bucket."""
    banded = banded_signature(signatures, id_col)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, ["band", "bkey"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id1"), F.col(f"r.{id_col}").alias("id2"))
        .distinct()
    )


def jaccard_verify(pairs: DataFrame, shingles: DataFrame, id_col: str = "doc_id",
                   threshold: float = 0.5, sizes: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only.

    Size-ratio prefilter BEFORE the expensive shingle-intersection join:
    J(S1,S2) <= min(|S1|,|S2|)/max(|S1|,|S2|), so J >= t requires
    t <= n1/n2 <= 1/t. Candidates violating the ratio are dropped using
    only the (already computed) per-doc shingle counts — free selectivity
    that shrinks the intersection join's input at any scale. The bound is
    slacked by 1 ulp-ish epsilon so double rounding can only ADMIT an
    extra candidate (verified exactly below), never drop a true pair —
    the prefilter stays lossless.
    """
    eps = 1e-12
    if sizes is None:
        sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))
    sz1 = sizes.select(F.col(id_col).alias("id1"), F.col("nsh").alias("n1"))
    sz2 = sizes.select(F.col(id_col).alias("id2"), F.col("nsh").alias("n2"))
    # prune to a NARROW (id1, id2) relation before the intersection join so
    # the wide exploded relation neither carries the size columns nor
    # includes ratio-violating pairs; identical `sizes` subplans are
    # deduplicated by Spark's ReusedExchange
    pruned = (
        pairs.join(sz1, "id1").join(sz2, "id2")
        .filter(
            (F.col("n1").cast("double") >= F.lit(threshold - eps) * F.col("n2"))
            & (F.col("n2").cast("double") >= F.lit(threshold - eps) * F.col("n1"))
        )
        .select("id1", "id2")
    )
    s1 = shingles.select(F.col(id_col).alias("id1"), "shingle")
    s2 = shingles.select(F.col(id_col).alias("id2"), "shingle")
    inter = (
        pruned.join(s1, "id1").join(s2, ["id2", "shingle"])
        .groupBy("id1", "id2").agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sz1, "id1").join(sz2, "id2")
        .withColumn("jaccard", F.col("inter").cast("double") / (F.col("n1") + F.col("n2") - F.col("inter")).cast("double"))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id1", "id2", "n1", "n2", "inter", "jaccard")
    )


def minhash_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Full MinHash→LSH→exact-verify near-dup pipeline."""
    sh = shingle_table(docs, id_col, text_col, n)
    sig = minhash_signatures(sh, id_col)
    cand = lsh_candidate_pairs(sig, id_col)
    # map-side sizes, NOT sig.select(nsh): verify references its sizes
    # relation four times, and each reference replayed the full signature
    # aggregate (the before-plan showed zero exchange reuse across them)
    return jaccard_verify(cand, sh, id_col, threshold,
                          sizes=shingle_sizes(docs, id_col, text_col, n))


def ngram_jaccard_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard near-dup via PREFIX FILTERING (ppjoin-style).

    MinHash trades recall for speed; this operator is LOSSLESS: order each
    document's shingles globally-rarest-first, keep only the first
    ``|S| - ceil(t*|S|) + 1`` as its prefix, and generate candidates by a
    self-equi-join on prefix shingles. Any pair with Jaccard >= t must
    share a prefix shingle (pigeonhole on the overlap bound), so verifying
    candidates reproduces the full O(n^2) scan's result exactly without
    materializing it. Rarest-first ordering keeps the join fan-out small —
    hot (frequent) shingles fall outside most prefixes.

    At 100 TB: one groupBy(shingle) for document frequencies, one windowed
    rank per doc, one equi-join on prefix shingles (candidates only), then
    the candidate-only Jaccard verify — same shuffle discipline as the
    MinHash path, but with an exactness guarantee.

    Shingles are reduced to a portable 60-bit hash at the source: every
    downstream join/groupBy/sort then moves longs instead of ~20-byte
    strings — measured 1.5x faster at the x16 scaled corpus (50.5 s ->
    32.8 s min-of-2), identical pair output. The result is therefore
    "exact up to 60-bit hash collisions", not unconditionally exact: the
    birthday bound n^2/2^61 on ANY colliding shingle pair is ~2e-5 at
    10^7 distinct shingles but grows to ~4e-3 at 10^8 — pick a wider hash
    if that matters at your corpus size. The DuckDB oracle hashes
    identically, so engine parity is bit-exact regardless of collisions.
    """
    sh = shingle_table(docs, id_col, text_col, n)
    from big_data_elt_pipeline_spark.functions.text import hash60

    sh = sh.select(id_col, hash60(F.col("shingle")).alias("shingle"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy(id_col)
    worder = Window.partitionBy(id_col).orderBy("df", "shingle")
    ranked = (
        sh.join(freq, "shingle")
        .withColumn("nsh", F.count(F.lit(1)).over(wdoc))
        .withColumn("rn", F.row_number().over(worder))
    )
    pref = ranked.filter(
        F.col("rn") <= F.col("nsh") - F.ceil(F.lit(threshold) * F.col("nsh")) + F.lit(1)
    )
    p1 = pref.select(
        F.col(id_col).alias("id1"), "shingle",
        F.col("nsh").alias("n1"), F.col("rn").alias("i1"),
    )
    p2 = pref.select(
        F.col(id_col).alias("id2"), "shingle",
        F.col("nsh").alias("n2"), F.col("rn").alias("i2"),
    )
    # POSITIONAL ppjoin filter, applied per shared-prefix-shingle row
    # BEFORE the distinct: J >= t needs overlap I >= t/(1+t)*(n1+n2), and
    # a witness shingle at ranks (i1, i2) bounds the remaining overlap by
    # min(n1-i1, n2-i2)+1 (both docs are scanned in the SAME global
    # rarest-first order, so everything matching beyond the witness lies
    # in the suffixes). The 1e-9 slack makes double rounding admit-only —
    # the filter stays lossless (equality with brute force asserted in
    # tests). Measured at the x16 scaled corpus: candidate pairs fall
    # 6.5M -> 2.0M (3.2x), which is what the exact-verify join scales
    # with at 100 TB.
    eps = 1e-9
    alpha = (F.lit(threshold / (1.0 + threshold)) * (F.col("n1") + F.col("n2"))) - F.lit(eps)
    cand = (
        p1.join(p2, "shingle")
        .filter(
            (F.col("id1") < F.col("id2"))
            & (F.least(F.col("n1") - F.col("i1"), F.col("n2") - F.col("i2")) + 1
               >= F.ceil(alpha))
        )
        .select("id1", "id2")
        .distinct()
    )
    return jaccard_verify(cand, sh, id_col, threshold,
                          sizes=shingle_sizes(docs, id_col, text_col, n))


def incremental_minhash_dedup(
    index_docs: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental NEAR-dup: decide each incoming document against the
    existing corpus's LSH index without re-deduplicating the corpus — the
    MinHash twin of ``incremental_exact_dedup`` and the operational form
    at 100 TB (dedup runs per-ingest; the corpus index is stored state).

    Returns one row per batch doc: (doc_id, status, dup_of, jaccard) with
    status ``near_dup_of_corpus`` (some index doc verifies at >= threshold;
    ``dup_of`` = the BEST match — highest exact Jaccard, ties to the
    smallest index id — a deterministic assignment) or ``new``.

    Scale shape: the index side here is derived (the gate feeds raw
    tables) but in production ``banded_signature(sig)`` and the shingle
    relation are STORED, bucketed by (band, bkey) and id respectively —
    then per-ingest work is the batch's own shingling/signature (map +
    one small groupBy), a probe join of the SMALL batch band table
    against the index buckets (batch-side-only shuffle), and exact
    verification restricted to candidate pairs. Nothing rescans the
    corpus text except the candidate shingle lookups.
    """
    eps = 1e-12
    sh_i = shingle_table(index_docs, id_col, text_col, n)
    sig_i = minhash_signatures(sh_i, id_col)
    sh_b = shingle_table(batch, id_col, text_col, n)
    sig_b = minhash_signatures(sh_b, id_col)
    cand = (
        banded_signature(sig_b, id_col)
        .select(F.col(id_col).alias("id_b"), "band", "bkey")
        .join(
            banded_signature(sig_i, id_col)
            .select(F.col(id_col).alias("id_i"), "band", "bkey"),
            ["band", "bkey"],
        )
        .select("id_b", "id_i")
        .distinct()
    )
    szb = sig_b.select(F.col(id_col).alias("id_b"), F.col("nsh").alias("n_b"))
    szi = sig_i.select(F.col(id_col).alias("id_i"), F.col("nsh").alias("n_i"))
    # size-ratio prune (lossless, admit-only epsilon — see jaccard_verify)
    pruned = (
        cand.join(szb, "id_b").join(szi, "id_i")
        .filter(
            (F.col("n_b").cast("double") >= F.lit(threshold - eps) * F.col("n_i"))
            & (F.col("n_i").cast("double") >= F.lit(threshold - eps) * F.col("n_b"))
        )
        .select("id_b", "id_i")
    )
    s_b = sh_b.select(F.col(id_col).alias("id_b"), "shingle")
    s_i = sh_i.select(F.col(id_col).alias("id_i"), "shingle")
    inter = (
        pruned.join(s_b, "id_b").join(s_i, ["id_i", "shingle"])
        .groupBy("id_b", "id_i").agg(F.count(F.lit(1)).alias("inter"))
    )
    matches = (
        inter.join(szb, "id_b").join(szi, "id_i")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_b") + F.col("n_i") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )
    w = Window.partitionBy("id_b").orderBy(F.desc("jaccard"), F.asc("id_i"))
    best = (
        matches.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_b").alias(id_col), F.col("id_i").alias("dup_of"), "jaccard"
        )
    )
    return (
        batch.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            F.when(F.col("dup_of").isNotNull(), F.lit("near_dup_of_corpus"))
            .otherwise(F.lit("new"))
            .alias("status"),
            "dup_of",
            "jaccard",
        )
    )


def neardup_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Resolve near-dup PAIRS into connected-component CLUSTERS:
    (doc_id, cluster_id, cluster_size, is_canonical) with cluster_id = the
    component's minimum doc id (deterministic canonical survivor).

    Pair detection (MinHash/SimHash/ppjoin) answers "are these two docs
    near-dups?"; corpus curation needs the transitive answer — A~B and B~C
    must collapse to ONE kept document, which is exactly connected
    components over the pair graph.

    Algorithm: min-label propagation with POINTER JUMPING (the hash-to-min
    idea of Rastogi et al. 2013, "Finding Connected Components in
    Map-Reduce in Logarithmic Rounds"). Each round every node takes the min
    of (its label, its neighbors' labels, its label's label); the extra
    label->label hop doubles the distance information travels, so rounds
    are O(log diameter) rather than O(diameter) — a 64-node path converges
    in ~6 rounds, not 64.

    Scale shape (the loop is the point at 100 TB):
    - the per-round state is the NARROW (node, label) relation — two
      equi-joins plus one groupBy(node) per round, nothing wider ever
      shuffles; the edge list is computed once and reused;
    - ``localCheckpoint(eager=True)`` after every round both caches the
      new labels and TRUNCATES LINEAGE — without it the plan doubles each
      round and the job dies on plan explosion long before data size
      matters (on a multi-node cluster prefer reliable ``checkpoint()``
      with a checkpoint dir so a lost executor cannot drop state);
    - convergence is detected by the label-sum fixpoint: labels only ever
      decrease, so the (exact, decimal — no int64 overflow at any corpus
      size) sum strictly decreases until the assignment is stable. One
      tiny agg action per round, no changed-row join.

    Near-dup components are near-cliques (tiny diameter), so in practice
    this runs 2-3 rounds; ``max_iter`` is a guard against a pathological
    graph, and exceeding it raises rather than returning a half-converged
    assignment.
    """
    # localCheckpoint pins MEMORY_AND_DISK blocks that NOTHING frees
    # automatically (DataFrame.unpersist does not reach checkpoint RDDs);
    # a long-lived session running this repeatedly accumulates every
    # round's blocks — measured as a 2x slowdown of unrelated later jobs
    # in the r6 bench session. Superseded rounds are therefore freed
    # explicitly through the persistent-RDD registry; only the FINAL
    # labels checkpoint (which the returned lazy plan consumes) survives.
    # ASSUMPTION: the registry set-difference attributes every RDD pinned
    # between two snapshots to THIS loop, which holds only when no
    # concurrent job in the same session persists RDDs in that interval —
    # correctness is unaffected either way, but a sibling job's cache
    # would be silently evicted. Run this operator from a single driver
    # thread (the engine's callers all do).
    spark = pairs.sparkSession
    seen = pinned_rdds(spark)
    edges = (
        pairs.select(F.col("id1").alias("u"), F.col("id2").alias("v"))
        .union(pairs.select(F.col("id2").alias("u"), F.col("id1").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges_ids = pinned_rdds(spark) - seen
    seen |= edges_ids
    # seed labels with min(node, min(neighbors)) instead of node: same
    # shuffle as the plain distinct() (groupBy on u), but near-clique
    # components — the common near-dup shape, where the min node is
    # adjacent to everyone — start already-converged and exit after the
    # single confirmation round, instead of spending one round propagating
    # and one confirming (r5 verdict #4)
    labels = (
        edges.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("_min_nbr"))
        .select("node", F.least("node", "_min_nbr").alias("label"))
        .localCheckpoint(eager=True)
    )
    label_ids = pinned_rdds(spark) - seen
    seen |= label_ids
    exact_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(exact_sum).first()[0]
    for _ in range(max_iter):
        nbr = edges.join(labels, edges["u"] == labels["node"]).select(
            F.col("v").alias("node"), "label"
        )
        jump = (
            labels.alias("a")
            .join(labels.alias("b"), F.col("a.label") == F.col("b.node"))
            .select(F.col("a.node").alias("node"), F.col("b.label").alias("label"))
        )
        labels = (
            labels.union(nbr).union(jump)
            .groupBy("node").agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        new_ids = pinned_rdds(spark) - seen
        seen |= new_ids
        unpersist_rdds(spark, label_ids)  # superseded round: blocks no longer reachable
        label_ids = new_ids
        new_sum = labels.agg(exact_sum).first()[0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(f"neardup_clusters did not converge in {max_iter} rounds")
    unpersist_rdds(spark, edges_ids)  # the returned plan reads only the final labels
    out = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    # skew-safe size annotation (r8): a mega-cluster (boilerplate
    # duplicated millions of times) is a hot cluster_id — the count
    # window serialized it into one task; the groupBy collapses it
    # map-side and the join back is AQE-skew-splittable. `out` reads the
    # final labels CHECKPOINT, so the two consumers share materialized
    # input, not a recompute.
    sizes = out.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        out.join(sizes, "cluster_id")
        .withColumn("is_canonical", (F.col("doc_id") == F.col("cluster_id")).cast("boolean"))
        .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
    )


WINNOW_W = 4
_POS_RADIX = 1 << 20  # > max token positions per doc; packs (hash, pos) in one long


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        k: int = 3, w: int = WINNOW_W) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every positional k-gram, slide a w-window over
    the hash sequence, record the window minimum (rightmost on ties) —
    the selected set is a position-robust fingerprint with the guarantee
    that any shared substring of length >= k + w - 1 yields at least one
    SHARED fingerprint between two documents.

    Engine-portable determinism trick: the (hash asc, pos desc) selection
    order is packed into ONE integer key ``hash * 2^20 + (2^20 - 1 - pos)``
    so the window ``min`` implements rightmost-min identically in Spark
    and any SQL oracle — no struct-ordering semantics to match.

    Scale shape: posexplode (map) -> two windows partitioned by doc
    (per-doc count + sliding min; one shuffle on doc id) -> distinct.
    Fingerprint sets are ~|shingles| / ((w+1)/2) — the density guarantee —
    so downstream joins touch a fraction of the shingle volume."""
    pos_top = F.lit(_POS_RADIX - 1)
    sh = docs.select(
        F.col(id_col),
        F.posexplode(word_shingles(F.col(text_col), k)).alias("pos", "shingle"),
    )
    keyed = sh.select(
        id_col,
        "pos",
        (hash32(F.col("shingle")) * F.lit(_POS_RADIX) + (pos_top - F.col("pos"))).alias("ck"),
    )
    wcnt = Window.partitionBy(id_col)
    wsel = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    return (
        keyed.withColumn("m", F.count(F.lit(1)).over(wcnt))
        .withColumn("c", F.min("ck").over(wsel))
        # full windows only (start positions 0..m-w); short docs keep their
        # single all-covering window at start 0
        .filter(F.col("pos") <= F.greatest(F.col("m") - F.lit(w), F.lit(0)))
        .select(F.col(id_col), F.floor(F.col("c") / F.lit(_POS_RADIX)).cast("long").alias("fhash"))
        .distinct()
    )


def winnow_neardup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                   k: int = 3, w: int = WINNOW_W, threshold: float = 0.4) -> DataFrame:
    """Near-dup pairs by winnowed-fingerprint Jaccard: candidates share at
    least one selected fingerprint (an equi-join on the WINNOWED relation
    — a fraction of the full shingle join), scored on the fingerprint
    sets. Complements MinHash (probabilistic recall) and ppjoin (exact
    Jaccard): winnowing trades a bounded score approximation for the
    substring-match guarantee and a far smaller join input."""
    fp = winnow_fingerprints(docs, id_col, text_col, k, w)
    sizes = fp.groupBy(id_col).agg(F.count(F.lit(1)).alias("nf"))
    l = fp.select(F.col(id_col).alias("id1"), "fhash")
    r = fp.select(F.col(id_col).alias("id2"), "fhash")
    overlap = (
        l.join(r, "fhash")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    s1 = sizes.select(F.col(id_col).alias("id1"), F.col("nf").alias("f1"))
    s2 = sizes.select(F.col(id_col).alias("id2"), F.col("nf").alias("f2"))
    return (
        overlap.join(s1, "id1").join(s2, "id2")
        .withColumn(
            "score",
            F.col("overlap").cast("double")
            / (F.col("f1") + F.col("f2") - F.col("overlap")).cast("double"),
        )
        .filter(F.col("score") >= F.lit(threshold))
        .select("id1", "id2", "f1", "f2", "overlap", "score")
    )


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """32-bit SimHash over distinct tokens: bit j of the signature is the
    sign of Σ_tokens (±1 by token-hash bit j). One explode + one groupBy."""
    tok = docs.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
    )
    h = hash32(F.col("tok"))
    aggs = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"s{j}")
        for j in range(SIMHASH_BITS)
    ]
    per_bit = tok.groupBy(id_col).agg(*aggs)
    sim = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
        sim = bit if sim is None else sim + bit
    return per_bit.select(F.col(id_col), sim.alias("simhash"))


def simhash_neardup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                    max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: block on each 16-bit half (a pair within
    hamming ≤ 1 always agrees on one half; wider radii are caught with high
    probability — standard banding trade-off), verify with bit_count(xor).
    """
    sig = simhash(docs, id_col, text_col)
    halves = sig.select(
        F.col(id_col), "simhash",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("half"), (F.col("simhash") % F.lit(1 << 16)).alias("hkey")),
                F.struct(F.lit(1).alias("half"), F.floor(F.col("simhash") / F.lit(1 << 16)).alias("hkey")),
            )
        ).alias("b"),
    ).select(id_col, "simhash", F.col("b.half").alias("half"), F.col("b.hkey").alias("hkey"))
    l, r = halves.alias("l"), halves.alias("r")
    return (
        l.join(r, ["half", "hkey"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id1"),
            F.col(f"r.{id_col}").alias("id2"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= F.lit(max_hamming))
    )


BLOCK_TOKENS = 32


def block_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                block_tokens: int = BLOCK_TOKENS) -> DataFrame:
    """Paragraph-level exact dedup (the C4/CCNet line-dedup idea: remove
    every repeated PARAGRAPH corpus-wide, keeping one canonical copy),
    adapted to this corpus — the synthetic documents carry no newlines, so
    a "paragraph" is a tumbling ``block_tokens``-token block. Returns the
    per-document audit (doc_id, n_blocks, kept_blocks, retained_ratio);
    the survivor for each distinct block content is the minimum
    (doc_id, block_idx), so results are deterministic.

    Scale shape: block formation is MAP-ONLY — ``split`` + higher-order
    ``transform`` over a ``sequence`` of block indices + ``slice`` build
    every (block_idx, md5) pair inside the row, no explode-then-groupBy
    re-assembly shuffle (the naive posexplode plan shuffles every TOKEN;
    this shuffles every BLOCK HASH, ~block_tokens times less).

    Survivor selection is SKEW-HARDENED (r7 verdict #1): the survivor per
    hash is ``min(struct(doc_id, block_idx))`` — a groupBy aggregate whose
    map-side partial combine collapses a hot boilerplate hash to ONE row
    per input partition before anything shuffles, so no task ever
    materializes all occurrences of a hot key. The previous
    ``row_number().over(Window.partitionBy("h"))`` form computes the
    identical survivor (struct ordering == the window's (doc_id,
    block_idx) orderBy — pinned by ``tests/test_dedup_skew.py`` on a
    corpus with one hash repeated ~1e5x) but is unsplittable: a window
    partition must be sorted whole inside one task, the wrong shape for
    web-corpus boilerplate at 100 TB. Exchanges: the survivor groupBy(h)
    (partial-agg-collapsed), the per-doc block count, and the tiny
    survivor-count-per-doc rollup joined back on doc_id.
    """
    arr = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    n_blocks = F.ceil(F.size(arr) / F.lit(block_tokens)).cast("int")
    # n_blocks == 0 must yield NO blocks: sequence(0, -1) steps DOWNWARD in
    # Spark ([0, -1]), which would fabricate two phantom md5("") blocks for
    # every empty/whitespace-only doc. The when() leaves NULL for empty
    # docs and explode() drops NULL rows — matching the SQL oracle, whose
    # range(0, n) is empty for n = 0 and emits no row for such docs.
    blocks = F.when(
        n_blocks > 0,
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda k: F.struct(
                k.cast("long").alias("block_idx"),
                F.md5(F.concat_ws(" ", F.slice(arr, k * block_tokens + 1, block_tokens))
                      ).alias("h"),
            ),
        ),
    )
    exploded = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(blocks).alias("b"))
        .select("doc_id", F.col("b.block_idx").alias("block_idx"), F.col("b.h").alias("h"))
    )
    surv = exploded.groupBy("h").agg(
        F.min(F.struct("doc_id", "block_idx")).alias("s")
    )
    kept = surv.groupBy(F.col("s.doc_id").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("kept_blocks")
    )
    # exploded is deliberately recomputed for the n_blocks branch (it is
    # map-only from the scan — the shingle_table recompute lesson)
    return (
        exploded.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_blocks"))
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_blocks",
            F.coalesce(F.col("kept_blocks"), F.lit(0).cast("long")).alias(
                "kept_blocks"
            ),
        )
        .withColumn(
            "retained_ratio", F.col("kept_blocks") / F.col("n_blocks")
        )
        .orderBy("doc_id")
    )


SUBSTR_WINDOW_TOKENS = 16


def substring_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                    window_tokens: int = SUBSTR_WINDOW_TOKENS,
                    stride: int = 1) -> DataFrame:
    """EXACT SUBSTRING dedup at arbitrary offsets (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" class):
    find every maximal token span that repeats anywhere in the corpus —
    including inside the SAME document — and report it as a removable
    span. ``block_dedup`` only removes repeats aligned to a fixed tumbling
    grid; this slides a ``window_tokens``-token window at ``stride`` so
    repeats at ANY offset are caught.

    Semantics: every window (offset multiple of ``stride``, length
    ``window_tokens``) is keyed by its content hash; the corpus-wide
    FIRST occurrence in (doc_id, offset) order is the survivor, every
    later occurrence is a repeated window; per doc, runs of repeated
    windows at consecutive strides merge (gaps-and-islands) into maximal
    repeated spans ``[span_start, span_end)`` in token coordinates.

    Exactness guarantee (the property test): with ``stride = 1`` (the
    default, used by the gated query) ANY substring of >= window_tokens
    tokens repeated across or within documents is covered by a reported
    span — every one of its windows repeats, so the island merge returns
    the full span. With ``stride = s > 1`` the guarantee weakens to
    substrings of >= window_tokens + s - 1 tokens whose two copies start
    at offsets congruent mod s (misaligned copies can straddle the grid);
    that trade is the standard cost of sampling the window grid, and why
    content-defined selection (``winnow_fingerprints``) exists alongside.

    Scale shape: window formation is MAP-ONLY inside the row (transform
    over a sequence of offsets + slice — the block_dedup idiom; nothing
    shuffles per token). Exchanges: (1) skew-hardened survivor selection
    (``_non_survivor_windows``) — a groupBy(h) min-struct aggregate whose
    map-side partial combine collapses hot boilerplate hashes before the
    shuffle, then a join back on h restricted to duplicated hashes only
    (broadcast when the dup set is small, AQE-skew-splittable SMJ
    otherwise) — replacing the r7 ``row_number`` window that serialized
    every occurrence of a hot hash into one unsplittable task; (2) the
    island window partitioned by doc_id over REPEATED windows only (the
    dup fraction of the corpus); the final groupBy (doc_id, grp) reuses
    that partitioning (HashPartitioning(doc_id) satisfies the clustered
    distribution on the superset key), so no third exchange. Nothing is
    quadratic and nothing returns to the driver.
    """
    if stride < 1:
        raise ValueError("stride must be >= 1")
    exploded = window_table(docs, id_col, text_col, window_tokens, stride)
    return _merge_spans(_non_survivor_windows(exploded), window_tokens, stride)


def _non_survivor_windows(wins: DataFrame) -> DataFrame:
    """(doc_id, off) of every window occurrence EXCEPT the corpus-wide
    survivor (the first in (doc_id, off) order) of its content hash —
    the SKEW-HARDENED survivor selection (r7 verdict #1).

    Form: ``groupBy(h).agg(min(struct(doc_id, off)), count)`` — Spark's
    struct ordering is lexicographic by field, so the min struct IS the
    (doc_id, off)-first occurrence — then a join back on h restricted to
    hashes with count > 1 (unique hashes, the bulk of a real corpus,
    never re-shuffle; Catalyst broadcasts the dup-hash side when small,
    and a hot hash in a sort-merge join is AQE-skew-splittable). The
    map-side partial aggregate collapses a boilerplate hash repeated 1e5x
    to one row per input partition, where the previous
    ``row_number().over(Window.partitionBy("h"))`` form sorted ALL
    occurrences of the hottest hash inside one unsplittable task
    (tests/test_dedup_skew.py pins the two forms equal)."""
    surv = wins.groupBy("h").agg(
        F.min(F.struct("doc_id", "off")).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )
    return (
        wins.join(surv.filter(F.col("c") > 1).select("h", "s"), "h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("s.doc_id"))
                & (F.col("off") == F.col("s.off"))
            )
        )
        .select("doc_id", "off")
    )


def window_table(docs: DataFrame, id_col: str, text_col: str,
                 window_tokens: int, stride: int) -> DataFrame:
    """(doc_id, off, h): every sliding window's offset + content hash.
    Map-only inside the row (transform over a sequence of offsets +
    slice — the block_dedup idiom). Windows are keyed by the portable
    60-bit hash (the ngram lesson: downstream shuffles move longs, not
    32-byte md5 strings; "exact up to 60-bit collisions", and the SQL
    oracle hashes identically so parity is bit-exact regardless).
    Docs shorter than the window emit NOTHING — the when() guard matters
    because sequence(0, negative) steps DOWNWARD in Spark and would
    fabricate phantom windows."""
    from big_data_elt_pipeline_spark.functions.text import hash60

    arr = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    n = F.size(arr)
    wins = F.when(
        n >= window_tokens,
        F.transform(
            F.sequence(F.lit(0), n - F.lit(window_tokens), F.lit(stride)),
            lambda o: F.struct(
                o.cast("long").alias("off"),
                hash60(F.concat_ws(" ", F.slice(arr, o + 1, window_tokens))
                       ).alias("h"),
            ),
        ),
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(wins).alias("w"))
        .select("doc_id", F.col("w.off").alias("off"), F.col("w.h").alias("h"))
    )


def _merge_spans(rep: DataFrame, window_tokens: int, stride: int) -> DataFrame:
    """Gaps-and-islands merge of repeated windows (doc_id, off) into
    maximal spans. The island window partitions by doc_id; the groupBy on
    (doc_id, grp) reuses that partitioning (HashPartitioning(doc_id)
    satisfies the clustered distribution on the superset key) — no extra
    exchange."""
    wdoc = Window.partitionBy("doc_id").orderBy("off")
    isl = rep.withColumn(
        "grp", F.col("off") - F.lit(stride) * F.row_number().over(wdoc)
    )
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("off").alias("span_start"),
            (F.max("off") + F.lit(window_tokens)).alias("span_end"),
        )
        .select(
            "doc_id", "span_start", "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
        .orderBy("doc_id", "span_start")
    )


def incremental_substring_dedup(
    index_docs: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = SUBSTR_WINDOW_TOKENS,
    stride: int = 1,
) -> DataFrame:
    """Incremental EXACT-SUBSTRING dedup: find each INCOMING document's
    repeated spans against the existing corpus WITHOUT re-deduplicating
    the corpus — the per-ingest operational form at 100 TB (the substring
    twin of ``incremental_exact_dedup`` / ``incremental_minhash_dedup``).

    A batch window is repeated iff its content appears anywhere in the
    CORPUS, or earlier in the batch itself (first (doc_id, offset) within
    the batch survives); repeated-window runs merge to maximal spans
    exactly as in ``substring_dedup``. Returns spans for BATCH docs only
    — the corpus is never rescanned for its own repeats.

    Scale shape: the corpus side reduces to its DISTINCT window-hash set
    — in production a STORED index bucketed by hash, maintained
    append-only across ingests (new batch survivors' windows append), so
    the per-ingest work is the batch's own map-only window formation, a
    semi-join probe of the SMALL batch side against the index buckets
    (batch-side-only shuffle), one within-batch survivor window, and the
    island merge over the batch's repeated windows. Nothing touches the
    corpus text.
    """
    if stride < 1:
        raise ValueError("stride must be >= 1")
    iw = window_table(index_docs, id_col, text_col, window_tokens, stride)
    bw = window_table(batch, id_col, text_col, window_tokens, stride)
    corpus_hit = bw.join(iw.select("h"), "h", "left_semi").select("doc_id", "off")
    # within-batch survivor selection: same skew-hardened min-struct form
    # as the full-corpus operator (hot boilerplate repeats inside a batch
    # too)
    batch_later = _non_survivor_windows(bw)
    rep = corpus_hit.union(batch_later).distinct()
    return _merge_spans(rep, window_tokens, stride)


def remove_repeated_spans(docs: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          window_tokens: int = SUBSTR_WINDOW_TOKENS,
                          stride: int = 1) -> DataFrame:
    """Apply ``substring_dedup``: MATERIALIZE the cleaned corpus — every
    repeated span (non-survivor occurrences) cut from its document's
    token stream. Returns one row per doc: (doc_id, n_tokens,
    kept_tokens, removed_tokens, cleaned_fp, cleaned) — the audit
    counters, the md5 fingerprint, and the cleaned text itself (what a
    Lee et al. 2022 pipeline actually trains on: detect AND remove).

    Scale shape: the span relation is per-doc tiny (spans per doc, not
    tokens), collected to an ARRAY by one groupBy(doc_id) and joined back
    on doc_id — both sides shuffle on the same key once; token removal is
    then MAP-ONLY array math inside the row (positional filter against
    the span array via the two-arg filter lambda; span arrays are
    unordered — coverage testing is order-insensitive). Docs with no
    spans take the anti-join branch untouched; nothing is quadratic and
    no text returns to the driver.
    """
    spans = substring_dedup(docs, id_col, text_col, window_tokens, stride)
    return _apply_spans(docs, spans, id_col, text_col)


def remove_repeated_spans_incremental(
    index_docs: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = SUBSTR_WINDOW_TOKENS,
    stride: int = 1,
) -> DataFrame:
    """The per-ingest WRITE PATH (r7 verdict #5): materialize the cleaned
    BATCH against the existing corpus — every span of an incoming
    document that repeats corpus text (or earlier batch text) is cut
    before the batch lands, so the stored corpus stays
    substring-deduplicated under continuous ingest. Composes
    ``incremental_substring_dedup`` (spans for batch docs only; the
    corpus is probed via its window-hash index, never rescanned) with the
    same positional span filter ``remove_repeated_spans`` uses; output
    schema and audit semantics are identical — one row per BATCH doc.

    Scale shape: inherits both parents' — the corpus side reduces to the
    stored distinct window-hash index, batch-side-only shuffles
    throughout, then the map-only array cut. Nothing touches corpus text.
    """
    spans = incremental_substring_dedup(
        index_docs, batch, id_col, text_col, window_tokens, stride
    )
    return _apply_spans(batch, spans, id_col, text_col)


def _apply_spans(docs: DataFrame, spans: DataFrame,
                 id_col: str, text_col: str) -> DataFrame:
    """Shared span-application kernel: cut every (span_start, span_end)
    token range out of its document and emit the per-doc audit (plan
    notes in ``remove_repeated_spans``)."""
    span_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    arr = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    base = docs.select(F.col(id_col).alias("doc_id"), arr.alias("lst"))
    covered = lambda i: F.exists(  # noqa: E731
        F.col("spans"),
        lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
    )
    with_spans = (
        base.join(span_arr, "doc_id")
        .select(
            "doc_id", "lst",
            F.filter("lst", lambda x, i: ~covered(i.cast("long"))).alias("kept"),
        )
    )
    no_spans = base.join(span_arr, "doc_id", "left_anti").select(
        "doc_id", "lst", F.col("lst").alias("kept")
    )
    return (
        with_spans.unionByName(no_spans)
        .select(
            "doc_id",
            F.size("lst").cast("long").alias("n_tokens"),
            F.size("kept").cast("long").alias("kept_tokens"),
            (F.size("lst") - F.size("kept")).cast("long").alias("removed_tokens"),
            F.md5(F.concat_ws(" ", F.col("kept"))).alias("cleaned_fp"),
            F.concat_ws(" ", F.col("kept")).alias("cleaned"),
        )
        .orderBy("doc_id")
    )


def minhash_recall_eval(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """ONE summary row — (n_truth, n_candidates, n_hit, n_missed,
    n_spurious, recall): measured recall of the MinHash+LSH candidate
    generator against the LOSSLESS prefix-filtered exact-Jaccard pair set
    at the same threshold — the eval that justifies (or indicts) the LSH
    band/row configuration before anyone trusts it at 100 TB.

    Both sides verify candidates with the EXACT Jaccard, so MinHash's
    found pairs are a subset of the truth up to 60-bit shingle-hash
    collisions (the truth side hashes shingles; collisions can only ADD
    truth pairs): precision is 1.0 by construction, the interesting
    number is recall, and ``n_spurious`` (MinHash-only pairs) is pinned
    ~0 as the subset law. recall = n_hit / n_truth, one exact integer
    division.

    Scale shape: the union of both parents' plans (each already
    candidate-bounded — LSH bands / prefix filter) plus one full-outer
    join on the pair key and a single global count row. (Measured dead
    end, r15: eagerly checkpointing the shared exploded (doc, shingle)
    relation and handing it to both parents REGRESSED this query 9.3 s ->
    21 s — serializing ~2M exploded string rows into block storage costs
    more than every recompute it saves, the ``shingle_table`` recompute
    lesson again at 7-consumer fan-out. The effective fix was making the
    verify sizes map-side — see ``shingle_sizes``.)"""
    truth = ngram_jaccard_dedup(docs, id_col, text_col, threshold=threshold).select(
        "id1", "id2", F.lit(1).alias("t")
    )
    cand = minhash_dedup(docs, id_col, text_col, threshold=threshold).select(
        "id1", "id2", F.lit(1).alias("m")
    )
    j = truth.join(cand, ["id1", "id2"], "full_outer")
    return j.agg(
        F.sum(F.coalesce("t", F.lit(0))).cast("long").alias("n_truth"),
        F.sum(F.coalesce("m", F.lit(0))).cast("long").alias("n_candidates"),
        F.sum(
            (F.col("t").isNotNull() & F.col("m").isNotNull()).cast("long")
        ).cast("long").alias("n_hit"),
        F.sum(
            (F.col("t").isNotNull() & F.col("m").isNull()).cast("long")
        ).cast("long").alias("n_missed"),
        F.sum(
            (F.col("t").isNull() & F.col("m").isNotNull()).cast("long")
        ).cast("long").alias("n_spurious"),
        # try_divide: a corpus with zero truth pairs yields recall = NULL in
        # BOTH engines (raw 0/0 would be NaN in Spark while DuckDB's answer
        # depends on its ieee_floating_point_ops setting/version — the
        # oracle carries the matching CASE WHEN 0 guard)
        F.try_divide(
            F.sum((F.col("t").isNotNull() & F.col("m").isNotNull()).cast("long"))
            .cast("double"),
            F.nullif(F.sum(F.coalesce("t", F.lit(0))).cast("double"), F.lit(0.0)),
        ).alias("recall"),
    )


def quality_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iter: int = 25,
) -> DataFrame:
    """Quality-aware near-dup survivor selection: resolve the pair graph
    to connected components (``neardup_clusters``) and keep each cluster's
    HIGHEST-``quality_score`` member instead of the min-id canonical —
    the curation policy production corpora actually ship (min-id keeps an
    arbitrary copy; quality-keep retains the best-formatted one).

    Scale shape: membership is the narrow (doc, cluster) relation;
    quality is a map-side expression on the docs scan; the survivor
    argmax is ONE partial-aggregable groupBy(cluster) of a
    (quality, -id) struct max — no per-cluster window, nothing wider than
    (cluster_id, quality, id) ever shuffles. Ties break to the lowest
    doc id (struct max on (quality, -id) == the oracle's row_number
    ORDER BY quality DESC, doc_id ASC).

    One row per cluster: (cluster_id, survivor_id, survivor_quality,
    cluster_size, differs_from_min_id) — the last flag marks exactly the
    clusters where this policy changes the kept document vs min-id.
    """
    from big_data_elt_pipeline_spark.functions.text import quality_score

    clusters = neardup_clusters(pairs, max_iter=max_iter)
    q = docs.select(
        F.col(id_col).alias("doc_id"),
        quality_score(F.col(text_col)).alias("quality"),
    )
    mem = clusters.select("doc_id", "cluster_id").join(q, "doc_id")
    best = mem.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("quality").alias("q"), (-F.col("doc_id")).alias("negid")
            )
        ).alias("b"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return best.select(
        "cluster_id",
        (-F.col("b.negid")).alias("survivor_id"),
        F.col("b.q").alias("survivor_quality"),
        "cluster_size",
        ((-F.col("b.negid")) != F.col("cluster_id")).alias("differs_from_min_id"),
    )
