"""BM25 ranked retrieval over the documents corpus — the lexical-search
half of a training-data pipeline (near-dup finds copies; BM25 finds the
documents ABOUT something: contamination probes, topic audits, targeted
curation pulls).

Spark-first shape (all Catalyst, zero UDFs):
- tokenize = ``split(lower(text), '[^a-z]+')`` + explode — one map-only
  pass producing the (doc, term) long relation;
- term frequencies / doc lengths / document frequencies are three
  aggregations over that relation, each map-side-partial;
- corpus scalars (N, avgdl) ride a single-row broadcast join — they never
  leave the JVM (no ``.collect()`` round-trip);
- query terms are a broadcast dimension: scoring is ONE equi-join from
  the posting relation to the query terms, then a per-(query, doc)
  aggregation and a windowed top-k. At 100 TB the only big shuffle is the
  groupBy(doc_id, term) — everything downstream of the posting list is
  candidate-sized (docs sharing at least one query term).

Determinism contract: every per-term score contribution is quantized to
1e-6 and summed as DECIMAL — floating-point addition is not associative,
so an unquantized double sum would depend on partitioning; the quantized
decimal sum is EXACTLY associative, making scores bit-stable under any
cluster layout (and lining up with the DuckDB oracle, whose ``ln`` differs
from the JVM's in the last ulp — measured, see tests/test_retrieval.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-z]+"


def tokenize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term) relation: lowercase, split on non-letter runs, drop
    empties. Map-only (explode is a generator, not a shuffle)."""
    return (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT)).alias("term"),
        )
        .filter(F.col("term") != "")
    )


def bm25_rank(
    tf: DataFrame,
    dfreq: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    dl: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` BM25 ranking of unweighted queries: ``bm25_rank_weighted``
    with every distinct query term at qw = 1, so repeated query terms count
    once. Exact: ``1.000000 x round(idf * tf_factor, 6)`` is the rounded
    contribution itself, so each score is the plain BM25 decimal sum. Both
    the per-call form (``bm25_topk``) and the stored-index probe
    (``text_index.bm25_index_probe``) compose it, so the two are
    bit-identical BY CONSTRUCTION (the ``ivfpq_adc_scan`` shared-kernel
    discipline applied to text).

    ``tf``: (doc_id, term, tf[, dl]) — if ``dl`` is None the relation
    must already carry the document length (the stored index
    denormalizes it into the postings so a probe is a single pruned
    scan); otherwise ``dl``=(doc_id, dl) joins at the candidate stage,
    AFTER the query-term filter (candidate-sized, not corpus-sized).
    ``dfreq``: (term, df); ``corpus``: one row (n_docs, avgdl);
    ``queries``: (query_id, query_text).
    """
    qterms = tokenize(queries, "query_id", "query_text").distinct()
    qweights = qterms.withColumn("qw", F.lit(1.0))
    return bm25_rank_weighted(tf, dfreq, corpus, qweights, k=k, k1=k1, b=b, dl=dl)


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents per query by BM25, recomputing the corpus term
    statistics in-plan (ad-hoc form — for a serving loop that pays this
    per query batch, build the persisted index once instead:
    ``operators/text_index.build_text_index`` + ``bm25_index_probe``).

    ``docs``: (doc_id, text); ``queries``: (query_id, query_text) —
    dimension-sized (a probe set, not a second corpus). Returns
    (query_id, rank, doc_id, score) with the deterministic tie-break
    (score desc, doc_id asc).

    BM25 with the standard Robertson idf = ln(1 + (N - df + 0.5)/(df + 0.5))
    (non-negative variant); repeated query terms count once (unweighted
    query side — the common choice for short probe queries).
    """
    tokens = tokenize(docs, "doc_id", "text")
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # dl and df both derive from tf, not from the raw token relation: the
    # rollups shuffle |doc x distinct-term| rows instead of every token
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    return bm25_rank(tf, dfreq, corpus, queries, k=k, k1=k1, b=b, dl=dl)


def bm25_rank_weighted(
    tf: DataFrame,
    dfreq: DataFrame,
    corpus: DataFrame,
    qweights: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    dl: DataFrame | None = None,
) -> DataFrame:
    """The BM25 ranking kernel, with per-(query, term) WEIGHTS: ``bm25_rank``
    calls it at unit weights, and expanded queries (RM3 / relevance models
    / any soft query rewrite) pass real ones. Inputs as ``bm25_rank``
    except the query side: ``qweights`` is (query_id, term, qw) with
    ``qw`` already snapped to 6 dp. Each candidate term
    contributes the EXACT decimal product ``qw x round(idf * tf_factor,
    6)`` — DECIMAL(8,6) x DECIMAL(19,6), 12-dp, no rounding decision —
    summed as decimal and cast to double once at the end. Rounding a
    product of two 6-dp values at 6 dp would sit exactly on a half-way
    case whenever the trailing digits multiply to ...5, and the engines
    resolve double half-way cases differently (Spark rounds the binary
    expansion HALF_UP, DuckDB rounds the scaled double) — the exact
    product sidesteps the decision entirely, keeping scores bit-stable
    under any partitioning AND across engines.

    Scale shape: df/idf are restricted to the query vocabulary before
    anything touches the posting relation, and the idf table carries
    avgdl, so no second scalar join. The weight relation is |queries| x
    (query vocab + expansion budget) rows — broadcast — and everything
    downstream of the posting equi-join is candidate-sized.
    """
    qvocab = qweights.select("term").distinct()
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    tf_factor = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    contribution = (
        F.col("qw").cast("decimal(8,6)")
        * F.round(F.col("idf") * tf_factor, 6).cast("decimal(19,6)")
    )

    idf_tbl = (
        dfreq.join(F.broadcast(qvocab), "term")
        .crossJoin(F.broadcast(corpus))
        .select("term", idf.alias("idf"), "avgdl")
    )
    cand = (
        tf.join(F.broadcast(qweights), "term")
        .join(F.broadcast(idf_tbl), "term")
    )
    if dl is not None:
        cand = cand.join(dl, "doc_id")
    scored = cand.groupBy("query_id", "doc_id").agg(
        F.sum(contribution).cast("double").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )


def rm3_weights(
    base: DataFrame,
    tf: DataFrame,
    queries: DataFrame,
    fb_k: int = 5,
    fb_terms: int = 10,
    lam: float = 0.5,
    dl: DataFrame | None = None,
) -> DataFrame:
    """RM3 expanded-query weights from pseudo-relevance feedback (Lavrenko
    & Croft relevance models; the Anserini/Indri default rewrite):
    treat the top ``fb_k`` documents of a base ranking as relevant,
    estimate the feedback term mass

        m(t|R) = Σ_{d ∈ FB(q)} floor(score_d^µ * tf(t, d) / dl(d)),

    in exact integer MICRO-UNITS (score_d^µ = the 6-dp base score times
    10^6 — exact, the kernel emits 6-dp decimals; the per-posting floor
    division is exact bigint arithmetic), keep the ``fb_terms``
    strongest terms by (mass desc, term asc), and interpolate with the
    uniform original-query model — ALSO in micro-units:

        qw(t) = ( (1-λ)^µ div |Q|  +  (λ^µ * m(t)) div Σ_sel m ) / 10^6,

    λ^µ = round(λ * 10^6) computed once driver-side. Returns (query_id,
    term, qw) with qw an exact-micro-unit double (6 dp). The BM25-score
    document prior rides inside the mass (scores weight each feedback
    document; the per-query normalizer cancels in the ranking and in
    the final normalization).

    Determinism: the ENTIRE weight pipeline is integer-exact — every
    division is a bigint floor, the single float op is the final
    micro-to-double division of exact integers. No round() of a
    computed double anywhere, hence no engine-dependent half-way cases
    (the trap ``bm25_rank_weighted`` documents: e.g. ``round(0.5 * x,
    6)`` of a 6-dp ``x`` sits exactly half-way whenever x's last digit
    is odd). Bit-identical across engines and partitionings. A query
    whose base ranking is empty keeps its original terms (the feedback
    leg contributes nothing).

    ``base``: (query_id, doc_id, score, rank) — a ``bm25_rank`` output;
    ``tf``: (doc_id, term, tf[, dl]) postings (``dl`` joins separately
    when not denormalized); ``queries``: (query_id, query_text).
    """
    fb = base.filter(F.col("rank") <= fb_k).select(
        "query_id",
        "doc_id",
        (F.col("score").cast("decimal(25,6)") * F.lit(1_000_000))
        .cast("long").alias("s_micro"),
    )
    fb_post = tf.join(
        F.broadcast(fb), "doc_id"
    )
    if dl is not None:
        fb_post = fb_post.join(dl, "doc_id")
    fbw = fb_post.withColumn(
        "add_micro", F.expr("(s_micro * tf) div dl")
    ).groupBy("query_id", "term").agg(
        F.sum("add_micro").cast("long").alias("m_fb")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("m_fb"), F.asc("term"))
    fbtop = fbw.withColumn("trank", F.row_number().over(w)).filter(
        (F.col("trank") <= fb_terms) & (F.col("m_fb") > 0)
    )
    fbnorm = fbtop.groupBy("query_id").agg(
        F.sum("m_fb").cast("long").alias("ms")
    )
    lam_u = int(round(lam * 1_000_000))
    fbq = fbtop.join(F.broadcast(fbnorm), "query_id").select(
        "query_id",
        "term",
        F.expr(f"(cast({lam_u} as bigint) * m_fb) div ms").alias("w_f_u"),
    )
    qt = tokenize(queries, "query_id", "query_text").distinct()
    nq = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    origq = qt.join(F.broadcast(nq), "query_id").select(
        "query_id",
        "term",
        F.expr(f"cast({1_000_000 - lam_u} as bigint) div n_terms").alias(
            "w_o_u"
        ),
    )
    return (
        origq.join(fbq, ["query_id", "term"], "full_outer")
        .select(
            "query_id",
            "term",
            (
                (
                    F.coalesce(F.col("w_o_u"), F.lit(0).cast("long"))
                    + F.coalesce(F.col("w_f_u"), F.lit(0).cast("long"))
                ).cast("double")
                / F.lit(1_000_000.0)
            ).alias("qw"),
        )
    )


def bm25_rm3_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fb_k: int = 5,
    fb_terms: int = 10,
    lam: float = 0.5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Ad-hoc RM3 retrieval: BM25 base ranking -> ``rm3_weights`` ->
    ``bm25_rank_weighted`` re-probe, all from the raw corpus (two
    ranking passes over the same in-plan term statistics). The serving
    form over the persisted index is
    ``text_index.bm25_index_rm3`` — bit-identical by the shared-kernel
    construction. Returns (query_id, rank, doc_id, score).
    """
    tokens = tokenize(docs, "doc_id", "text")
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus = docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    base = bm25_rank(tf, dfreq, corpus, queries, k=fb_k, k1=k1, b=b, dl=dl)
    qw = rm3_weights(
        base, tf, queries, fb_k=fb_k, fb_terms=fb_terms, lam=lam, dl=dl
    )
    return bm25_rank_weighted(tf, dfreq, corpus, qw, k=k, k1=k1, b=b, dl=dl)


def rrf_fuse(
    lex: DataFrame,
    vec: DataFrame,
    k: int = 10,
    c: int = 60,
    query_id_col: str = "query_id",
    id_col: str = "doc_id",
    rank_cols: tuple[str, str] = ("lex_rank", "vec_rank"),
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists (Cormack et al. 2009):
    ``rrf = Σ 1/(c + rank)`` over the lists an id appears in, top-``k`` per
    query by (rrf desc, id asc).

    ``lex`` and ``vec`` are (query_id, id, rank) relations — e.g. BM25 and
    embedding-cosine retrieval depths. A full outer join on (query, id)
    keeps ids present in only one list (the other contributes 0); the two
    reciprocal terms are exact IEEE divisions summed in a fixed order, so
    fusion scores are bit-identical across engines.

    Scale shape: both inputs are |queries| × depth rows (bounded, tiny
    next to any corpus); the join and the top-k window both key on
    query_id — one bounded exchange end to end.
    """
    lr, vr = rank_cols
    left = lex.select(query_id_col, id_col, F.col("rank").alias(lr))
    right = vec.select(query_id_col, id_col, F.col("rank").alias(vr))
    fused = (
        left.join(right, [query_id_col, id_col], "full_outer")
        .withColumn(
            "rrf_score",
            F.coalesce(F.lit(1.0) / (F.lit(c) + F.col(lr)), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col(vr)), F.lit(0.0)),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("rrf_score"), F.asc(id_col))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, lr, vr, "rrf_score", "rank")
        .orderBy(query_id_col, "rank")
    )


# --------------------------------------------------------------------------
# Ranking quality evaluation: exact MAP / nDCG@k against deterministic
# relevance labels — the eval half of the retrieval surface (a retrieval
# stack without metrics can't be tuned).
# --------------------------------------------------------------------------

def ndcg_discounts(k: int) -> list[float]:
    """The nDCG discount table 1/log2(r+1), r = 1..k, snapped to 12 dp.
    log2 is transcendental (not IEEE-exact across engines), so the
    discounts are computed ONCE here and embedded as identical LITERALS
    in both the Spark plan and the SQL oracle — cross-engine equality by
    construction, the BM25 log-quantization idiom applied to a
    k-row constant table."""
    import math

    return [round(1.0 / math.log2(r + 1), 12) for r in range(1, k + 1)]


def idcg_prefix(k: int) -> list[float]:
    """IDCG@m for m = 1..k: exact prefix sums of the 12-dp discount
    literals (summed in DECIMAL so the table itself is exact, then
    embedded as literals in both engines)."""
    from decimal import Decimal

    acc, out = Decimal(0), []
    for d in ndcg_discounts(k):
        acc += Decimal(str(d))
        out.append(float(acc))
    return out


def ranking_eval(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """(query_id, n_rel, ap, ndcg): average precision and nDCG at ``k``
    of the BM25 ranking, against the deterministic conjunctive relevance
    label *document contains EVERY query term* (computable from the same
    token relation the ranker uses — no human labels, same idea as the
    planted-marker classifier fixtures).

    Exactness: P@r = hits/r is an exact integer division; AP terms and
    DCG discounts are 12-dp-snapped DECIMAL(25,12) sums (associative, so
    partitioning-independent); the final divisions (by min(R, k) and by
    the IDCG literal) are single correctly-rounded IEEE ops. Discount and
    IDCG tables are shared literals (``ndcg_discounts``/``idcg_prefix``).
    A query with zero relevant documents pins ap = ndcg = NULL via an
    explicit ``n_rel = 0`` guard applied BEFORE the min(R, k) clamp —
    n_rel is coalesced to 0 first, so neither engine ever evaluates
    least(NULL, k) (whose NULL-skipping is engine/version-dependent) or
    an IDCG lookup at index 0.

    Scale shape: inherits ``bm25_topk`` (the one corpus-sized shuffle is
    the posting-list groupBy); relevance is one semi-join of the distinct
    (doc, term) relation against the broadcast query terms + a
    query-bounded count — everything after ranking is |queries| * k rows.
    """
    ranked = bm25_topk(docs, queries, k=k)
    qt = tokenize(queries, "query_id", "query_text").distinct()
    nq = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    dterms = tokenize(docs, "doc_id", "text").distinct()
    rel = (
        dterms.join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("nt"))
        .join(F.broadcast(nq), "query_id")
        .filter(F.col("nt") == F.col("n_terms"))
        .select("query_id", "doc_id", F.lit(1).alias("isr"))
        # rel is |queries| x R rows but its LINEAGE holds a corpus scan
        # (the distinct doc-term relation); it is instantiated twice
        # (the ranked join + the n_rel count) — the lazy checkpoint makes
        # that one corpus scan instead of two
        .localCheckpoint(eager=False)
    )
    nrel = rel.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    disc = F.array(*[F.lit(d) for d in ndcg_discounts(k)])
    idcg = F.array(*[F.lit(v) for v in idcg_prefix(k)])
    w = (
        Window.partitionBy("query_id")
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    zero = F.lit(0).cast("decimal(25,12)")
    rr = (
        ranked.join(rel, ["query_id", "doc_id"], "left")
        .withColumn("hits", F.sum(F.coalesce("isr", F.lit(0))).over(w))
        .select(
            "query_id",
            F.when(
                F.col("isr").isNotNull(),
                F.round(
                    F.col("hits").cast("double") / F.col("rank").cast("double"), 12
                ).cast("decimal(25,12)"),
            ).otherwise(zero).alias("ap_term"),
            F.when(
                F.col("isr").isNotNull(),
                F.element_at(disc, F.col("rank")).cast("decimal(25,12)"),
            ).otherwise(zero).alias("dcg_term"),
        )
        .groupBy("query_id")
        .agg(F.sum("ap_term").alias("ap_num"), F.sum("dcg_term").alias("dcg"))
    )
    return (
        queries.select("query_id")
        .join(rr, "query_id", "left")
        .join(nrel, "query_id", "left")
        # coalesce FIRST: every downstream use sees a defined n_rel, so the
        # least()/element_at() clamps never meet a NULL (F.col("n_rel")
        # inside the same select would still bind to the raw join column)
        .withColumn("n_rel0", F.coalesce("n_rel", F.lit(0)).cast("long"))
        .select(
            "query_id",
            F.col("n_rel0").alias("n_rel"),
            F.when(
                F.col("n_rel0") > 0,
                F.try_divide(
                    F.col("ap_num").cast("double"),
                    F.least(F.col("n_rel0"), F.lit(k)).cast("double"),
                ),
            ).alias("ap"),
            F.when(
                F.col("n_rel0") > 0,
                F.try_divide(
                    F.col("dcg").cast("double"),
                    F.element_at(
                        idcg,
                        F.greatest(
                            F.least(F.col("n_rel0"), F.lit(k)), F.lit(1)
                        ).cast("int"),
                    ),
                ),
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )
