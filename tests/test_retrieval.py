"""BM25 ranked retrieval (operators/retrieval.py): ranking semantics on a
hand-checkable corpus, the quantized-decimal determinism contract, and
tie-break stability under repartitioning."""

import pytest
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.operators.retrieval import (
    bm25_rm3_topk,
    bm25_topk,
    rm3_weights,
    tokenize,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark shuffle join spark join"),       # heavy on both terms
        (2, "spark filter scan"),                    # one query term
        (3, "join join join join join join"),        # tf saturation case
        (4, "window partition order"),               # no overlap with q1
        (5, "the quick brown fox"),                  # no overlap at all
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _q(spark, qid, text):
    return spark.createDataFrame([(qid, text)], "query_id string, query_text string")


def test_tokenize_splits_on_non_letters(spark):
    df = spark.createDataFrame([(1, "Hello, World! 42 foo_bar")], "id long, t string")
    terms = [r.term for r in tokenize(df, "id", "t").collect()]
    assert terms == ["hello", "world", "foo", "bar"]


def test_bm25_ranks_overlap_above_partial(spark, corpus):
    out = bm25_topk(corpus, _q(spark, "q", "spark join"), k=5).collect()
    ids = [r.doc_id for r in out]
    # docs with no query term never appear
    assert 4 not in ids and 5 not in ids
    # doc 1 matches both terms; docs 2 and 3 match one each -> doc 1 first
    assert ids[0] == 1
    assert [r.rank for r in out] == list(range(1, len(out) + 1))


def test_bm25_tf_saturation(spark, corpus):
    """k1 bounds the tf factor: six repeats of 'join' must not outrank a
    doc matching BOTH query terms (BM25's core advantage over raw tf)."""
    out = {r.doc_id: r.score for r in bm25_topk(corpus, _q(spark, "q", "spark join"), k=5).collect()}
    assert out[1] > out[3]


def test_bm25_partitioning_invariant(spark, corpus):
    """The decimal-quantized sum is associative, so scores are bit-equal
    under any input partitioning — the determinism contract."""
    q = _q(spark, "q", "spark join scan")
    a = bm25_topk(corpus.coalesce(1), q, k=5).collect()
    b = bm25_topk(corpus.repartition(7, "doc_id"), q, k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_bm25_repeated_query_terms_count_once(spark, corpus):
    """``bm25_rank`` is the weighted kernel at qw = 1 over DISTINCT query
    terms: a repeated term counts once, the scores are the plain BM25
    sums (not scaled by the weight), and a query with no hits is empty."""
    import math

    a = bm25_topk(corpus, _q(spark, "q", "join"), k=5).collect()
    b = bm25_topk(corpus, _q(spark, "q", "join join join"), k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert bm25_topk(corpus, _q(spark, "q", "zzzunseen"), k=5).collect() == []
    # 'join' is in docs 3 (tf 6 of 6 tokens) and 1 (tf 2 of 5)
    n, df, avgdl = 5, 2, (5 + 3 + 6 + 3 + 4) / 5
    idf = round(math.log(1 + (n - df + 0.5) / (df + 0.5)), 6)

    def bm25(t, d):
        return round(idf * t * 2.2 / (t + 1.2 * (0.25 + 0.75 * d / avgdl)), 6)

    assert [r.doc_id for r in a] == [3, 1]
    assert [r.score for r in a] == pytest.approx(
        [bm25(6, 6), bm25(2, 5)], abs=2e-6
    )


# --------------------------------------------------------------------------
# RM3 pseudo-relevance feedback (r14): expansion semantics, weight
# interpolation, and the same determinism contract as the base kernel.
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def rm3_corpus(spark):
    rows = [
        (1, "spark shuffle executor spark"),   # base top hit for 'spark'
        (2, "spark shuffle stage"),            # second hit, shares fb vocab
        (3, "shuffle executor stage memory"),  # NO query term, fb vocab only
        (4, "window partition order"),         # unrelated
        (5, "quick brown fox jumps"),          # unrelated
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_rm3_expands_beyond_query_terms(spark, rm3_corpus):
    """The point of RM3: a document sharing only FEEDBACK vocabulary with
    the top hits (doc 3: shuffle/executor/stage, zero query terms)
    becomes retrievable; plain BM25 can never rank it."""
    q = _q(spark, "q", "spark")
    base_ids = {r.doc_id for r in bm25_topk(rm3_corpus, q, k=5).collect()}
    rm3_ids = {r.doc_id for r in
               bm25_rm3_topk(rm3_corpus, q, k=5, fb_k=2, fb_terms=4).collect()}
    assert 3 not in base_ids
    assert 3 in rm3_ids
    assert 4 not in rm3_ids and 5 not in rm3_ids  # expansion stays topical


def test_rm3_weights_interpolate_original_and_feedback(spark, rm3_corpus):
    """Original terms carry the (1-lambda)/|Q| floor (plus any feedback
    mass they re-earn); expansion terms carry feedback mass only; the
    expansion budget bounds the per-query vocabulary."""
    q = _q(spark, "q", "spark")
    tokens = tokenize(rm3_corpus, "doc_id", "text")
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus_stats = rm3_corpus.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        dl.agg(F.avg("dl").alias("avgdl"))
    )
    from big_data_elt_pipeline_spark.operators.retrieval import bm25_rank

    base = bm25_rank(tf, dfreq, corpus_stats, q, k=2, dl=dl)
    w = {r.term: r.qw for r in
         rm3_weights(base, tf, q, fb_k=2, fb_terms=4, lam=0.5, dl=dl).collect()}
    assert w["spark"] >= 0.5  # (1-lam)/1 original floor + feedback mass
    assert "shuffle" in w and w["shuffle"] > 0  # expansion term
    assert len(w) <= 1 + 4  # |Q| + fb_terms budget


def test_rm3_partitioning_invariant(spark, rm3_corpus):
    """Feedback weights and weighted scores are 6-dp-snapped decimal
    sums — bit-equal under any input partitioning, like the base kernel."""
    q = _q(spark, "q", "spark shuffle")
    a = bm25_rm3_topk(rm3_corpus.coalesce(1), q, k=5).collect()
    b = bm25_rm3_topk(rm3_corpus.repartition(7, "doc_id"), q, k=5).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert len(a) > 0


def test_rm3_no_feedback_keeps_original_query(spark, rm3_corpus):
    """A query matching nothing has an empty feedback set: the expanded
    weights reduce to the original terms and retrieval returns empty
    (no crash, no spurious expansion)."""
    q = _q(spark, "q", "zzzunseen")
    out = bm25_rm3_topk(rm3_corpus, q, k=5).collect()
    assert out == []
