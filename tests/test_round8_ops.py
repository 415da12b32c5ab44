"""Round-8 operator contracts: SQ8 quantized ANN, RRF fusion, UniMax
budgeting, count-min sketch, priority sampling, deterministic splits —
semantics the SQL oracles can't pin (recall quality, mergeability,
estimator bounds, partitioning invariance)."""

import pytest
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions import sketches as SK
from big_data_elt_pipeline_spark.functions import text as TX
from big_data_elt_pipeline_spark.operators import sampling as SMP
from big_data_elt_pipeline_spark.operators import similarity as SIM
from big_data_elt_pipeline_spark.operators.retrieval import rrf_fuse, tokenize
from big_data_elt_pipeline_spark.sources.tpch import read_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return read_table(spark, SF_SMOKE, "embeddings").cache()


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF_SMOKE, "documents").cache()


# ---------------------------------------------------------------- SQ8 ANN


def test_sq8_codes_in_range(spark, emb):
    stats = SIM.sq8_train(emb)
    coded = emb.crossJoin(F.broadcast(stats)).select(
        SIM.sq8_encode(F.col("embedding"), F.col("mns"), F.col("scs")).alias("code")
    )
    bad = coded.select(
        F.exists("code", lambda c: (c < 0) | (c > 127)).alias("bad")
    ).filter("bad")
    assert bad.count() == 0


def test_sq8_recall_vs_brute_force(spark, emb):
    queries = emb.filter(F.col("vec_id") < 16)
    exact = {
        (r.query_id, r.vec_id)
        for r in SIM.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in SIM.sq8_topk(emb, queries, k=5, overfetch=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 7-bit quantization at d=64 keeps candidate ordering almost exact;
    # the rerank then restores exact cosines — recall should be near 1
    assert recall >= 0.9, recall


def test_sq8_partitioning_invariance(spark, emb):
    queries = emb.filter(F.col("vec_id") < 8)
    a = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in SIM.sq8_topk(emb, queries, k=5).collect()
    )
    b = sorted(
        (r.query_id, r.rank, r.vec_id)
        for r in SIM.sq8_topk(emb.repartition(7), queries, k=5).collect()
    )
    assert a == b


# ---------------------------------------------------------------- RRF


def test_rrf_formula_and_membership(spark):
    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], "query_id int, doc_id int, rank int"
    )
    vec = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)], "query_id int, doc_id int, rank int"
    )
    out = {r.doc_id: r for r in rrf_fuse(lex, vec, k=10, c=60).collect()}
    assert set(out) == {10, 11, 12, 13}
    # doc in both lists: 1/(60+2) + 1/(60+1)
    assert out[11].rrf_score == pytest.approx(1 / 62 + 1 / 61, abs=0)
    assert out[11].lex_rank == 2 and out[11].vec_rank == 1
    # single-list docs contribute one term, missing rank is NULL
    assert out[10].rrf_score == pytest.approx(1 / 61, abs=0)
    assert out[10].vec_rank is None
    assert out[13].lex_rank is None
    # both-lists doc outranks either single-list doc here
    assert out[11].rank == 1


# ---------------------------------------------------------------- UniMax


def test_unimax_budget_conservation(spark):
    per = spark.createDataFrame(
        [("a", 10), ("b", 100), ("c", 1000), ("d", 10000)],
        "source string, n_tokens long",
    )
    rows = SMP.unimax_allocation(per, 6, 10, 2).collect()
    total = sum(r.n_tokens for r in rows)
    budget = total * 6 // 10
    assert sum(r.alloc_tokens for r in rows) == pytest.approx(budget, rel=1e-12)
    for r in rows:
        assert r.alloc_tokens <= r.cap_tokens + 1e-9
        if r.capped:
            assert r.alloc_tokens == float(r.cap_tokens)
    uncapped = sorted(r.alloc_tokens for r in rows if not r.capped)
    if len(uncapped) > 1:
        assert uncapped[0] == pytest.approx(uncapped[-1], abs=0)
    # small sources saturate before large ones: 6666 budget → a,b capped
    by_src = {r.source: r for r in rows}
    assert by_src["a"].capped and by_src["b"].capped
    assert not by_src["d"].capped


def test_unimax_all_sources_fit(spark):
    # budget (90%) below sum of caps but every equal share exceeds no cap
    per = spark.createDataFrame(
        [("a", 1000), ("b", 1000)], "source string, n_tokens long"
    )
    rows = SMP.unimax_allocation(per, 9, 10, 2).collect()
    assert all(not r.capped for r in rows)
    assert sum(r.alloc_tokens for r in rows) == pytest.approx(1800.0, abs=0)


# ---------------------------------------------------------------- CMS


def test_cms_never_underestimates(spark, docs):
    vocab = (
        tokenize(docs.select("doc_id", "text"), "doc_id", "text")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("exact"))
        .withColumn("h", TX.hash32(F.col("term")))
    )
    counters = SK.cms_build(vocab, hash_col="h", cnt_col="exact")
    est = SK.cms_estimate(vocab, counters, hash_col="h")
    assert est.filter(F.col("est") < F.col("exact")).count() == 0


def test_cms_merge_is_union(spark, docs):
    rel = (
        tokenize(docs.select("doc_id", "text"), "doc_id", "text")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("h", TX.hash32(F.col("term")))
        .select("doc_id", "h", "cnt")
    )
    a = rel.filter(F.col("doc_id") % 2 == 0)
    b = rel.filter(F.col("doc_id") % 2 == 1)
    merged = (
        SK.cms_build(a).unionByName(SK.cms_build(b))
        .groupBy("j", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    whole = SK.cms_build(rel)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


# ---------------------------------------------------------------- priority


def test_priority_sample_contract(spark, docs):
    out = SMP.priority_sample(docs, k=32, weight_col="n_chars").collect()
    assert len(out) == 32
    assert [r.rank for r in out] == list(range(1, 33))
    # estimator: weight_est = max(w, tau) >= w, and tau is a single value
    taus = {r.weight_est for r in out if r.weight_est > r.weight}
    assert all(r.weight_est >= r.weight for r in out)
    assert len(taus) <= 1
    # priorities strictly ordered under the total (priority desc, id) order
    pr = [(r.priority, -r.doc_id) for r in out]
    assert pr == sorted(pr, reverse=True)


def test_priority_sample_small_population(spark, docs):
    small = docs.filter(F.col("doc_id") < 10)
    out = SMP.priority_sample(small, k=32, weight_col="n_chars").collect()
    assert len(out) == 10
    # population <= k: everything kept, tau undefined → weight_est = weight
    assert all(r.weight_est == float(r.weight) for r in out)


def test_priority_sample_partitioning_invariance(spark, docs):
    a = [(r.doc_id, r.weight_est) for r in SMP.priority_sample(docs, 16, "n_chars").collect()]
    b = [
        (r.doc_id, r.weight_est)
        for r in SMP.priority_sample(docs.repartition(13), 16, "n_chars").collect()
    ]
    assert a == b


# ---------------------------------------------------------------- split


def test_corpus_split_audit(spark, docs):
    out = SMP.corpus_split_audit(docs).collect()
    n_total = docs.count()
    assert sum(r.n_docs for r in out) == n_total
    by_stratum = {}
    for r in out:
        by_stratum.setdefault(r.stratum, 0.0)
        by_stratum[r.stratum] += r.frac_of_stratum
    for v in by_stratum.values():
        assert v == pytest.approx(1.0, rel=1e-12)
    # global proportions near 90/5/5
    frac = {}
    for r in out:
        frac[r.split] = frac.get(r.split, 0) + r.n_docs
    assert frac["train"] / n_total == pytest.approx(0.9, abs=0.05)


def test_split_deterministic_per_doc(spark, docs):
    one = docs.select(
        "doc_id", SMP.split_assign(F.col("doc_id")).alias("s")
    )
    two = docs.repartition(11).select(
        "doc_id", SMP.split_assign(F.col("doc_id")).alias("s")
    )
    assert one.exceptAll(two).count() == 0


# ---------------------------------------------------------------- C4 filter


def _c4_reference(doc_id: int, text: str):
    """Plain-Python reimplementation of quality.c4_line_stats for one doc."""
    import re

    tok = re.split(r"\s+", text.lower().strip())
    n_lines = (len(tok) + 7) // 8
    stats = dict(n_lines=n_lines, n_kept=0, n_no_punct=0, n_short=0,
                 n_brace=0, n_lorem=0, n_js=0)
    kept_lines = []
    for i in range(n_lines):
        d = doc_id * 31 + i
        words = tok[i * 8:i * 8 + 8]
        if d % 19 == 3:
            words = words[:2]
        t = " ".join(words)
        if d % 17 == 2:
            t = "lorem ipsum " + t
        if d % 23 == 4:
            t = t + " javascript"
        if d % 13 == 1:
            t = t + " {"
        if d % 11 != 0:
            t = t + "."
        no_punct = not t.endswith(".")
        short = len(t.split(" ")) < 5
        brace = "{" in t
        lorem = "lorem ipsum" in t
        js = "javascript" in t
        stats["n_no_punct"] += no_punct
        stats["n_short"] += short
        stats["n_brace"] += brace
        stats["n_lorem"] += lorem
        stats["n_js"] += js
        if not (no_punct or short or brace or lorem or js):
            stats["n_kept"] += 1
            kept_lines.append(t)
    import hashlib

    stats["keep_doc"] = stats["n_kept"] >= 3
    stats["cleaned_fp"] = hashlib.md5("\n".join(kept_lines).encode()).hexdigest()
    return stats


def test_c4_matches_python_reference(spark, docs):
    from big_data_elt_pipeline_spark.operators.quality import c4_line_stats

    sample = {r.doc_id: r.text for r in docs.filter("doc_id < 40").collect()}
    got = {r.doc_id: r.asDict() for r in
           c4_line_stats(docs.filter("doc_id < 40")).collect()}
    assert set(got) == set(sample)
    for did, text in sample.items():
        exp = _c4_reference(did, text)
        act = got[did]
        for k, v in exp.items():
            assert act[k] == v, (did, k, act[k], v)


def test_c4_keep_doc_threshold(spark, docs):
    from big_data_elt_pipeline_spark.operators.quality import c4_line_stats

    bad = c4_line_stats(docs).filter(
        "(keep_doc AND n_kept < 3) OR (NOT keep_doc AND n_kept >= 3)"
    )
    assert bad.count() == 0


# ---------------------------------------------------------------- LM filter


def test_lm_partitioning_invariance(spark, docs):
    from big_data_elt_pipeline_spark.operators.quality import lm_scores

    a = sorted((r.doc_id, r.n_bigrams, r.nll, r.keep)
               for r in lm_scores(docs).collect())
    b = sorted((r.doc_id, r.n_bigrams, r.nll, r.keep)
               for r in lm_scores(docs.repartition(7)).collect())
    assert a == b


def test_lm_score_bounds_and_median_cut(spark, docs):
    from big_data_elt_pipeline_spark.operators.quality import LM_BUCKETS, lm_scores

    rows = lm_scores(docs).collect()
    n = len(rows)
    # every nll is positive and no worse than the all-unseen ceiling
    import math

    feats = docs.selectExpr("doc_id").count()  # just to keep spark warm
    ceil_nll = None
    for r in rows:
        assert r.nll > 0
        if ceil_nll is None:
            ceil_nll = r.nll
        ceil_nll = max(ceil_nll, r.nll)
    # median cut keeps at least half
    kept = sum(1 for r in rows if r.keep)
    assert kept >= n // 2, (kept, n)
    # reference-split docs see their own bigrams: mean nll of the ref
    # split must beat the mean of the rest (the model explains its own
    # training data better)
    ref = [r.nll for r in rows if r.doc_id % 10 == 0]
    rest = [r.nll for r in rows if r.doc_id % 10 != 0]
    assert sum(ref) / len(ref) < sum(rest) / len(rest)


# ---------------------------------------------------------------- PageRank


def test_pagerank_hand_graph(spark):
    """3-node cycle + a feeder: exact integer expectation, computed by the
    same fixed-point rule in plain Python."""
    from big_data_elt_pipeline_spark.operators.graph import (
        RANK_SCALE,
        pagerank_fixed_point,
    )

    nodes = spark.createDataFrame([(0,), (1,), (2,), (3,)], "node long")
    # 0->1, 1->2, 2->0 cycle; 3->0 feeder (3 has no in-links)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 0)], "src long, dst long"
    )
    got = {r.node: r.rank_scaled
           for r in pagerank_fixed_point(nodes, edges, iters=5).collect()}

    r_init = RANK_SCALE // 4
    r = {v: r_init for v in range(4)}
    deg = {0: 1, 1: 1, 2: 1, 3: 1}
    for _ in range(5):
        insum = {v: 0 for v in range(4)}
        for s, d in [(0, 1), (1, 2), (2, 0), (3, 0)]:
            insum[d] += r[s] // deg[s]
        r = {v: (15 * r_init) // 100 + (85 * insum[v]) // 100 for v in range(4)}
    assert got == r


def test_pagerank_determinism_and_floor(spark, docs):
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators.graph import (
        RANK_SCALE,
        pagerank_fixed_point,
        synthetic_links,
    )

    nodes = docs.select(F.col("doc_id").alias("node"))
    n = nodes.count()
    edges = synthetic_links(nodes)
    a = sorted((r.node, r.rank_scaled)
               for r in pagerank_fixed_point(nodes, edges).collect())
    b = sorted(
        (r.node, r.rank_scaled)
        for r in pagerank_fixed_point(
            nodes.repartition(5), edges.repartition(9)
        ).collect()
    )
    assert a == b
    r_init = RANK_SCALE // n
    floor = (15 * r_init) // 100
    assert all(rs >= floor for _, rs in a)
    total = sum(rs for _, rs in a)
    assert total <= RANK_SCALE
    assert total >= int(0.9 * RANK_SCALE)


# ---------------------------------------------------------------- Bloom


def test_bloom_no_false_negatives_vs_exact(spark, docs):
    """Bloom filters cannot miss: every doc the exact benchmark_overlap
    flags (>=3 shared distinct 5-grams) must be bloom-contaminated."""
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators.sampling import (
        benchmark_overlap,
        bloom_decontaminate,
    )

    bench = docs.filter("doc_id % 50 = 0")
    exact = {
        r.train_id
        for r in benchmark_overlap(docs, bench, n=5, min_shared=3).collect()
    }
    bloom = {
        r.doc_id
        for r in bloom_decontaminate(docs, bench).filter("contaminated").collect()
    }
    assert exact <= bloom, exact - bloom
    # benchmark docs self-flag (their shingles are all in the filter)
    bench_ids = {r.doc_id for r in bench.select("doc_id").collect()}
    assert bench_ids <= bloom


def test_bloom_partitioning_invariance(spark, docs):
    from big_data_elt_pipeline_spark.operators.sampling import bloom_decontaminate

    bench = docs.filter("doc_id % 50 = 0")
    a = sorted((r.doc_id, r.n_shingles, r.n_flagged)
               for r in bloom_decontaminate(docs, bench).collect())
    b = sorted(
        (r.doc_id, r.n_shingles, r.n_flagged)
        for r in bloom_decontaminate(docs.repartition(11), bench).collect()
    )
    assert a == b


# ---------------------------------------------------------- NB classifier


def test_nb_learns_planted_signal(spark, docs):
    from big_data_elt_pipeline_spark.plans.curation_queries import _nb_seed_spark
    from big_data_elt_pipeline_spark.operators import classify as CL
    from pyspark.sql import functions as F

    seeded = _nb_seed_spark(docs)
    train = seeded.filter("doc_id % 5 != 0")
    held = seeded.filter("doc_id % 5 = 0")
    classes, model = CL.nb_train(train, "lang")
    pred = CL.nb_predict(held, classes, model)
    joined = pred.join(held.select("doc_id", "lang"), "doc_id")
    acc = joined.selectExpr(
        "avg(cast(predicted = lang as double)) a"
    ).first().a
    assert acc >= 0.9, acc
    # priors are a (snapped) probability distribution
    import math

    pri = sum(math.exp(r.log_prior) for r in classes.collect())
    assert abs(pri - 1.0) < 1e-3


def test_nb_partitioning_invariance(spark, docs):
    from big_data_elt_pipeline_spark.plans.curation_queries import _nb_seed_spark
    from big_data_elt_pipeline_spark.operators import classify as CL

    seeded = _nb_seed_spark(docs)
    train = seeded.filter("doc_id % 5 != 0")
    held = seeded.filter("doc_id % 5 = 0")

    def run(tr, he):
        classes, model = CL.nb_train(tr, "lang")
        return sorted(
            (r.doc_id, r.predicted, r.score)
            for r in CL.nb_predict(he, classes, model).collect()
        )

    assert run(train, held) == run(train.repartition(7), held.repartition(3))


# ---------------------------------------------------------- Gopher rules


def test_gopher_matches_python_reference(spark, docs):
    import re

    from big_data_elt_pipeline_spark.functions.text import STOPWORDS
    from big_data_elt_pipeline_spark.operators import quality as QL

    sample = {r.doc_id: r.text for r in docs.filter("doc_id < 30").collect()}
    got = {r.doc_id: r.asDict()
           for r in QL.gopher_rules(docs.filter("doc_id < 30")).collect()}
    stop = set(STOPWORDS)
    for did, text in sample.items():
        tok = re.split(r"\s+", text.lower().strip())
        n = len(tok)
        mwl = sum(len(w) for w in tok) / n
        n_stop = sum(1 for w in tok if w in stop)
        n_alpha = sum(1 for w in tok if re.search("[a-z]", w))
        a = got[did]
        assert a["n_words"] == n
        assert a["mean_word_len"] == mwl
        assert a["n_stopwords"] == n_stop
        assert a["alpha_ratio"] == n_alpha / n
        exp_keep = (
            QL.GOPHER_MIN_WORDS <= n <= QL.GOPHER_MAX_WORDS
            and QL.GOPHER_MIN_MWL <= mwl <= QL.GOPHER_MAX_MWL
            and a["symbol_ratio"] < QL.GOPHER_MAX_SYMBOL_RATIO
            and n_alpha / n > QL.GOPHER_MIN_ALPHA_RATIO
            and n_stop >= QL.GOPHER_MIN_STOPWORDS
        )
        assert a["keep_doc"] == exp_keep


# ---------------------------------------------------------- temperature mix


def test_temperature_mixture_flattens(spark, docs):
    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.functions.text import token_count
    from big_data_elt_pipeline_spark.operators.sampling import temperature_mixture

    per = (
        docs.select("source", token_count(F.col("text")).alias("t"))
        .groupBy("source")
        .agg(F.sum("t").cast("long").alias("n_tokens"))
    )
    rows = temperature_mixture(per).collect()
    # probabilities form a (snapped) distribution
    assert abs(sum(r.p_temp for r in rows) - 1.0) < 1e-3
    # sqrt-temperature flattens: below-average sources get boosted (>1),
    # above-average sources get damped (<1)
    mean_w = 1.0 / len(rows)
    for r in rows:
        if r.weight < mean_w * 0.9:
            assert r.boost > 1.0, (r.source, r.weight, r.boost)
        if r.weight > mean_w * 1.1:
            assert r.boost < 1.0, (r.source, r.weight, r.boost)
    # expectation stays within the budget
    total = sum(r.n_tokens for r in rows)
    assert sum(r.expected_tokens for r in rows) <= total


def test_quantized_median_equals_percentile(spark):
    """The histogram median must reproduce Spark's percentile() bit-for-bit
    (both implement index = p*(n-1) with linear interpolation)."""
    import random

    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators.quality import quantized_median

    rng = random.Random(8)
    for n in (1, 2, 7, 100, 101):
        vals = [round(rng.uniform(5, 15), 6) for _ in range(n)]
        df = spark.createDataFrame([(v,) for v in vals], "nll double")
        got = quantized_median(df, "nll").first().med_nll
        exp = df.agg(F.expr("percentile(nll, 0.5)")).first()[0]
        assert got == exp, (n, got, exp)


def test_quantized_percentiles_equal_percentile_list(spark):
    import random

    from pyspark.sql import functions as F

    from big_data_elt_pipeline_spark.operators.quality import quantized_percentiles

    rng = random.Random(88)
    ps = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    vals = [rng.randint(5, 600) for _ in range(173)]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = {r.p: r.value for r in quantized_percentiles(df, "x", ps).collect()}
    exp = df.agg(
        F.expr(f"percentile(cast(x as double), array({','.join(map(str, ps))}))")
    ).first()[0]
    assert [got[p] for p in ps] == list(exp)


def test_url_domain_filter_blocklists(spark, docs):
    from big_data_elt_pipeline_spark.plans.curation_queries import (
        _URL_HOSTS,
        _url_seed_spark,
    )
    from big_data_elt_pipeline_spark.operators.quality import (
        BLOCKED_HOSTS,
        BLOCKED_TLDS,
        url_domain_audit,
    )

    rows = url_domain_audit(_url_seed_spark(docs)).collect()
    assert len(rows) == docs.count()
    for r in rows:
        exp_host = _URL_HOSTS[r.doc_id % len(_URL_HOSTS)]
        assert r.host == exp_host
        labels = exp_host.split(".")
        assert r.registered_domain == ".".join(labels[-2:])
        assert r.tld == labels[-1]
        assert r.blocked_host == (exp_host in BLOCKED_HOSTS)
        assert r.blocked_tld == (labels[-1] in BLOCKED_TLDS)
        assert r.keep == (not r.blocked_host and not r.blocked_tld)


def test_embedding_covariance_vs_numpy(spark, emb):
    import numpy as np

    from big_data_elt_pipeline_spark.operators.similarity import (
        embedding_covariance,
    )

    got = {(r.i, r.j): r.cov
           for r in embedding_covariance(emb, 64).collect()}
    X = np.array([r.embedding for r in
                  emb.orderBy("vec_id").collect()], dtype=np.float64)
    ref = np.cov(X, rowvar=False, bias=True)  # population covariance
    for (i, j), c in got.items():
        assert abs(c - ref[i][j]) < 1e-8, (i, j, c, ref[i][j])
    # full upper triangle present; diagonal = variances >= 0
    assert len(got) == 64 * 65 // 2
    assert all(got[(i, i)] >= 0 for i in range(64))


def test_embedding_covariance_partitioning_invariance(spark, emb):
    from big_data_elt_pipeline_spark.operators.similarity import (
        embedding_covariance,
    )

    a = sorted((r.i, r.j, r.cov)
               for r in embedding_covariance(emb, 64).collect())
    b = sorted((r.i, r.j, r.cov)
               for r in embedding_covariance(emb.repartition(13), 64).collect())
    assert a == b


def test_pca_power_iteration_properties(spark, emb):
    import numpy as np

    from big_data_elt_pipeline_spark.operators.similarity import (
        embedding_covariance,
        pca_power_iteration,
    )

    cov = embedding_covariance(emb, 64)
    rows = pca_power_iteration(cov, 64).collect()
    assert len(rows) == 64
    v = np.array([r.loading for r in sorted(rows, key=lambda r: r.i)])
    eigval = rows[0].eigval
    # unit norm (9-dp snap tolerance)
    assert abs(np.dot(v, v) - 1.0) < 1e-6
    X = np.array([r.embedding for r in emb.orderBy("vec_id").collect()],
                 dtype=np.float64)
    lam_max = float(np.linalg.eigvalsh(np.cov(X, rowvar=False, bias=True))[-1])
    # ||Mv|| <= lambda_max for unit v (operator norm; snapping epsilon),
    # and 10 rounds must have climbed most of the way up the spectrum
    assert eigval <= lam_max * (1 + 1e-6), (eigval, lam_max)
    assert eigval >= 0.8 * lam_max, (eigval, lam_max)


def test_pca_partitioning_invariance(spark, emb):
    from big_data_elt_pipeline_spark.operators.similarity import (
        embedding_covariance,
        pca_power_iteration,
    )

    def run(e):
        cov = embedding_covariance(e, 64)
        return sorted(
            (r.i, r.loading, r.eigval)
            for r in pca_power_iteration(cov, 64).collect()
        )

    assert run(emb) == run(emb.repartition(9))


def test_kmeans_vs_numpy_reference(spark, emb):
    import numpy as np

    from big_data_elt_pipeline_spark.operators.similarity import (
        kmeans_lloyd_fixed_point,
    )

    k, iters = 8, 5
    rows = kmeans_lloyd_fixed_point(emb, 64, k=k, iters=iters).collect()
    assert len(rows) == k * 64
    got_c = {}
    got_n = {}
    for r in rows:
        got_c[(r.cluster_id, r.i)] = r.loading
        got_n[r.cluster_id] = r.n_points

    pts = {r.vec_id: np.array(r.embedding, dtype=np.float64)
           for r in emb.collect()}
    cent = {}
    for pid in sorted(pts):
        cent.setdefault(pid % k, np.round(pts[pid], 9))
    for _ in range(iters):
        members = {c: [] for c in cent}
        for pid, v in pts.items():
            best = min(
                (np.round(np.sum(np.round((v - c) ** 2, 12)), 12), cid)
                for cid, c in cent.items()
            )[1]
            members[best].append(pid)
        for cid, ms in members.items():
            if ms:
                s = np.sum([np.round(pts[p], 9) for p in ms], axis=0)
                cent[cid] = np.round(s / len(ms), 9)
        sizes = {cid: len(ms) for cid, ms in members.items()}

    assert got_n == sizes
    for (cid, i), x in got_c.items():
        assert abs(x - cent[cid][i]) < 1e-6, (cid, i, x, cent[cid][i])


def test_kmeans_empty_cluster_keeps_centroid(spark):
    from big_data_elt_pipeline_spark.operators.similarity import (
        kmeans_lloyd_fixed_point,
    )

    # bucket0 init = [1.0] (pid 0), bucket1 init = [1.0] (pid 1): every
    # point ties on distance and the (d, cid) tie-break sends all of them
    # to cluster 0 — cluster 1 must keep its init centroid and report 0
    emb = spark.createDataFrame(
        [(0, [1.0]), (1, [1.0]), (2, [0.0])], "vec_id long, embedding array<float>"
    )
    rows = kmeans_lloyd_fixed_point(emb, 1, k=2, iters=1).collect()
    by_c = {r.cluster_id: r for r in rows}
    assert by_c[1].n_points == 0
    assert by_c[1].loading == 1.0
    assert by_c[0].n_points == 3
    # mean of 9-dp-snapped (1, 1, 0) re-snapped
    assert abs(by_c[0].loading - round(2.0 / 3.0, 9)) < 1e-12


def test_kmeans_partitioning_invariance(spark, emb):
    from big_data_elt_pipeline_spark.operators.similarity import (
        kmeans_lloyd_fixed_point,
    )

    def run(e):
        return sorted(
            (r.cluster_id, r.n_points, r.i, r.loading)
            for r in kmeans_lloyd_fixed_point(e, 64, k=8, iters=3).collect()
        )

    assert run(emb) == run(emb.repartition(11))


def test_roc_auc_hand_cases(spark):
    from big_data_elt_pipeline_spark.operators.classify import roc_auc

    def auc_of(rows):
        df = spark.createDataFrame(rows, "score double, y int")
        r = roc_auc(df).collect()[0]
        return r.n_pos, r.n_neg, r.auc

    # tie block spanning both classes: ranks 1, 2.5, 2.5, 4 ->
    # R_pos = 6.5, auc = (6.5 - 3) / 4
    assert auc_of([(0.1, 0), (0.2, 0), (0.2, 1), (0.3, 1)]) == (2, 2, 0.875)
    # perfect separation / reversal / everything tied
    assert auc_of([(0.1, 0), (0.2, 0), (0.3, 1), (0.4, 1)])[2] == 1.0
    assert auc_of([(0.4, 0), (0.3, 0), (0.2, 1), (0.1, 1)])[2] == 0.0
    assert auc_of([(0.5, 0), (0.5, 1), (0.5, 0), (0.5, 1)])[2] == 0.5


def test_roc_auc_quantization_and_nulls(spark):
    from big_data_elt_pipeline_spark.operators.classify import roc_auc

    # scores differing below the 6-dp quantum are ties by contract;
    # NULL score/label rows are excluded
    df = spark.createDataFrame(
        [(0.1000000001, 0), (0.1000000002, 1), (0.2, 1), (None, 1), (0.3, None)],
        "score double, y int",
    )
    r = roc_auc(df).collect()[0]
    assert (r.n_pos, r.n_neg) == (2, 1)
    # groups: 0.1 (n=2, p=1) ranks avg 1.5; 0.2 (n=1, p=1) rank 3
    # R_pos = 4.5 -> auc = (4.5 - 3) / (1*2) = 0.75
    assert r.auc == 0.75


def test_roc_auc_partitioning_invariance(spark, docs):
    from big_data_elt_pipeline_spark.functions import text as TX
    from big_data_elt_pipeline_spark.operators.classify import roc_auc

    scored = docs.select(
        TX.quality_score(F.col("text")).alias("score"),
        (F.length("text") >= 300).cast("int").alias("y"),
    )
    a = roc_auc(scored).collect()[0]
    b = roc_auc(scored.repartition(17)).collect()[0]
    assert (a.n_pos, a.n_neg, a.auc) == (b.n_pos, b.n_neg, b.auc)
    assert 0.5 < a.auc <= 1.0


def _planted_logreg_corpus(docs):
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(F.col("text"), F.lit(" zzmarker zzmarker zzmarker")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        (F.col("doc_id") % 2).cast("int").alias("y"),
    )


def test_logreg_learns_planted_signal(spark, docs):
    from big_data_elt_pipeline_spark.operators.classify import (
        logreg_train_fixed_point,
        model_map_row,
        score_documents,
    )

    labeled = _planted_logreg_corpus(docs)
    model = logreg_train_fixed_point(labeled)
    rows = {r.feature: r.weight for r in model.collect()}
    assert -1 in rows  # intercept present
    # the (zzmarker, zzmarker) bigram bucket must carry the dominant
    # positive weight — it appears in every positive and no negative
    import hashlib

    mb = int(hashlib.md5(b"zzmarker zzmarker").hexdigest()[:15], 16) % 256
    assert rows[mb] == max(rows.values())
    assert rows[mb] > 0.5
    # and the trained model must separate the planted classes
    pred = score_documents(labeled, model_map_row(model))
    acc = (
        pred.join(labeled.select("doc_id", "y"), "doc_id")
        .select(F.avg((F.col("predicted") == F.col("y")).cast("int")).alias("a"))
        .collect()[0]
        .a
    )
    assert acc >= 0.95, acc


def test_logreg_partitioning_invariance(spark, docs):
    from big_data_elt_pipeline_spark.operators.classify import (
        logreg_train_fixed_point,
    )

    labeled = _planted_logreg_corpus(docs)
    a = sorted((r.feature, r.weight)
               for r in logreg_train_fixed_point(labeled).collect())
    b = sorted(
        (r.feature, r.weight)
        for r in logreg_train_fixed_point(labeled.repartition(19)).collect()
    )
    assert a == b


def test_logreg_rejects_zero_iters(spark, docs):
    """No gradient round means no observed bucket set: fail at call time,
    before any checkpoint is pinned, instead of returning a plan that
    reads a freed frame."""
    from big_data_elt_pipeline_spark.operators.classify import (
        logreg_train_fixed_point,
    )

    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    with pytest.raises(ValueError, match="iters"):
        logreg_train_fixed_point(_planted_logreg_corpus(docs), iters=0)
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before


def _bpe_python_reference(texts, rounds):
    import collections
    import re

    vocab = collections.Counter()
    for t in texts:
        for w in re.split(r"\s+", t.strip().lower()):
            vocab[w] += 1
    syms = {w: [*w, "</w>"] for w in vocab}
    merges = []
    for r in range(1, rounds + 1):
        pc = collections.Counter()
        for w, f in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += f
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((r, a, b, a + b, cnt))
        for w in vocab:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


def test_bpe_train_matches_imperative_reference(spark, docs):
    from big_data_elt_pipeline_spark.operators.tokenizer import bpe_train

    got = [
        (r.merge_round, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_train(docs, rounds=6).orderBy("merge_round").collect()
    ]
    ref, _ = _bpe_python_reference(
        [r.text for r in docs.select("text").collect()], 6
    )
    assert got == ref


def test_bpe_greedy_overlap_chain(spark):
    from big_data_elt_pipeline_spark.operators.tokenizer import (
        bpe_segment,
        bpe_train,
    )

    # "aaaa" under pair (a,a): greedy left-to-right gives "aa aa", never
    # three overlapping merges — the island-parity semantics under test
    docs = spark.createDataFrame([(1, "aaaa aaa")], "doc_id long, text string")
    merges = bpe_train(docs, rounds=1).collect()
    assert (merges[0].left_sym, merges[0].right_sym) == ("a", "a")
    seg = {
        r.word: list(r.pieces)
        for r in bpe_segment(docs, [(1, "a", "a")]).collect()
    }
    assert seg["aaaa"] == ["aa", "aa", "</w>"]
    assert seg["aaa"] == ["aa", "a", "</w>"]


def test_bpe_segment_replays_training(spark, docs):
    from big_data_elt_pipeline_spark.operators.tokenizer import (
        bpe_segment,
        bpe_train,
    )

    rounds = 5
    merges = [
        (r.merge_round, r.left_sym, r.right_sym)
        for r in bpe_train(docs, rounds=rounds).collect()
    ]
    seg = bpe_segment(docs.limit(50), merges)
    _, ref_syms = _bpe_python_reference(
        [r.text for r in docs.select("text").collect()], rounds
    )
    for r in seg.collect():
        assert list(r.pieces) == ref_syms[r.word], r.word
        # pieces reassemble to the word + terminal marker
        assert "".join(r.pieces) == r.word + "</w>"


def test_classification_report_hand_case(spark):
    from big_data_elt_pipeline_spark.operators.classify import (
        classification_report,
    )

    pairs = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"), ("c", "a")],
        "t string, g string",
    )
    rep = {r.label: r for r in classification_report(pairs).collect()}
    # a: n_true 2, n_pred 2, tp 1 -> p = r = 0.5, f1 = 0.5
    assert (rep["a"].n_true, rep["a"].n_pred, rep["a"].tp) == (2, 2, 1)
    assert rep["a"].precision == 0.5 and rep["a"].recall == 0.5
    assert rep["a"].f1 == 0.5
    # b: n_true 2, n_pred 3, tp 2
    assert rep["b"].precision == 2 / 3 and rep["b"].recall == 1.0
    # c: predicted never -> precision NULL, recall 0, f1 NULL (0/0)
    assert rep["c"].n_pred == 0 and rep["c"].precision is None
    assert rep["c"].recall == 0.0 and rep["c"].f1 is None


def test_classification_report_label_only_in_pred(spark):
    from big_data_elt_pipeline_spark.operators.classify import (
        classification_report,
    )

    pairs = spark.createDataFrame([("a", "z")], "t string, g string")
    rep = {r.label: r for r in classification_report(pairs).collect()}
    assert rep["z"].n_true == 0 and rep["z"].n_pred == 1
    assert rep["z"].recall is None and rep["z"].precision == 0.0


def test_embedding_audit_dirty_fixture(spark):
    from big_data_elt_pipeline_spark.operators.profiling import embedding_audit

    emb = spark.createDataFrame(
        [
            (0, [3.0, 4.0]),            # norm 5
            (1, [0.0, 0.0]),            # zero vector
            (2, None),                  # NULL
            (3, [1.0]),                 # wrong dim
            (4, [float("nan"), 1.0]),   # non-finite
            (5, [6.0, 8.0]),            # norm 10
        ],
        "vec_id long, embedding array<float>",
    )
    got = {r.metric: r.value for r in embedding_audit(emb, 2).collect()}
    assert got["n_vectors"] == 6.0
    assert got["n_null"] == 1.0
    assert got["n_wrong_dim"] == 1.0
    assert got["n_nonfinite"] == 1.0
    assert got["n_zero"] == 1.0
    # norm histogram over the finite non-null rows: {0, 1, 5, 10}
    # (quantile_cont interpolation: idx = p*(n-1))
    assert got["norm_p50"] == 3.0
    assert abs(got["norm_p99"] - 9.85) < 1e-9


def test_embedding_audit_clean_corpus(spark, emb):
    from big_data_elt_pipeline_spark.operators.profiling import embedding_audit

    got = {r.metric: r.value for r in embedding_audit(emb, 64).collect()}
    assert got["n_null"] == got["n_wrong_dim"] == got["n_nonfinite"] == 0.0
    assert got["n_vectors"] == emb.count()
    assert got["norm_p50"] == 1.0  # unit-normalized synthetic embeddings


def test_curation_recipe_funnel_contract(spark):
    from big_data_elt_pipeline_spark.plans.curation_queries import (
        q_curation_recipe,
    )

    rows = q_curation_recipe(spark, SF_SMOKE).collect()
    assert [r.stage for r in rows] == [
        "1_url", "2_c4", "3_gopher", "4_lm", "5_dedup"
    ]
    for r in rows:
        assert 0 <= r.docs_out <= r.docs_in
        assert r.removed == r.docs_in - r.docs_out
    # stages chain: each stage's input is the previous stage's output
    for prev, cur in zip(rows, rows[1:]):
        assert cur.docs_in == prev.docs_out
    # every upstream stage must actually bite on this corpus (the LM cut
    # removes ~half by construction: keep = nll <= median)
    assert rows[0].removed > 0 and rows[3].removed > 0


def test_knn_graph_laws(spark, emb):
    from big_data_elt_pipeline_spark.operators.similarity import knn_graph

    edges = knn_graph(emb, k=5, n_bits=4).collect()
    eset = {(r.src, r.dst) for r in edges}
    for r in edges:
        assert 1 <= r.rank <= 5
        # mutual flag law: flagged iff the reversed directed edge exists
        assert r.mutual == ((r.dst, r.src) in eset), (r.src, r.dst)
    # asymmetry exists at this bucket width (otherwise the flag is vacuous)
    assert any(not r.mutual for r in edges)
    assert any(r.mutual for r in edges)
    # per-src uniqueness of ranks
    seen = {}
    for r in edges:
        assert (r.src, r.rank) not in seen
        seen[(r.src, r.rank)] = r.dst


def test_knn_graph_candidates_share_bucket(spark, emb):
    from big_data_elt_pipeline_spark.operators.similarity import (
        component_means,
        knn_graph,
        sign_bucket,
    )
    from pyspark.sql import functions as F

    # knn_graph buckets are CENTERED on the corpus per-dim means
    mu = F.broadcast(component_means(emb, 4))
    buckets = {
        r.vec_id: r.b
        for r in emb.crossJoin(mu)
        .select(
            "vec_id",
            sign_bucket(F.col("embedding"), 4, F.col("__mus")).alias("b"),
        )
        .collect()
    }
    for r in knn_graph(emb, k=3, n_bits=4).collect():
        assert buckets[r.src] == buckets[r.dst]


def test_stream_scoring_equals_batch(spark, docs):
    from big_data_elt_pipeline_spark.operators.classify import (
        logreg_train_fixed_point,
        model_map_row,
        score_documents,
    )
    from big_data_elt_pipeline_spark.streaming.scoring import (
        stream_scored_documents,
    )
    from tests.conftest import SF_SMOKE

    labeled = _planted_logreg_corpus(docs)
    model = logreg_train_fixed_point(labeled)
    # the map-only scorer on a batch read is the reference; the
    # independent cross-engine check is the stream_doc_scoring oracle
    batch = {
        r.doc_id: (r.score, r.predicted)
        for r in score_documents(docs, model_map_row(model)).collect()
    }
    assert len(batch) == docs.count()
    # the real streaming run through the memory sink matches row for row
    streamed = {
        r.doc_id: (r.score, r.predicted)
        for r in stream_scored_documents(spark, SF_SMOKE, model).collect()
    }
    assert streamed == batch


def _hard_sigmoid_py(m):
    return min(max(0.25 * m + 0.5, 0.0), 1.0)


def test_score_documents_degenerate_texts(spark, docs):
    """Null, empty and one-word texts each keep their row. Under an
    intercept-only model each scores exactly hard_sigmoid(bias) with
    predicted = (bias > 0); under a trained model each adds the weight of
    its one bucket (md5 of "" for null and empty, of the word otherwise)."""
    import hashlib

    from big_data_elt_pipeline_spark.operators.classify import (
        LOGREG_BUCKETS,
        logreg_train_fixed_point,
        model_map_row,
        score_documents,
    )

    odd = spark.createDataFrame(
        [(1, None), (2, ""), (3, "zzmarker")], "doc_id long, text string"
    )
    for bias in (-0.375, 0.125):
        intercept = spark.createDataFrame(
            [(-1, bias)], "feature long, weight double"
        )
        got = {
            r.doc_id: (r.score, r.predicted)
            for r in score_documents(odd, model_map_row(intercept)).collect()
        }
        want = (_hard_sigmoid_py(bias), int(bias > 0))
        assert got == {1: want, 2: want, 3: want}

    model = logreg_train_fixed_point(_planted_logreg_corpus(docs))
    w = {r.feature: r.weight for r in model.collect()}

    def bucket(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % LOGREG_BUCKETS

    got = {
        r.doc_id: (r.score, r.predicted)
        for r in score_documents(odd, model_map_row(model)).collect()
    }
    for doc_id, word in ((1, ""), (2, ""), (3, "zzmarker")):
        score = _hard_sigmoid_py(w.get(bucket(word), 0.0) + w[-1])
        assert got[doc_id] == (score, int(score > 0.5))


def test_knn_semantic_clusters_vs_union_find(spark, emb):
    from big_data_elt_pipeline_spark.operators.dedup import neardup_clusters
    from big_data_elt_pipeline_spark.operators.similarity import knn_graph

    g = knn_graph(emb, k=5, n_bits=4)
    pairs = [
        (r.src, r.dst)
        for r in g.filter(F.col("mutual") & (F.col("src") < F.col("dst"))).collect()
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for a, b in pairs:
        for x in (a, b):
            expected[x] = find(x)
    edges_df = spark.createDataFrame(pairs, "id1 long, id2 long")
    got = {r.doc_id: r.cluster_id for r in neardup_clusters(edges_df).collect()}
    assert got == expected
