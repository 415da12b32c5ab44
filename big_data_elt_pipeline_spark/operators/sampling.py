"""Corpus-level governance operators: benchmark-contamination detection and
deterministic stratified mixture sampling.

Beyond-reference surface — two steps every large-scale training-data
pipeline runs between "cleaned corpus" and "training mixture":

- ``benchmark_overlap``: find training documents that share enough word
  n-grams with a held-out benchmark/eval set to count as contaminated
  (the n-gram-overlap decontamination rule used by GPT-3/PaLM-style data
  cards, on the same shingle machinery as the dedup family).
- ``stratified_sample``: down/up-weight strata (language, source, domain)
  to target rates with a DETERMINISTIC per-row coin flip — a Knuth-style
  multiplicative hash of the id, not ``rand()`` — so the sampled corpus is
  reproducible run-to-run, engine-to-engine, and auditable by the DuckDB
  oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.operators.dedup import shingle_table

# Knuth multiplicative-hash constants for the sampling coin flip. The modulus
# is a power of two so ``(id * A + C) % M / M`` is exact integer→double math
# in both engines (no float rounding ambiguity at the rate boundary).
SAMPLE_A = 2654435761
SAMPLE_C = 12345
SAMPLE_M = 1 << 20


def benchmark_overlap(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_shared: int = 3,
) -> DataFrame:
    """(train_id, bench_id, n_shared) for every train doc sharing at least
    ``min_shared`` distinct word ``n``-grams with a benchmark doc.

    Scale shape: the benchmark side is SMALL by nature (eval sets are
    thousands of docs, the corpus is billions), so its shingle table is
    broadcast — the contamination scan is then a map-side hash join over
    the training shingles with NO shuffle of the 100 TB side; the only
    exchange is the tiny groupBy on (train_id, bench_id) candidate pairs.
    ``shingle_table`` emits distinct (doc, shingle) pairs by construction,
    so ``count(*)`` per pair IS the distinct-shared-shingle count.
    """
    tr = shingle_table(train, id_col, text_col, n).withColumnRenamed(id_col, "train_id")
    be = shingle_table(bench, id_col, text_col, n).withColumnRenamed(id_col, "bench_id")
    return (
        tr.join(F.broadcast(be), "shingle")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def sample_flag(id_col: F.Column, rate_col: F.Column) -> F.Column:
    """Deterministic keep/drop decision: uniform-ish u in [0,1) from a
    multiplicative hash of the id, kept iff ``u < rate``. Pure bigint
    arithmetic + one exact division — bit-identical in any engine.

    The id is reduced mod ``SAMPLE_M`` BEFORE the multiply: the final
    reduction is also mod ``SAMPLE_M``, so ``((id % M) * A + C) % M ==
    (id * A + C) % M`` mathematically, but the pre-mod keeps the product
    under 2**51 — without it, ids above ~3.4e9 overflow int64 (a throw
    under Spark ANSI mode and DuckDB alike), which matters at the
    billions-of-docs scale this operator targets. Hash values for any id
    are identical to the un-pre-modded form.
    """
    u = ((id_col.cast("long") % F.lit(SAMPLE_M) * F.lit(SAMPLE_A) + F.lit(SAMPLE_C))
         % F.lit(SAMPLE_M)).cast("double") / F.lit(float(SAMPLE_M))
    return u < rate_col


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum summary of a deterministic mixture-sampling pass:
    (stratum, target_rate, n_docs, n_sampled, realized_rate, weight).

    ``weight`` = 1/rate is the importance weight a loss-reweighting
    trainer would attach to surviving rows. One map-only flag pass plus
    one tiny groupBy on the stratum — no other shuffle at any scale.
    """
    rate = F.lit(float(default_rate))
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(float(v))).otherwise(rate)
    flagged = docs.select(
        F.col(strata_col).alias("stratum"),
        rate.alias("target_rate"),
        sample_flag(F.col(id_col), rate).cast("int").alias("sampled"),
    )
    return (
        flagged.groupBy("stratum", "target_rate")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("sampled").cast("long").alias("n_sampled"),
            (F.sum("sampled").cast("double") / F.count(F.lit(1))).alias("realized_rate"),
        )
        .withColumn(
            "weight",
            F.when(F.col("target_rate") > 0, F.lit(1.0) / F.col("target_rate")).otherwise(F.lit(0.0)),
        )
        .orderBy("stratum")
    )


DSIR_BUCKETS = 1024


def _hashed_feats(df: DataFrame, id_col: str, text_col: str,
                  n: int, buckets: int) -> DataFrame:
    """(id, bucket) hashed n-gram feature occurrences — RAW counts (no
    within-doc dedup; DSIR features are frequencies, not sets). Map-only:
    shingle + hash + mod inside the row, explode is a generator."""
    from big_data_elt_pipeline_spark.functions.text import shingle_buckets

    return df.select(
        F.col(id_col),
        F.explode(shingle_buckets(F.col(text_col), n, buckets)).alias("b"),
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by how much its hashed n-gram feature distribution resembles a TARGET
    domain corpus. Returns (doc_id, n_feats, weight) with weight =
    sum over the doc's feature occurrences of the per-bucket log-ratio
    lambda_b = ln( p_target(b) / p_raw(b) ) under add-one smoothing —
    positive = target-like. Selection composes downstream (top-k, or
    ``sample_flag`` with a weight-derived rate); the operator's output is
    the full auditable weight table.

    Determinism contract (the BM25 idiom): each lambda_b is quantized to
    1e-6 (absorbing the JVM-vs-DuckDB 1-ulp ``ln`` divergence) and the
    per-doc sum runs as exact DECIMAL — weights are bit-stable under any
    partitioning and engine.

    Scale shape: two bucket-count aggregations (map-side partial, output
    bounded by ``buckets`` rows each); corpus totals ride a single-row
    broadcast crossJoin (never ``.collect()``); the lambda table is at
    most ``buckets`` rows and broadcasts into the per-doc rollup — the
    only corpus-sized shuffle is the final groupBy(doc). The feature
    relation is recomputed per consumer rather than cached (the
    ``shingle_table`` trade, measured there).
    """
    feats = _hashed_feats(docs, id_col, text_col, n, buckets)
    tfeats = _hashed_feats(target, id_col, text_col, n, buckets)
    rc = feats.groupBy("b").agg(F.count(F.lit(1)).alias("cnt_r"))
    tc = tfeats.groupBy("b").agg(F.count(F.lit(1)).alias("cnt_t"))
    tots = feats.agg(F.count(F.lit(1)).alias("tot_r")).crossJoin(
        tfeats.agg(F.count(F.lit(1)).alias("tot_t"))
    )
    lam = F.round(
        F.log(
            ((F.coalesce(F.col("cnt_t"), F.lit(0)) + F.lit(1)).cast("double")
             * (F.col("tot_r") + F.lit(buckets)).cast("double"))
            / ((F.col("cnt_r") + F.lit(1)).cast("double")
               * (F.col("tot_t") + F.lit(buckets)).cast("double"))
        ),
        6,
    )
    lam_tbl = (
        rc.join(tc, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select("b", lam.alias("lam"))
    )
    return (
        feats.join(F.broadcast(lam_tbl), "b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum(F.col("lam").cast("decimal(25,6)")).cast("double").alias("weight"),
        )
        .orderBy(id_col)
    )


def dsir_select(
    docs: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR SELECTION (the resampling step of Xie et al. 2023, closing the
    loop ``dsir_weights`` opens): keep the ``k`` most target-like
    documents by importance weight, in the deterministic exact-top-k form.
    Returns the selected-corpus audit (doc_id, n_feats, weight, rank) —
    rank 1 = most target-like; the order (weight DESC, doc_id ASC) is
    TOTAL, so the selection boundary is deterministic under weight ties
    (quantized lambdas make exact ties realistic) and invariant under any
    input partitioning — weights themselves are bit-stable by the decimal
    sum contract upstream.

    Scale shape: everything up to the weight table is ``dsir_weights``'
    plan (two bucket-bounded aggs, broadcast lambda join, one corpus-sized
    groupBy). Selection is ``orderBy(...).limit(k)`` — Spark executes
    TakeOrderedAndProject: each partition keeps its local top-k and only
    k-row heaps merge at the driver, NO global sort of the corpus. The
    rank window then runs on the k surviving rows only (the vocab_topk
    idiom). For budget-FRACTION selection at 100 TB (k itself
    corpus-sized), compose ``sample_flag`` with a weight-derived rate
    instead — ``stratified_sample`` shows the flag discipline.
    """
    from pyspark.sql import Window

    w = dsir_weights(docs, target, id_col, text_col, n, buckets)
    head = w.orderBy(F.desc("weight"), F.asc(id_col)).limit(k)
    win = Window.orderBy(F.desc("weight"), F.asc(id_col))
    return head.withColumn("rank", F.row_number().over(win).cast("int"))


# --------------------------------------------------------------------------
# UniMax-style epoch-capped budget allocation (Chung et al. 2023)
# --------------------------------------------------------------------------

def unimax_allocation(
    per_source: DataFrame,
    budget_num: int = 6,
    budget_den: int = 10,
    epoch_cap: int = 2,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """UniMax budget waterfilling: split a total token budget as uniformly
    as possible across sources, capping each source at ``epoch_cap``
    epochs of its own data (small sources are fully consumed at the cap,
    the remainder is shared equally by the rest).

    ``per_source``: (source, n_tokens) — the per-source rollup, i.e. the
    ONLY corpus-sized aggregation, done by the caller. The budget is
    ``floor(total * budget_num / budget_den)`` in pure bigint math so both
    engines derive the identical budget from data.

    Closed form instead of the paper's iterative loop: sort sources
    ascending by their cap ``c_i = epoch_cap * n_i``; source i is capped
    iff ``c_i * (m - i + 1) <= B - Σ_{j<i} c_j`` (with caps ascending the
    capped set is a prefix, so one cumulative-sum window + one scalar
    aggregate decide every source). Uncapped sources get the equal share
    ``(B - Σ_capped c_j) / n_uncapped`` — the only non-integer step, one
    IEEE division.

    Scale shape: |sources| is dimension-sized (tens..thousands), so the
    windows here are trivially bounded; the output is one row per source:
    (source, n_tokens, cap_tokens, capped, alloc_tokens, epochs).
    """
    from pyspark.sql import Window

    src = per_source.select(
        F.col(source_col).alias("source"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
        (F.col(tokens_col).cast("long") * F.lit(int(epoch_cap))).alias("cap_tokens"),
    )
    tot = F.broadcast(
        src.agg(
            F.sum("n_tokens").alias("__total"), F.count(F.lit(1)).alias("m")
        ).select(
            # bigint floor-division (DIV), not double division: token totals
            # at 100 TB exceed 2^53 and would round in double
            F.expr(f"__total * {int(budget_num)} DIV {int(budget_den)}")
            .cast("long")
            .alias("budget"),
            "m",
        )
    )
    w_ord = Window.orderBy(F.asc("cap_tokens"), F.asc("source"))
    ranked = (
        src.crossJoin(tot)
        .withColumn("i", F.row_number().over(w_ord))
        .withColumn(
            "cum_prev",
            F.coalesce(
                F.sum("cap_tokens").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn(
            "capped",
            F.col("cap_tokens") * (F.col("m") - F.col("i") + 1)
            <= F.col("budget") - F.col("cum_prev"),
        )
    )
    sums = F.broadcast(
        ranked.agg(
            F.coalesce(
                F.sum(F.when(F.col("capped"), F.col("cap_tokens"))), F.lit(0).cast("long")
            ).alias("capped_sum"),
            F.sum(F.when(~F.col("capped"), 1).otherwise(0)).alias("n_uncapped"),
        )
    )
    return (
        ranked.crossJoin(sums)
        .select(
            "source",
            "n_tokens",
            "cap_tokens",
            "capped",
            F.when(F.col("capped"), F.col("cap_tokens").cast("double"))
            .otherwise(
                (F.col("budget") - F.col("capped_sum")).cast("double")
                / F.col("n_uncapped").cast("double")
            )
            .alias("alloc_tokens"),
        )
        .withColumn(
            "epochs", F.col("alloc_tokens") / F.col("n_tokens").cast("double")
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Priority sampling (Duffield, Lund, Thorup 2007): weighted sampling
# without replacement with near-optimal subset-sum estimates
# --------------------------------------------------------------------------

# Distinct multiplicative-hash constants (decorrelated from the sampling
# coin flip and the centroid sampler).
PRIO_A = 2246822519
PRIO_C = 374761393


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Priority sampling: draw ``k`` items with probability ~ weight,
    without replacement, such that ``sum(weight_est)`` over the sample is
    an unbiased estimator of the TOTAL weight of any subset.

    Priority ``q_i = w_i / u_i`` with ``u_i`` a deterministic uniform in
    (0, 1]: here ``u = h/M`` with ``h = ((id % M) * A + C) % M + 1`` — so
    ``q_i = (w_i * M) / h`` is ONE exact bigint product (< 2^53 for
    weights < 2^33) and ONE IEEE division, no transcendentals, making the
    sample and every estimate bit-identical across engines. The k kept
    items are the top-k priorities; ``tau`` = the (k+1)-th priority;
    ``weight_est = max(w, tau)`` (Duffield et al.'s estimator — 0 for
    unsampled items, unbiased for any subset sum).

    Scale shape: the map-only priority column feeds
    ``orderBy(...).limit(k+1)`` — TakeOrderedAndProject keeps a (k+1)-row
    heap per partition and merges heaps, never globally sorting the
    corpus; tau is a 1-row broadcast off those k+1 rows.
    """
    from pyspark.sql import Window

    m = SAMPLE_M
    h = (
        F.col(id_col).cast("long") % F.lit(m) * F.lit(PRIO_A) + F.lit(PRIO_C)
    ) % F.lit(m) + F.lit(1)
    prio = (
        df.select(
            F.col(id_col),
            F.col(weight_col).cast("long").alias("weight"),
            ((F.col(weight_col).cast("long") * F.lit(m)).cast("double")
             / h.cast("double")).alias("priority"),
        )
        .orderBy(F.desc("priority"), F.asc(id_col))
        .limit(k + 1)
    )
    win = Window.orderBy(F.desc("priority"), F.asc(id_col))
    ranked = prio.withColumn("rank", F.row_number().over(win).cast("int"))
    # tau = the (k+1)-th priority; NULL (→ 0.0) when the population has
    # <= k items, in which case everything is kept and weight_est = weight
    tau = F.broadcast(
        ranked.agg(
            F.max(F.when(F.col("rank") == k + 1, F.col("priority"))).alias("tau")
        )
    )
    return (
        ranked.crossJoin(tau)
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "weight",
            "priority",
            "rank",
            F.greatest(
                F.col("weight").cast("double"), F.coalesce(F.col("tau"), F.lit(0.0))
            ).alias("weight_est"),
        )
        .orderBy("rank")
    )


# --------------------------------------------------------------------------
# Deterministic stratified train/val/test split
# --------------------------------------------------------------------------

SPLIT_A = 2654435769
SPLIT_C = 97531


def split_assign(id_col: F.Column, val_frac: float = 0.05, test_frac: float = 0.05) -> F.Column:
    """Deterministic split label from a multiplicative hash of the id —
    decorrelated from the sampling coin flip by distinct constants. Pure
    bigint + one exact division: the same doc lands in the same split in
    every engine, every run, every partitioning (the reproducibility
    contract training pipelines need for held-out splits)."""
    m = SAMPLE_M
    u = (
        (id_col.cast("long") % F.lit(m) * F.lit(SPLIT_A) + F.lit(SPLIT_C)) % F.lit(m)
    ).cast("double") / F.lit(float(m))
    return (
        F.when(u < F.lit(1.0 - val_frac - test_frac), F.lit("train"))
        .when(u < F.lit(1.0 - test_frac), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def corpus_split_audit(
    docs: DataFrame,
    val_frac: float = 0.05,
    test_frac: float = 0.05,
    strata_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: F.Column | None = None,
) -> DataFrame:
    """Per-(stratum, split) audit of the deterministic corpus split:
    (stratum, split, n_docs, n_tokens, frac_of_stratum). One map-only
    label pass + one partial-aggregated groupBy — no other shuffle at any
    scale; the per-stratum total joins back via a broadcast-sized rollup
    (strata are dimension-sized)."""
    toks = tokens_col if tokens_col is not None else F.lit(1).cast("long")
    labeled = docs.select(
        F.col(strata_col).alias("stratum"),
        split_assign(F.col(id_col), val_frac, test_frac).alias("split"),
        toks.alias("__toks"),
    )
    per = labeled.groupBy("stratum", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__toks").cast("long").alias("n_tokens"),
    )
    tot = per.groupBy("stratum").agg(F.sum("n_docs").alias("__tot"))
    return (
        per.join(F.broadcast(tot), "stratum")
        .select(
            "stratum",
            "split",
            "n_docs",
            "n_tokens",
            (F.col("n_docs").cast("double") / F.col("__tot").cast("double")).alias(
                "frac_of_stratum"
            ),
        )
        .orderBy("stratum", "split")
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination (Bloom 1970; the NIST/Dolma-style scalable
# variant of benchmark_overlap)
# --------------------------------------------------------------------------

BLOOM_M = 65536          # bits
BLOOM_K = 3              # hash functions
# positions: h -> h1 = h mod P (P prime < 2^20, keeps h1*A under 2^52 so
# the products never approach int64 overflow — the sample_flag pre-mod
# trick); pos_j = (h1 * A_j + C_j) mod M. Distinct multiplicative
# constants per hash function.
BLOOM_P = 1048573
BLOOM_A = (2654435761, 2246822519, 3266489917)
BLOOM_C = (97, 193, 389)


def bloom_positions(shingles: DataFrame, shingle_col: str = "shingle") -> DataFrame:
    """Build the filter: distinct (j, pos) bit coordinates set by the
    benchmark shingle set. The relation IS the bitset (<= K*M rows, in
    practice |bench shingles| * K) — set-membership semantics, including
    bloom false positives from position collisions, are identical to the
    packed-bitmap form, but the relational form is mergeable, prunable
    and oracle-checkable. Benchmark sets are dimension-sized, so this
    broadcasts.
    """
    from big_data_elt_pipeline_spark.functions.text import hash60

    h1 = F.pmod(hash60(F.col(shingle_col)), F.lit(BLOOM_P))
    rows = None
    for j in range(BLOOM_K):
        r = shingles.select(
            F.lit(j).alias("j"),
            F.pmod(h1 * F.lit(BLOOM_A[j]) + F.lit(BLOOM_C[j]), F.lit(BLOOM_M)).alias(
                "pos"
            ),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows.distinct()


def bloom_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_flagged: int = 3,
) -> DataFrame:
    """(doc_id, n_shingles, n_flagged, contaminated): probe every training
    document's word ``n``-gram shingles against a bloom filter built from
    the benchmark's shingles; a shingle is flagged iff ALL K positions are
    set, a document is contaminated iff >= ``min_flagged`` of its distinct
    shingles flag (the benchmark_overlap threshold, bloom-approximated).

    Scale shape vs ``benchmark_overlap``: the exact form broadcasts the
    benchmark SHINGLE table (bytes ~ benchmark text size); this broadcasts
    only <= K*M ints no matter how large the benchmark grows, and the
    probe is a map-side hash join per position — the standard trade once
    eval suites reach millions of rows. False-positive rate for the
    default geometry at load f = set_bits/M is f^K (documented, and
    pinned by the planted-vs-clean pytest contract).
    """
    from big_data_elt_pipeline_spark.operators.dedup import shingle_table

    bloom = F.broadcast(
        bloom_positions(shingle_table(bench, id_col, text_col, n))
    ).withColumnRenamed("pos", "set_pos")

    from big_data_elt_pipeline_spark.functions.text import hash60

    tr = shingle_table(train, id_col, text_col, n)
    # positions carry the (doc, shingle) key so k_hits can be counted per
    # shingle; the filter side above is keyless (it IS the bitset)
    h1 = F.pmod(hash60(tr.shingle), F.lit(BLOOM_P))
    pos_rows = None
    for j in range(BLOOM_K):
        r = tr.select(
            id_col,
            "shingle",
            F.lit(j).alias("j"),
            F.pmod(h1 * F.lit(BLOOM_A[j]) + F.lit(BLOOM_C[j]), F.lit(BLOOM_M)).alias(
                "pos"
            ),
        )
        pos_rows = r if pos_rows is None else pos_rows.unionAll(r)
    hits = (
        pos_rows.join(
            bloom,
            (pos_rows.j == bloom.j) & (pos_rows.pos == bloom.set_pos),
            "left_semi",
        )
        .groupBy(id_col, "shingle")
        .agg(F.count(F.lit(1)).alias("k_hits"))
    )
    per_sh = tr.join(hits, [id_col, "shingle"], "left").select(
        id_col,
        (F.coalesce(F.col("k_hits"), F.lit(0)) == BLOOM_K).cast("int").alias("flagged"),
    )
    return (
        per_sh.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("flagged").cast("long").alias("n_flagged"),
        )
        .withColumn("contaminated", F.col("n_flagged") >= min_flagged)
    )


# --------------------------------------------------------------------------
# Temperature-scaled mixture reweighting (the multilingual-mixing rule of
# mT5/PaLM: p_i ∝ w_i^(1/T)), at T=2 — the common "square-root sampling"
# point — because sqrt is IEEE-754 correctly rounded and therefore the ONE
# temperature whose powers are bit-identical across engines (pow() carries
# no such guarantee; ULP differences between libm implementations would
# break the value hash).
# --------------------------------------------------------------------------

def temperature_mixture(
    per_source: DataFrame,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """(source, n_tokens, weight, p_temp, boost, expected_tokens):
    square-root temperature sampling probabilities over the per-source
    token rollup, with the resampled-token expectation at a budget equal
    to the corpus total.

    Determinism: weight = n_i/N (one correctly-rounded double division of
    exact bigints), sqrt(weight) snapped to 6 decimals, normalizer Z =
    exact DECIMAL sum of the snapped roots (order-free), p = round(s/Z,
    6). Bigint→double conversions stay exact below 2^53 tokens (~9e15 —
    two orders above a 100 TB corpus). |sources| is dimension-sized, so
    every relation here broadcasts; the ONLY corpus-scale work is the
    caller's rollup.
    """
    src = per_source.select(
        F.col(source_col).alias("source"),
        F.col(tokens_col).cast("long").alias("n_tokens"),
    )
    tot = F.broadcast(src.agg(F.sum("n_tokens").alias("total")))
    rooted = src.crossJoin(tot).select(
        "source",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("total").cast("double")).alias(
            "weight"
        ),
        F.round(
            F.sqrt(F.col("n_tokens").cast("double") / F.col("total").cast("double")),
            6,
        )
        .cast("decimal(25,6)")
        .alias("s"),
        "total",
    )
    z = F.broadcast(rooted.agg(F.sum("s").alias("z")))
    return (
        rooted.crossJoin(z)
        .select(
            "source",
            "n_tokens",
            "weight",
            F.round(F.col("s").cast("double") / F.col("z").cast("double"), 6).alias(
                "p_temp"
            ),
            F.round(
                (F.col("s").cast("double") / F.col("z").cast("double"))
                / F.col("weight"),
                6,
            ).alias("boost"),
            F.floor(
                F.round(F.col("s").cast("double") / F.col("z").cast("double"), 6)
                * F.col("total").cast("double")
            )
            .cast("long")
            .alias("expected_tokens"),
        )
        .orderBy("source")
    )
