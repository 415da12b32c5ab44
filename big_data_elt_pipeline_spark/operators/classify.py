"""Distributed text classification as relational algebra: multinomial
Naive Bayes over hashed n-gram features.

Beyond-reference surface — the fastText-style quality/language classifier
every large corpus pipeline trains on a labeled split and sweeps over the
rest (CCNet's language filter, GPT-3's WebText-quality classifier). The
deliberate design point: Naive Bayes training IS counting, so both
training and inference stay inside the relational engine — no driver-side
model object, no pyspark.ml iterative job — and, with the repo's
log-snap + exact-DECIMAL discipline, the trained model and every
prediction are bit-identical across engines and partitionings (a
gradient-descent classifier can never be value-hashed; this one can).

Scale shape:
- training = one partial-aggregated groupBy over (class, bucket) — at
  most |classes| * buckets rows leave each partition regardless of corpus
  size — plus a |classes|-row prior table. Model <= |classes| * buckets
  rows -> broadcast.
- inference = explode features (generator), one broadcast join against
  the model, one doc-keyed aggregation, one bounded per-doc argmax
  (|classes| rows per doc). No shuffle grows faster than the corpus
  itself.

Citation: reference repo has no classifier; this follows multinomial NB
with Lidstone smoothing (Manning, Raghavan & Schütze, IIR §13.2),
re-expressed as DataFrame algebra. alpha defaults to 0.01, NOT Laplace's
1: with hashed buckets B comparable to a small class's token total,
add-one smoothing inflates every shared-feature likelihood ratio toward
the LARGEST class (measured ~0.4 nats per feature on the test corpus —
enough to swamp any genuine signal and collapse NB to the majority-class
predictor); at alpha=0.01 the distortion is ~0.007 nats per feature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark.functions.text import shingle_buckets
from big_data_elt_pipeline_spark.session import pinned_rdds, unpersist_rdds

NB_BUCKETS = 4096
NB_ALPHA = 0.01


def nb_train(
    train: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = NB_BUCKETS,
    alpha: float = NB_ALPHA,
) -> tuple[DataFrame, DataFrame]:
    """Fit multinomial NB with Lidstone smoothing on hashed bigram counts.

    Returns ``(classes, model)``:
    - ``classes``: (label, log_prior, default_lp, tot) — one row per
      class; ``default_lp`` is the smoothed log-likelihood of a bucket
      the class never saw (ln(alpha/(tot+alpha*buckets)), snapped to 6
      decimals).
    - ``model``: (label, b, lp) — snapped per-(class, bucket)
      log-likelihoods; <= |classes| * buckets rows.

    Cross-engine exactness: ``alpha*buckets`` is computed ONCE in Python
    and injected as the same double literal on both sides.
    """
    ab = float(alpha) * buckets
    from big_data_elt_pipeline_spark.operators.sampling import _hashed_feats

    feats = _hashed_feats(train, id_col, text_col, 2, buckets).join(
        train.select(id_col, label_col), id_col
    )
    cls = (
        feats.groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("tot"))
        .crossJoin(
            F.broadcast(
                feats.agg(F.count(F.lit(1)).alias("grand"))
            )
        )
        .select(
            F.col(label_col).alias("label"),
            F.round(
                F.log(F.col("tot").cast("double") / F.col("grand").cast("double")), 6
            ).alias("log_prior"),
            F.round(
                F.log(
                    F.lit(float(alpha))
                    / (F.col("tot").cast("double") + F.lit(ab))
                ),
                6,
            ).alias("default_lp"),
            "tot",
        )
    )
    model = (
        feats.groupBy(label_col, "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(cls), F.col(label_col) == F.col("label"))
        .select(
            "label",
            "b",
            F.round(
                F.log(
                    (F.col("cnt").cast("double") + F.lit(float(alpha)))
                    / (F.col("tot").cast("double") + F.lit(ab))
                ),
                6,
            ).alias("lp"),
        )
    )
    return cls, model


def nb_predict(
    docs: DataFrame,
    classes: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = NB_BUCKETS,
) -> DataFrame:
    """(id, predicted, score): argmax-class per document. Per-feature
    log-likelihoods are snapped doubles accumulated as DECIMAL(25,6)
    (exact, order-free); the argmax tie-break is (score desc, label asc)
    — a total order, so the prediction is deterministic everywhere.

    The argmax is ``min(struct(-score, label))`` — a partial-aggregated
    groupBy, not a row_number window: one exchange instead of two, and
    hot keys collapse map-side (the r7-verdict survivor-selection
    discipline), though here the group is bounded at |classes| rows."""
    from big_data_elt_pipeline_spark.operators.sampling import _hashed_feats

    feats = _hashed_feats(docs, id_col, text_col, 2, buckets)
    scored = (
        feats.join(F.broadcast(classes.select("label", "default_lp")), F.lit(True))
        .join(
            F.broadcast(model),
            ["label", "b"],
            "left",
        )
        .select(
            id_col,
            "label",
            F.coalesce(F.col("lp"), F.col("default_lp"))
            .cast("decimal(25,6)")
            .alias("term"),
        )
        .groupBy(id_col, "label")
        .agg(F.sum("term").alias("ll"))
        .join(F.broadcast(classes.select("label", "log_prior")), "label")
        .select(
            id_col,
            "label",
            (F.col("ll") + F.col("log_prior").cast("decimal(25,6)")).alias("score"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.min(
                F.struct((-F.col("score")).alias("ns"), F.col("label"))
            ).alias("w")
        )
        .select(
            id_col,
            F.col("w.label").alias("predicted"),
            (-F.col("w.ns")).cast("double").alias("score"),
        )
    )


def roc_auc(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "y",
    quantize_dp: int = 6,
) -> DataFrame:
    """Single-row (n_pos, n_neg, auc): EXACT ROC-AUC of a score against a
    binary label, with the textbook average-rank tie treatment
    (Mann-Whitney U / rank-sum form; Hand & Till 2001 eq. 3) — the
    evaluation loop every classifier/filter in this repo feeds (NB
    language posteriors, LM fluency, quality scores).

    Value-hash discipline WITHOUT decimals: scores are quantized to
    ``quantize_dp`` before ranking (the documented contract — ties are
    ties OF THE QUANTIZED score), and all rank arithmetic stays in
    INTEGER space. With per-score-group counts n_g and positives p_g in
    ascending score order, the average rank of group g is
    (2*cum_before_g + n_g + 1) / 2; so

        2 * R_pos = sum_g p_g * (2*cum_before_g + n_g + 1)
        auc = (2*R_pos - n_pos*(n_pos+1)) / (2*n_pos*n_neg)

    — one exact bigint until the final double division.

    Scale shape: one partial-aggregated groupBy(score) bounds the relation
    at the number of DISTINCT quantized scores (the doc_length_quantiles
    lesson: per-ROW global ranking windows are a single-task sort at
    corpus scale; quantization is what makes the ordered pass bounded).
    The running-total window then orders that bounded relation in one
    tiny task, and a final single-row aggregate emits the metric.
    NULL scores or labels are excluded (and counted) up front.
    """
    from pyspark.sql import Window

    q = F.round(F.col(score_col).cast("double"), quantize_dp)
    y = F.col(label_col).cast("int")
    g = (
        scored.filter(q.isNotNull() & y.isNotNull())
        .select(q.alias("q"), y.alias("y"))
        .groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("long").alias("p"),
        )
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.select(
        "n",
        "p",
        (F.coalesce(F.sum("n").over(w), F.lit(0)) * 2 + F.col("n") + 1).alias(
            "r2"
        ),
    )
    return ranked.agg(
        F.sum("p").alias("n_pos"),
        (F.sum("n") - F.sum("p")).alias("n_neg"),
        F.sum(F.col("p") * F.col("r2")).alias("rp2"),
    ).select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        (
            (F.col("rp2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


LOGREG_BUCKETS = 256
LOGREG_ITERS = 8
# 1/2 sits in the measured stability region of full-batch GD under the
# hard sigmoid: its flat tails zero the gradient of saturated points, so
# once margins overshoot past |m| = 2 only boundary points keep moving and
# lr >= 3/4 oscillates (train acc 0.96 -> 0.54 between rounds at lr=1);
# lr in [1/4, 1/2] converges monotonically on the planted-signal corpus.
# Kept as an exact RATIONAL because the weight update is integer
# arithmetic in 1e-9 units (see _nano_update).
LOGREG_LR_FRAC = (1, 2)


def _nano_update(w: Column, se: Column, n: Column,
                 lr_frac: tuple[int, int]) -> Column:
    """``w - half_up(lr * se / n)`` carried out EXACTLY in 1e-9-unit
    integers. The naive double form ``round(w - lr*se/n, 9)`` is a
    cross-engine landmine: ``se`` is an exact 9-dp decimal, so with
    lr = 1/2 and a round corpus size the true update is an exact 12-dp
    decimal — i.e. the value to be rounded sits EXACTLY on a 9-dp half
    boundary, where Spark's shortest-repr BigDecimal HALF_UP and DuckDB's
    scaled-double rounding disagree (measured: 1/251 weights flipped by
    1e-9 on the gate corpus). Here instead:

        w9 = round(w * 1e9)              -- exact: w is a 9-dp value
        A  = se * 1e9 * lr_num           -- exact bigint (se has scale 9)
        D  = lr_den * n
        q  = sign(A) * floor((2|A| + D) / (2D))   -- half-up, away from 0
        w' = (w9 - q) / 1e9

    The floor's division runs in doubles, but numerator and denominator
    are exact integers; a correctly-rounded division of exact integers can
    only land ON an integer when the quotient IS that integer, so the
    floor is exact in both engines. Every other step is integer
    arithmetic. Contract bound: the numerator 2|A| + D stays below 2^53
    only while 2 * n * 1e9 * lr_num < 2^53, i.e. n <~ 4.5e6 documents at
    lr = 1/2 — the exact-half-up guarantee holds to there. Beyond it the
    long -> double conversion rounds the numerator, so the result is no
    longer guaranteed half-up, but it remains CROSS-ENGINE IDENTICAL:
    both engines perform the same IEEE round-to-nearest conversion and
    the same correctly-rounded division, so the iterate cannot drift
    apart — the parity contract survives, the half-up claim does not."""
    num, den = lr_frac
    w9 = F.round(w * F.lit(1e9)).cast("long")
    a = (se * F.lit(1_000_000_000)).cast("long") * F.lit(num)
    d = F.lit(den).cast("long") * n.cast("long")
    q = (
        F.signum(a.cast("double")).cast("long")
        * F.floor(
            (F.lit(2) * F.abs(a) + d) / (F.lit(2) * d)
        ).cast("long")
    )
    return (w9 - q).cast("double") / F.lit(1e9)


def _hard_sigmoid(m: Column) -> Column:
    """clamp(0.25*m + 0.5, 0, 1) — the piecewise-linear sigmoid. Chosen
    over exp-based sigmoid NOT as an approximation trade-off but as a
    determinism requirement: IEEE 754 does not mandate correctly-rounded
    exp, so exp(m) can differ by an ulp between the JVM and other engines
    and a gradient-descent iterate would drift apart; *, +, clamp are all
    exactly specified, so the hard-sigmoid trainer is a fixed point of
    exact arithmetic (same reasoning as the DSIR/BM25 log-quantization,
    applied at the activation instead)."""
    return F.least(
        F.greatest(F.lit(0.25) * m + F.lit(0.5), F.lit(0.0)), F.lit(1.0)
    )


def logreg_train_fixed_point(
    labeled: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "y",
    buckets: int = LOGREG_BUCKETS,
    iters: int = LOGREG_ITERS,
    lr_frac: tuple[int, int] = LOGREG_LR_FRAC,
) -> DataFrame:
    """(feature, weight): binary-presence hashed-bigram logistic regression
    trained by ``iters`` full-batch gradient-descent rounds with the hard
    sigmoid — the third value-hashable trainer in the repo (NB = counting,
    k-means = snapped Lloyd, this = snapped GD). ``feature`` is the hashed
    bucket id; ``feature = -1`` is the intercept.

    Update rule, every intermediate snapped:
        p_d   = hard_sigmoid(sum_{b in d} w_b + bias)    (exact decimal dot)
        e_d   = round(p_d - y_d, 9)
        w_b  -= half_up(lr * sum_d(e_d * x_db) / n)  in 1e-9-unit integers
    so the trained model — converged or not — is bit-identical across
    engines and partitionings. The weight update deliberately avoids
    ``round(double, 9)``: see ``_nano_update`` for why that form lands
    exactly on rounding half boundaries. Exactness contract holds to
    ~1e9-document corpora (the nano-unit gradient sum must stay < 2^53);
    beyond that, train on a stratified sample or shard the GD.

    Scale shape (r15 rewrite, guide §1.2/§2.4 — the PCA broadcast-fold
    treatment applied to GD): the corpus is collapsed ONCE into the
    checkpointed (pid, y, bs) relation where ``bs`` is the doc's distinct
    bucket array, built as a pure map expression (shingle -> hash -> pmod
    -> array_distinct, no explode, no shuffle). The weight state is a
    ONE-ROW frame carrying the full ``buckets``-slot weight array plus the
    bias — bucket-bounded by contract, so broadcasting it is free at any
    corpus size. Each round is then ONE job with ONE exchange: the margin
    is a map-side decimal fold of the doc's bucket array against the
    broadcast weight array (no doc-keyed join, no groupBy(pid)), the
    gradient is explode(bs ++ [-1]) -> groupBy(bucket) whose map-side
    partial aggregation ships <= buckets+1 rows, and the weight refresh is
    one array ``transform`` over the state row (localCheckpoint'ed — the
    q15 idiom). The former shape paid two doc-keyed shuffles plus a
    broadcast build per round. Arithmetic is IDENTICAL: decimal(25,9)
    sums are exact and order-free, so folding the margin instead of
    groupBy-summing it yields the bit-same double, and ``_nano_update``
    is unchanged. The corpus never concentrates on a key and the driver
    never sees data.
    """
    if iters < 1:
        # the observed bucket set comes from the first gradient round, and
        # the returned plan must not read ``docfe`` after it is freed
        raise ValueError(f"iters must be >= 1, got {iters}")
    spark = labeled.sparkSession
    before = pinned_rdds(spark)
    # the doc's distinct bucket set as a PURE MAP expression: an explode +
    # groupBy(pid) would shuffle every feature occurrence to rebuild a set
    # the row already determines. No array_sort: every consumer of ``bs``
    # is order-free (the margin fold is an exact decimal sum; the gradient
    # explode feeds a groupBy)
    docfe = labeled.select(
        F.col(id_col).alias("pid"),
        F.col(label_col).cast("int").alias("y"),
        F.array_distinct(shingle_buckets(F.col(text_col), 2, buckets)).alias("bs"),
    ).localCheckpoint(eager=True)
    # NOT compacted to fewer partitions: unlike the ml-fit frames, each
    # row here carries a real per-row decimal fold (|bs| adds), so
    # serializing the rounds onto one task was measured 3x SLOWER than the
    # per-task overhead it saved (parts=1 round 5.1 s vs parts=32 1.5 s)
    docfe_ids = pinned_rdds(spark) - before

    zero_se = F.lit(0).cast("decimal(25,9)")
    empty_bs = F.array().cast("array<bigint>")
    # one-row state: (n, warr[buckets], bw, obs) — obs (the sorted observed
    # bucket set) is captured from the first gradient's key set, which by
    # construction is exactly the distinct buckets present in any doc
    state = (
        docfe.agg(F.count(F.lit(1)).alias("n"))
        .select(
            "n",
            F.array_repeat(F.lit(0.0), buckets).alias("warr"),
            F.lit(0.0).alias("bw"),
            F.lit(None).cast("array<bigint>").alias("obs"),
        )
        .localCheckpoint(eager=True)
    )
    state_ids = pinned_rdds(spark) - before - docfe_ids
    for _ in range(iters):
        warr = F.col("warr")
        sw = F.aggregate(
            F.coalesce(F.col("bs"), empty_bs),
            zero_se,
            lambda acc, b: (
                acc
                + F.element_at(warr, (b + 1).cast("int")).cast("decimal(25,9)")
            ).cast("decimal(25,9)"),
        )
        e = F.round(
            _hard_sigmoid(sw.cast("double") + F.col("bw")) - F.col("y"), 9
        )
        grad = (
            docfe.crossJoin(F.broadcast(state))
            .select(
                F.explode(
                    F.concat(
                        F.coalesce(F.col("bs"), empty_bs),
                        F.array(F.lit(-1).cast("bigint")),
                    )
                ).alias("b"),
                e.alias("e"),
            )
            .groupBy("b")
            .agg(F.sum(F.col("e").cast("decimal(25,9)")).alias("se"))
        )
        gm = grad.agg(
            F.map_from_entries(F.collect_list(F.struct("b", "se"))).alias(
                "semap"
            )
        )
        sem = F.col("semap")
        new_state = (
            gm.crossJoin(F.broadcast(state))
            .select(
                "n",
                F.transform(
                    F.col("warr"),
                    lambda w, i: _nano_update(
                        w,
                        F.coalesce(
                            F.try_element_at(sem, i.cast("bigint")), zero_se
                        ),
                        F.col("n"),
                        lr_frac,
                    ),
                ).alias("warr"),
                _nano_update(
                    F.col("bw"),
                    F.coalesce(
                        F.try_element_at(sem, F.lit(-1).cast("bigint")),
                        zero_se,
                    ),
                    F.col("n"),
                    lr_frac,
                ).alias("bw"),
                F.coalesce(
                    F.col("obs"),
                    F.array_sort(
                        F.filter(F.map_keys(sem), lambda k: k >= 0)
                    ),
                ).alias("obs"),
            )
            .localCheckpoint(eager=True)
        )
        unpersist_rdds(spark, state_ids)
        state_ids = pinned_rdds(spark) - before - docfe_ids
        state = new_state
    unpersist_rdds(spark, docfe_ids)
    return state.select(
        F.explode(
            F.concat(
                F.transform(
                    F.col("obs"),
                    lambda b: F.struct(
                        b.alias("feature"),
                        F.element_at(F.col("warr"), (b + 1).cast("int")).alias(
                            "weight"
                        ),
                    ),
                ),
                F.array(
                    F.struct(
                        F.lit(-1).cast("bigint").alias("feature"),
                        F.col("bw").alias("weight"),
                    )
                ),
            )
        ).alias("fw")
    ).select(
        F.col("fw.feature").cast("long").alias("feature"),
        F.col("fw.weight").alias("weight"),
    )


def model_map_row(model: DataFrame) -> DataFrame:
    """Collapse a (feature, weight) model relation into ONE row carrying
    (wmap: map<bigint,double>, bias: double) — the broadcastable form
    ``score_documents`` folds against. Stays a DataFrame end-to-end (no
    driver collect)."""
    return (
        model.groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.when(
                        F.col("feature") >= 0,
                        F.struct(F.col("feature"), F.col("weight")),
                    )
                ).cast("array<struct<feature:bigint,weight:double>>")
            ).alias("wmap"),
            F.max(
                F.when(F.col("feature") < 0, F.col("weight"))
            ).alias("bias"),
        )
    )


def score_documents(
    docs: DataFrame,
    model_row: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = LOGREG_BUCKETS,
) -> DataFrame:
    """(id, score, predicted): hard-sigmoid probability and 0.5-threshold
    class under a ``logreg_train_fixed_point`` model in its
    ``model_map_row`` form — the repo's one logreg scorer. Map-only: the
    model row broadcasts, and the margin is an exact DECIMAL(25,9) fold of
    the doc's distinct buckets against the weight map INSIDE the row (the
    trainer's margin arithmetic; buckets the model never saw contribute
    0). Every input row yields one output row: a null or empty text is
    the single empty shingle and a one-word text its word, as in
    ``word_shingles``. No explode, no doc-keyed shuffle, so the same plan
    scores a batch DataFrame and a streaming one (one broadcast per
    micro-batch)."""
    bkts = F.array_distinct(shingle_buckets(F.col(text_col), 2, buckets))
    zero = F.lit(0).cast("decimal(25,9)")
    margin = F.aggregate(
        bkts,
        zero,
        lambda acc, b: (
            acc
            + F.coalesce(
                F.element_at(F.col("wmap"), b).cast("decimal(25,9)"), zero
            )
        ).cast("decimal(25,9)"),
    )
    return (
        docs.crossJoin(F.broadcast(model_row))
        .select(
            F.col(id_col),
            _hard_sigmoid(margin.cast("double") + F.col("bias")).alias(
                "score"
            ),
        )
        .select(
            id_col,
            "score",
            (F.col("score") > 0.5).cast("int").alias("predicted"),
        )
    )


def classification_report(
    pairs: DataFrame,
    true_col: str = "t",
    pred_col: str = "g",
) -> DataFrame:
    """(label, n_true, n_pred, tp, precision, recall, f1): the per-class
    evaluation table of a multi-class prediction — the companion of
    ``roc_auc`` for hard decisions (language-ID audits, filter-vs-filter
    comparisons). All counts are exact integers; precision/recall/f1 are
    single double divisions of those integers (``try_divide`` pins the
    0-denominator cells to NULL rather than an engine-specific NaN), so
    the whole table is value-hashable.

    Scale shape: three partial-aggregated groupBys over the LABEL domain
    (bounded — the class vocabulary, not the corpus) and a full outer join
    of two label-sized relations. A corpus-sized shuffle never happens;
    hot classes collapse map-side."""
    t, g = F.col(true_col), F.col(pred_col)
    nt = pairs.groupBy(t.alias("label")).agg(F.count(F.lit(1)).alias("n_true"))
    np_ = pairs.groupBy(g.alias("label")).agg(F.count(F.lit(1)).alias("n_pred"))
    tp = (
        pairs.filter(t == g)
        .groupBy(t.alias("label"))
        .agg(F.count(F.lit(1)).alias("tp"))
    )
    rep = (
        nt.join(np_, "label", "full_outer")
        .join(tp, "label", "left")
        .select(
            "label",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
        )
        .select(
            "label",
            "n_true",
            "n_pred",
            "tp",
            F.try_divide(F.col("tp").cast("double"), F.col("n_pred")).alias(
                "precision"
            ),
            F.try_divide(F.col("tp").cast("double"), F.col("n_true")).alias(
                "recall"
            ),
        )
    )
    return rep.select(
        "label",
        "n_true",
        "n_pred",
        "tp",
        "precision",
        "recall",
        F.try_divide(
            F.lit(2.0) * F.col("precision") * F.col("recall"),
            F.col("precision") + F.col("recall"),
        ).alias("f1"),
    )


def calibration_table(
    scored: DataFrame,
    score_col: str = "score",
    label_col: str = "y",
    n_bins: int = 10,
) -> DataFrame:
    """(bin, n, n_pos, mean_score, frac_pos, gap, ece): the reliability
    diagram of a probabilistic score against a binary outcome, plus the
    expected calibration error (Naeini et al. 2015's binned ECE) carried
    as a corpus-level scalar on every row (the source_mixture pattern) —
    the audit run on quality/educational-value classifiers before their
    scores gate corpus admission (an AUC-strong but mis-calibrated score
    corrupts threshold-based filtering).

    Determinism: the score quantizes STRAIGHT to integer micro-units —
    ``round(score * 1e6)`` to scale 0. Round-to-INTEGER is the one
    rounding both engines agree on bit-for-bit: every half boundary
    (k + 0.5) is exactly representable as a double, so Spark's
    shortest-repr HALF_UP and DuckDB's true-value half-away-from-zero
    coincide on every input. (A 6-dp ``round(x, 6)`` was measured to
    DIVERGE here: its half boundaries are NOT representable, Spark
    rounds the printed shortest repr while DuckDB rounds the true binary
    value — one corpus score landed a micro-unit apart. The round-9
    landmine, avoided by never rounding to a fractional scale.) From
    micro-units on, everything is integer arithmetic: bin =
    floor(micro * n_bins / 1e6), per-bin score sums are exact integer
    micro sums; frac_pos is one exact-int division; each |gap|-weighted
    ECE term is 12-dp-snapped into a DECIMAL sum — identical under any
    partitioning and engine.

    Scale shape: one partial-aggregated groupBy over the BIN domain
    (bounded by n_bins); totals and the ECE scalar ride broadcast
    one-row relations."""
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    micro = F.round(s * F.lit(1_000_000.0)).cast("long")
    b = F.least(
        F.floor((micro * F.lit(n_bins)).cast("double") / F.lit(1_000_000.0))
        .cast("long"),
        F.lit(n_bins - 1),
    )
    g = (
        scored.filter(s.isNotNull() & y.isNotNull())
        .select(b.alias("bin"), micro.alias("micro"), y.alias("y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum(F.col("micro").cast("decimal(25,0)")).alias("sm"),
        )
        .localCheckpoint(eager=False)  # instantiated by the table AND the
        # ECE scalar — one aggregation, not one per plan branch
    )
    tot = F.broadcast(g.agg(F.sum("n").cast("long").alias("nn")))
    mean_score = (
        F.col("sm").cast("double") / F.col("n").cast("double")
        / F.lit(1_000_000.0)
    )
    table = g.crossJoin(tot).select(
        "bin",
        "n",
        "n_pos",
        mean_score.alias("mean_score"),
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias("frac_pos"),
        (
            F.col("n_pos").cast("double") / F.col("n").cast("double") - mean_score
        ).alias("gap"),
        (F.col("n").cast("double") / F.col("nn").cast("double")).alias("w"),
    )
    ece = F.broadcast(
        table.select(
            F.round(F.abs(F.col("gap")) * F.col("w"), 12)
            .cast("decimal(25,12)")
            .alias("term")
        ).agg(F.sum("term").cast("double").alias("ece"))
    )
    return (
        table.crossJoin(ece)
        .select("bin", "n", "n_pos", "mean_score", "frac_pos", "gap", "ece")
        .orderBy("bin")
    )


def agreement_report(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
) -> DataFrame:
    """ONE row — (n, n_agree, po, pe, kappa): inter-rater agreement
    between two categorical labelers (Cohen 1960), the
    classifier-vs-classifier audit (e.g. a trained language classifier
    against the n-gram heuristic: high kappa means the cheap heuristic
    can pre-filter for the expensive model). po = observed agreement,
    pe = chance agreement from the two marginals, kappa = (po - pe) /
    (1 - pe) with the degenerate pe = 1 case pinned NULL via try_divide
    in both engines.

    Determinism: counts are exact bigints; each marginal product
    (na/n)*(nb/n) is two correctly-rounded divisions + one multiply,
    12-dp-snapped into a DECIMAL sum over the label domain. Scale shape:
    two label-bounded groupBys + one label-sized join — the
    classification_report shape, no corpus shuffle."""
    a, bc = F.col(a_col), F.col(b_col)
    base = pairs.select(a.alias("a"), bc.alias("b")).localCheckpoint(eager=False)
    tot = F.broadcast(
        base.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("a") == F.col("b")).cast("long"))
            .cast("long")
            .alias("n_agree"),
        )
    )
    ma = base.groupBy(F.col("a").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("na")
    )
    mb = base.groupBy(F.col("b").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("nb")
    )
    pe = F.broadcast(
        ma.join(mb, "label")
        .crossJoin(tot)
        .select(
            F.round(
                (F.col("na").cast("double") / F.col("n").cast("double"))
                * (F.col("nb").cast("double") / F.col("n").cast("double")),
                12,
            )
            .cast("decimal(25,12)")
            .alias("term")
        )
        .agg(F.coalesce(F.sum("term"), F.lit(0).cast("decimal(25,12)"))
             .cast("double").alias("pe"))
    )
    return tot.crossJoin(pe).select(
        "n",
        "n_agree",
        (F.col("n_agree").cast("double") / F.col("n").cast("double")).alias("po"),
        "pe",
        F.try_divide(
            F.col("n_agree").cast("double") / F.col("n").cast("double")
            - F.col("pe"),
            F.lit(1.0) - F.col("pe"),
        ).alias("kappa"),
    )
