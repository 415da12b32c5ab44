"""Similarity search over embedding columns (beyond-reference surface).

Brute-force cosine top-k as the exactness baseline, and a sign-LSH
(random-hyperplane style, axis-aligned for cross-engine determinism)
bucketed variant as the scale path: candidates are generated by an
equi-join on the bucket key, so the n×m pair space never materializes.

All vector math is in-order double folds over the array columns
(``aggregate(zip…)``) — JVM-side, deterministic, and bit-identical to the
DuckDB mirror (``list_sum(list_transform(range…))``), verified in tests.

At 100 TB: brute-force top-k is a crossJoin(broadcast(queries)) + per-row
expression + TakeOrderedAndProject per query — linear in corpus size with
no shuffle of the corpus; the LSH variant cuts the scanned fraction by the
bucket selectivity. For billion-scale, swap the bucketer for IVF centroids
(same plan shape: assign → equi-join on cell id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """In-order double dot product of two float array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """One-shot cosine. Hot paths below do NOT call this: they precompute
    ``norm`` once per VECTOR (an extra column before the join) instead of
    once per PAIR — same operands, same IEEE result, ~k× less fold work.
    ``try_divide`` yields NULL for zero-norm vectors (ANSI mode would
    otherwise raise DIVIDE_BY_ZERO); downstream selection drops NULLs."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _topk_per_query(
    scored: DataFrame, k: int, query_id_col: str, id_col: str
) -> DataFrame:
    """Bounded-memory exact top-k per query over a scored relation.

    Stage 1 reduces each physical partition to ≤ k candidates per query
    with a streaming heap over Arrow batches (``mapInPandas`` on the
    3-column (query_id, id, cosine) projection) — NO shuffle, state is
    n_queries × k entries per partition. Stage 2 ranks the surviving
    ≤ n_partitions × n_queries × k rows with the exact global window.
    The scored relation itself is never exchanged — replacing the round-1
    plan that shuffled every corpus×queries row (vector payloads included)
    through ``Window.partitionBy(query_id)``.

    Selection-only: candidate cosines are untouched, and the final window
    applies the same (cosine desc, id asc) total order, so results are
    bit-identical to the full-window formulation — with one documented
    exception: NaN cosines (possible only from zero-norm vectors, 0/0) are
    EXCLUDED from candidates here, whereas a raw ``Window.orderBy(desc)``
    would rank NaN first under Spark's NaN-greatest ordering. Ranking a
    zero-norm vector as everyone's best match is never the wanted result,
    and NaN would also corrupt a comparison-based selection, so it is
    filtered explicitly. Ids may be any orderable type (numeric or string).

    The per-batch selection is vectorized numpy (one ``lexsort`` +
    grouped-rank mask per Arrow batch — no Python-per-row work): batch
    rows are appended to the ≤ n_queries × k running buffer and the buffer
    is re-reduced with the exact (query, cosine desc, id asc) order.
    """
    import numpy as np
    import pandas as pd

    narrow = scored.select(query_id_col, id_col, "cosine")

    def select_topk(qids, ids, cos):
        # exact total order (query asc, cosine desc, id asc); last lexsort
        # key is primary
        order = np.lexsort((ids, -cos, qids))
        qs = qids[order]
        starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
        lengths = np.diff(np.r_[starts, len(qs)])
        rank = np.arange(len(qs)) - np.repeat(starts, lengths)
        keep = order[rank < k]
        return qids[keep], ids[keep], cos[keep]

    def local_topk(batches):
        buf_q = buf_i = buf_c = None
        for pdf in batches:
            cos = pdf["cosine"].to_numpy()
            ok = ~np.isnan(cos)
            qids, ids, cos = pdf[query_id_col].to_numpy()[ok], pdf[id_col].to_numpy()[ok], cos[ok]
            if buf_q is not None:
                qids = np.concatenate([buf_q, qids])
                ids = np.concatenate([buf_i, ids])
                cos = np.concatenate([buf_c, cos])
            if len(qids):
                buf_q, buf_i, buf_c = select_topk(qids, ids, cos)
        if buf_q is not None:
            yield pd.DataFrame({query_id_col: buf_q, id_col: buf_i, "cosine": buf_c})

    reduced = narrow.mapInPandas(local_topk, schema=narrow.schema)
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` is broadcast (it is the small side by construction); ranking
    uses a per-query window with a deterministic (cosine desc, id asc)
    tie-break so top-k is stable across engines and partitionings.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("qvec"),
            norm(F.col(vec_col)).alias("__qn"),
        )
    )
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__cn"))
        .crossJoin(q)
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn(
            "cosine",
            F.try_divide(dot(F.col("qvec"), F.col(vec_col)), F.col("__qn") * F.col("__cn")),
        )
    )
    return _topk_per_query(scored, k, query_id_col, id_col)


def l2sq(a: Column, b: Column) -> Column:
    """In-order squared-L2 fold over two float array columns — the
    full-vector analogue of ``_pq_subdist`` (same per-term expression,
    same left-to-right double accumulation, so bit-identical to the
    oracle's ``list_sum(list_transform(...))``)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def brute_force_l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact squared-L2 top-k per query vector — the ground truth an
    L2-metric (ADC/PQ) ranking is measured against; using the cosine
    ground truth would conflate metric disagreement with quantization
    loss (``ann_index.index_recall``'s distinction). Returns
    (query_id, vec_id, l2sq, rank), rank by (l2sq asc, id asc).

    Implementation rides the bounded-memory ``_topk_per_query`` heap by
    negating the distance (top-k by -l2sq desc == l2sq asc; negation is
    an exact IEEE sign flip, ties unchanged), then surfaces the positive
    distance back.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("qvec"),
        )
    )
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .crossJoin(q)
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn("cosine", -l2sq(F.col("qvec"), F.col(vec_col)))
    )
    return _topk_per_query(scored, k, query_id_col, id_col).select(
        query_id_col, id_col, (-F.col("cosine")).alias("l2sq"), "rank"
    )


def component_means(
    emb: DataFrame, n_dims: int, vec_col: str = "embedding"
) -> DataFrame:
    """ONE broadcastable row ``(__mus array<double>)``: exact per-dimension
    means of the first ``n_dims`` components (the ``embedding_covariance``
    mean kernel, sliced to the bucketed prefix).

    Determinism: component sums as DECIMAL(25,9) of 9-dp-snapped values
    (partial aggregation collapses the corpus map-side; ≤ n_dims groups),
    one exact double division by n — bit-identical cross-engine and under
    any partitioning, the property the centered sign buckets inherit.

    The returned row is localCheckpoint'ed (lazy): a bucketed operator
    instantiates it in several plan branches (corpus side, probe side,
    and again through downstream lineage duplication), and without the
    checkpoint Catalyst re-executes the full mean aggregation — i.e. two
    EXTRA CORPUS SCANS per instantiation — in every branch (measured: 12
    parquet scans in knn_graph's plan vs 4 with the checkpoint). The
    checkpoint pins one tiny row and truncates the lineage, so the means
    job runs exactly once per operator."""
    n_row = F.broadcast(emb.agg(F.count(F.lit(1)).alias("__n")))
    # non-finite components (NULL / NaN / overflow) are excluded with the
    # SAME explicit predicate embedding_audit uses, mapped to NULL so both
    # engines' sum() skips them identically — without the guard Spark's
    # round→decimal cast silently NULLs a NaN while DuckDB's
    # CAST(NaN AS DECIMAL) errors, a latent cross-engine divergence
    comp = emb.select(
        F.posexplode(
            F.slice(F.col(vec_col).cast("array<double>"), 1, n_dims)
        ).alias("i", "vi")
    ).select(
        "i",
        F.when(
            F.col("vi").isNotNull()
            & ~F.isnan("vi")
            & (F.abs("vi") <= F.lit(1e308)),
            F.col("vi"),
        ).alias("vi"),
    )
    means = (
        comp.groupBy("i")
        .agg(F.sum(F.round(F.col("vi"), 9).cast("decimal(25,9)")).alias("s"))
        .crossJoin(n_row)
        .select(
            "i",
            (F.col("s").cast("double") / F.col("__n").cast("double")).alias("mu"),
        )
    )
    return means.groupBy().agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i", "mu"))), lambda s: s.mu
        ).alias("__mus")
    ).localCheckpoint(eager=False)


def sign_bucket(vec: Column, n_bits: int = 12, means: Column | None = None) -> Column:
    """Axis-aligned sign-LSH bucket: bit j = (vec[j] - means[j] > 0), with
    ``means`` defaulting to the origin. Deterministic in any engine; for
    zero-centered embeddings this approximates random-hyperplane LSH with
    planes = coordinate axes.

    CENTER BEFORE BUCKETING for real embedding tables (pass the broadcast
    ``component_means`` array): production embedding models emit
    positively-shifted dimensions, so raw sign bits pile most of the
    corpus into one mega-bucket and any bucket self-join degenerates
    toward quadratic at scale. Subtracting the exact per-dim means splits
    every dimension ~half/half, rebalancing the bucket histogram at
    unchanged recall semantics (the comparison is one IEEE subtraction of
    a deterministic double — still bit-identical cross-engine)."""
    bucket = F.lit(0).cast("long")
    for j in range(n_bits):
        comp = F.element_at(vec, j + 1).cast("double")
        if means is not None:
            comp = comp - F.element_at(means, j + 1)
        bucket = bucket + F.when(comp > 0, F.lit(1 << j)).otherwise(
            F.lit(0)
        ).cast("long")
    return bucket


# --------------------------------------------------------------------------
# Bucket-count auto-derivation. The candidate pair space of every
# sign-bucket operator is ~n²/2^n_bits by construction, so a FIXED bit
# count is a default-configuration scale-killer: 100× the corpus at the
# same bits = 10,000× the pairs. The engine therefore derives the default
# from the corpus itself — callers only pass ``n_bits`` to override.
# --------------------------------------------------------------------------

AUTO_BITS_LO = 4
AUTO_BITS_HI = 24
# per-operator expected-bucket-size targets: a top-k graph tolerates
# wider buckets (it keeps k rows per src) than an all-pairs neardup scan
# (which keeps every pair over the threshold). Values are chosen so the
# derivation reproduces the hand-tuned bit counts at today's fixture
# sizes and holds the pair space ~linear in n beyond them.
KNN_TARGET_BUCKET_ROWS = 32
LSH_TARGET_BUCKET_ROWS = 2
NEARDUP_TARGET_BUCKET_ROWS = 1


def auto_bits(
    n_rows: int,
    target_bucket_rows: int,
    lo: int = AUTO_BITS_LO,
    hi: int = AUTO_BITS_HI,
    max_dim: int | None = None,
) -> int:
    """``clamp(ceil(log2(n / target_bucket_rows)), lo, hi)`` in its
    threshold-count form: ``lo + |{j in [lo, hi) : n > target * 2^j}|``.

    The two forms are equal (the count is how many doublings past ``lo``
    the corpus still overflows), but the threshold form is pure integer
    comparison — no ``log2``, whose last-ulp libm differences across
    engines could flip a ``ceil`` at an exact power-of-two boundary. The
    DuckDB oracle mirror (``plans.text_queries._nb_cte``) evaluates the
    SAME comparisons, so the derived bit count is bit-exact cross-engine.

    ``hi`` is additionally capped at ``max_dim`` (the bucketer reads one
    embedding component per bit; indexing past the vector would raise
    under ANSI mode in Spark while DuckDB silently NULLs).
    """
    if max_dim is not None:
        hi = max(lo, min(hi, max_dim))
    return lo + sum(1 for j in range(lo, hi) if n_rows > target_bucket_rows * (1 << j))


def derive_bits(
    corpus: DataFrame,
    target_bucket_rows: int,
    vec_col: str = "embedding",
    lo: int = AUTO_BITS_LO,
    hi: int = AUTO_BITS_HI,
) -> int:
    """Corpus-derived sign-bucket width: one O(1) adaptive-planning action
    (a two-scalar aggregate — row count + min vector length — fetched to
    the driver, the same kind of runtime statistic AQE plans on). The bit
    count must be a plan-build integer because ``sign_bucket`` unrolls one
    comparison per bit into whole-stage codegen; deriving it here is what
    keeps the candidate pair space ~``target_bucket_rows × n`` instead of
    quadratic when a caller runs the defaults on a 100× corpus.
    """
    row = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(
            F.when(F.col(vec_col).isNotNull(), F.size(F.col(vec_col)))
        ).alias("d"),
    ).head()
    max_dim = row["d"] if row["d"] is not None else lo
    return auto_bits(row["n"], target_bucket_rows, lo, hi, max_dim=max_dim)


# --------------------------------------------------------------------------
# IVF cell-count auto-derivation — the same default-configuration
# scale-killer as fixed sign-bucket widths, one operator family over: a
# FIXED n_cells means cell size (and therefore the probed candidate set,
# n_probe/n_cells of the corpus) grows LINEARLY with the corpus. The
# derived default follows the textbook nlist ~ sqrt(n) balance (FAISS's
# guideline): assignment work (n x n_cells centroid comparisons) and the
# probed candidate set (n_probe x n/n_cells rows) BOTH grow ~sqrt(n) —
# a linear cells rule would hold the scan flat but make assignment
# quadratic, and a fixed count makes the scan linear. n_probe stays the
# caller's recall knob.
# --------------------------------------------------------------------------

AUTO_CELLS_LO = 16
AUTO_CELLS_HI = 4096
TARGET_CELL_ROWS = 512
_CELLS_DOUBLINGS = 24


def auto_cells(
    n_rows: int,
    target_cell_rows: int = TARGET_CELL_ROWS,
    lo: int = AUTO_CELLS_LO,
    hi: int = AUTO_CELLS_HI,
) -> int:
    """``clamp(2^ceil(b/2), lo, hi)`` with ``b = |{j >= 0 : target * 2^j
    < n}|`` — the power-of-two form of ``sqrt(n / target)``, computed by
    the ``auto_bits`` threshold-count idiom: pure integer comparisons
    and shifts, no sqrt/log whose last-ulp libm differences could flip a
    boundary, so the DuckDB mirror derives the identical count at any
    scale. Both gate fixtures land on ``lo`` (500 and 5000 rows at
    target 512), so switching the IVF queries to auto changed no oracle
    value; at 1e9 rows the default reaches 2048 cells (~0.2% of the
    corpus probed at n_probe=4) while assignment stays ~2k comparisons
    per vector."""
    b = sum(
        1
        for j in range(_CELLS_DOUBLINGS)
        if n_rows > target_cell_rows * (1 << j)
    )
    return max(lo, min(hi, 1 << ((b + 1) // 2)))


def derive_cells(
    corpus: DataFrame, target_cell_rows: int = TARGET_CELL_ROWS
) -> int:
    """Corpus-derived IVF cell count: one O(1) count action (the
    ``derive_bits`` adaptive-planning idiom — n_cells must be a
    plan-build integer because it sizes the centroid ``limit`` and the
    broadcast struct array)."""
    return auto_cells(corpus.count(), target_cell_rows)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates share the query's sign bucket.

    Equi-join on the bucket key replaces the cross join — the scale path.
    Recall is traded for the bucket selectivity (~2^-n_bits of the corpus
    per probe bucket with balanced signs). Buckets are CENTERED on the
    exact corpus per-dim means (``component_means``, one broadcast row) —
    query vectors center on the same corpus means so probe buckets match;
    see ``sign_bucket`` for why centering is the 100 TB-safe shape.

    ``n_bits`` defaults to the corpus-derived width (``derive_bits`` with
    a ~2-row expected bucket), so the scanned fraction per probe stays
    ~``target/n`` as the corpus grows instead of decaying quadratically
    at a fixed width.
    """
    if n_bits is None:
        n_bits = derive_bits(corpus, LSH_TARGET_BUCKET_ROWS, vec_col)
    mu = F.broadcast(component_means(corpus, n_bits, vec_col))
    cb = corpus.crossJoin(mu).select(
        F.col(id_col), F.col(vec_col),
        sign_bucket(F.col(vec_col), n_bits, F.col("__mus")).alias("bucket"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    qb = F.broadcast(
        queries.crossJoin(mu).select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("qvec"),
            sign_bucket(F.col(vec_col), n_bits, F.col("__mus")).alias("bucket"),
            norm(F.col(vec_col)).alias("__qn"),
        )
    )
    scored = (
        cb.join(qb, "bucket")
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn(
            "cosine",
            F.try_divide(dot(F.col("qvec"), F.col(vec_col)), F.col("__qn") * F.col("__cn")),
        )
    )
    return _topk_per_query(scored, k, query_id_col, id_col)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    fit_corpus: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means centroids partition the corpus into
    cells; each query probes its ``n_probe`` nearest cells and ranks only
    those candidates — the standard billion-scale recipe (a coarse
    quantizer in front of exact scoring).

    Plan shape at scale: one KMeans fit on a sample, one cell-assignment
    pass, then an equi-join on cell id — candidates ≈ n_probe/n_cells of
    the corpus per query instead of all of it.

    ``fit_corpus`` (same schema as ``corpus``) feeds ONLY the quantizer
    fit (r15, guide §2.2): a pyspark.ml fit launches one job per
    optimizer round, so a caller whose ``corpus`` carries the
    input-spread repartition can hand the fit the natural (unspread)
    scan instead — the spread helps wide map stages, but for the
    iterative fit loop it multiplies per-round task fan-out. Assignment,
    probing and scoring still run on ``corpus``.

    Partitioning: KMeans' k-means|| init samples per partition, so a fit
    on a differently partitioned ``fit_corpus`` (or ``corpus``) can pick
    other centroids and so other cells and top-k rows. The result is not
    bit-identical across partitionings; the recall gate against the
    brute-force top-k is the contract here.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if n_cells is None:
        n_cells = derive_cells(corpus)

    def _vecs(src: DataFrame) -> DataFrame:
        return src.select(
            F.col(id_col), F.col(vec_col),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("__v"),
        )

    vecs = _vecs(corpus)
    km = KMeans(featuresCol="__v", predictionCol="cell", k=n_cells, seed=seed).fit(
        _vecs(fit_corpus) if fit_corpus is not None else vecs
    )
    assigned = km.transform(vecs).select(
        id_col, vec_col, "cell", norm(F.col(vec_col)).alias("__cn")
    )

    centroids = [[float(x) for x in c] for c in km.clusterCenters()]
    cent_df = F.broadcast(
        corpus.sparkSession.createDataFrame(
            [(i, c) for i, c in enumerate(centroids)], "cell int, centroid array<double>"
        )
    )
    # each query ranks centroids and keeps its n_probe nearest cells
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("__qn"),
    ).crossJoin(cent_df).withColumn("cdist", dot(F.col("qvec"), F.col("centroid")))
    wq = Window.partitionBy(query_id_col).orderBy(F.desc("cdist"), F.asc("cell"))
    probes = (
        q.withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= n_probe)
        .select(query_id_col, "qvec", "__qn", "cell")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn(
            "cosine",
            F.try_divide(dot(F.col("qvec"), F.col(vec_col)), F.col("__qn") * F.col("__cn")),
        )
    )
    out = _topk_per_query(scored, k, query_id_col, id_col)
    return out.withColumn("rank", F.col("rank").cast("int"))


def fixed_centroid_cells(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF coarse quantizer: centroids are a SEEDED SAMPLE of
    the corpus itself — the ``n_cells`` vectors with the smallest Knuth
    multiplicative hash of their id (the same engine-portable hash the
    mixture sampler uses), tie-broken by id. Random-sample centroids are a
    standard IVF baseline quantizer, and unlike k-means the pick is
    expressible identically in ANSI SQL, so IVF results — and therefore
    recall — are oracle-checkable bit-for-bit.

    Returns a ONE-ROW frame holding the centroid list as an array of
    (cell, cvec, cvn) structs: broadcast-crossed into the corpus, cell
    assignment becomes a pure map-side array expression — zero shuffle and
    zero driver collect at any corpus size (the pick itself is a
    TakeOrderedAndProject over the narrow (id, vec) projection).
    """
    from big_data_elt_pipeline_spark.operators.sampling import (
        SAMPLE_A,
        SAMPLE_C,
        SAMPLE_M,
    )

    h = (
        F.col(id_col).cast("long") % F.lit(SAMPLE_M) * F.lit(SAMPLE_A)
        + F.lit(SAMPLE_C)
    ) % F.lit(SAMPLE_M)
    cents = (
        corpus.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("cvec"), h.alias("__h"))
        .orderBy("__h", "cell")
        .limit(n_cells)
        .select("cell", "cvec", norm(F.col("cvec")).alias("cvn"))
    )
    return cents.agg(F.collect_list(F.struct("cell", "cvec", "cvn")).alias("__cents"))


def ivf_fixed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN with the deterministic sampled-centroid quantizer
    (``fixed_centroid_cells``): each corpus vector lives in the cell of its
    nearest centroid (cosine, ties to the lowest cell id); each query
    probes its ``n_probe`` nearest cells; only those candidates are ranked.

    Scale shape: assignment is ``array_max`` over the broadcast centroid
    struct list — one codegen map pass, NO shuffle and NO per-vector
    window (a ``Window.partitionBy(vec_id)`` over the corpus x n_cells
    relation would shuffle 16x the corpus); probing is the same expression
    with ``array_sort``+``slice`` on the tiny query side; candidates come
    from the cell equi-join, then the bounded-memory ``_topk_per_query``
    reducer. Zero-norm vectors (NULL cosine under ``try_divide``) are
    assumed absent, as everywhere in this module.
    """

    if n_cells is None:
        n_cells = derive_cells(corpus)

    def cos_to(vec: Column, vn: Column):
        return lambda ct: F.try_divide(dot(vec, ct["cvec"]), vn * ct["cvn"])

    cents1 = F.broadcast(fixed_centroid_cells(corpus, n_cells, id_col, vec_col))

    c = corpus.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__cn")
    ).crossJoin(cents1)
    # argmax(cosine) via lexicographic struct max: highest cosine, then
    # highest -cell == lowest cell — identical to the oracle's
    # row_number() ORDER BY cos DESC, cell ASC
    best = F.array_max(
        F.transform(
            F.col("__cents"),
            lambda ct: F.struct(
                cos_to(F.col(vec_col), F.col("__cn"))(ct).alias("cos"),
                (-ct["cell"]).alias("negcell"),
            ),
        )
    )
    assigned = c.select(
        F.col(id_col), F.col(vec_col), F.col("__cn"), (-best["negcell"]).alias("cell")
    )

    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("__qn"),
    ).crossJoin(cents1)
    ranked_cells = F.slice(
        F.array_sort(
            F.transform(
                F.col("__cents"),
                lambda ct: F.struct(
                    (-cos_to(F.col("qvec"), F.col("__qn"))(ct)).alias("negcos"),
                    ct["cell"].alias("cell"),
                ),
            )
        ),
        1,
        n_probe,
    )
    probes = (
        q.select(query_id_col, "qvec", "__qn", F.explode(ranked_cells).alias("pr"))
        .select(query_id_col, "qvec", "__qn", F.col("pr.cell").alias("cell"))
    )

    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn(
            "cosine",
            F.try_divide(dot(F.col("qvec"), F.col(vec_col)), F.col("__qn") * F.col("__cn")),
        )
    )
    out = _topk_per_query(scored, k, query_id_col, id_col)
    return out.withColumn("rank", F.col("rank").cast("int"))


def ivf_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Recall@k of the deterministic IVF against exact brute force, as ONE
    scalar row: (n_queries, k, recall_at_k, min_recall).

    The aggregation is integer until the final division — total hit count
    and min per-query hits are exact longs, and ``hits/(n_queries*k)`` is
    a single integer→double division — so the result is bit-identical in
    any engine regardless of float summation order (a mean over per-query
    double recalls would not be).
    """
    bf = brute_force_topk(corpus, queries, k, id_col, vec_col, query_id_col)
    ivf = ivf_fixed_topk(corpus, queries, k, n_cells, n_probe, id_col, vec_col, query_id_col)
    return _recall_rollup(ivf, bf, queries, k, id_col, query_id_col)


def _recall_rollup(
    found: DataFrame, truth: DataFrame, queries: DataFrame, k: int,
    id_col: str, query_id_col: str,
) -> DataFrame:
    """(n_queries, k, recall_at_k, min_recall) of the top-k relation
    ``found`` against the exact top-k ``truth``, one row: integer hit
    counts until two final divisions (``ivf_recall``'s exactness note)."""
    # both top-k relations are <= n_queries x k rows by construction —
    # broadcast them so the recall rollup never sort-merge-joins
    hits = found.select(query_id_col, id_col).join(
        F.broadcast(truth.select(query_id_col, id_col)), [query_id_col, id_col]
    )
    per = (
        queries.select(F.col(id_col).alias(query_id_col))
        .join(
            F.broadcast(hits.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("h"))),
            query_id_col,
            "left",
        )
        .na.fill({"h": 0})
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("h").cast("long").alias("__hits"),
        F.min("h").cast("long").alias("__minh"),
    ).select(
        "n_queries",
        F.lit(k).cast("int").alias("k"),
        (F.col("__hits").cast("double") / (F.col("n_queries") * F.lit(k))).alias("recall_at_k"),
        (F.col("__minh").cast("double") / F.lit(k)).alias("min_recall"),
    )


def embedding_neardup(
    corpus: DataFrame,
    threshold: float = 0.99,
    n_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-bucket blocking:
    near-identical vectors share all sign bits, so the self-equi-join on the
    bucket catches them without the O(n²) cross join. Buckets are centered
    on the exact corpus per-dim means (``component_means``) so the blocking
    stays balanced on positively-shifted real embeddings — near-identical
    vectors still agree on every centered bit (they subtract the SAME
    means), so the candidate contract is unchanged.

    ``n_bits`` defaults to the corpus-derived width (``derive_bits`` with a
    ~1-row expected bucket — the tightest target in the family, because an
    all-pairs scan keeps EVERY pair over the threshold): the self-join pair
    space stays ~n instead of n²/2^const as the corpus grows."""
    if n_bits is None:
        n_bits = derive_bits(corpus, NEARDUP_TARGET_BUCKET_ROWS, vec_col)
    mu = F.broadcast(component_means(corpus, n_bits, vec_col))
    b = corpus.crossJoin(mu).select(
        F.col(id_col), F.col(vec_col),
        sign_bucket(F.col(vec_col), n_bits, F.col("__mus")).alias("bucket"),
        norm(F.col(vec_col)).alias("__n"),
    )
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(r, "bucket")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .withColumn(
            "cosine",
            F.try_divide(
                dot(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")),
                F.col("l.__n") * F.col("r.__n"),
            ),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        .select(
            F.col(f"l.{id_col}").alias("id1"),
            F.col(f"r.{id_col}").alias("id2"),
            "cosine",
        )
    )


# --------------------------------------------------------------------------
# Scalar-quantized (SQ8) ANN: int8 codes for the candidate pass, exact
# rerank on the survivors — the memory-bandwidth scale path.
# --------------------------------------------------------------------------

def sq8_train(
    corpus: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension quantizer stats as ONE broadcastable row:
    ``(mns array<double>, scs array<double>)`` with ``scs[i] = 128/(mx-mn)``
    (0.0 for constant dimensions).

    Scale shape: ``posexplode`` is a generator (map-only); the
    ``groupBy(pos)`` min/max aggregate is partially aggregated map-side, so
    the only exchange is |dims| × n_partitions tiny rows; the final
    ``collect_list`` over |dims| rows happens on a single reducer by
    construction (dims ≤ a few thousand). Nothing here depends on corpus
    row count beyond the first linear scan.
    """
    per_dim = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
    )
    ordered = F.array_sort(F.collect_list(F.struct("pos", "mn", "mx")))
    return per_dim.agg(
        F.transform(ordered, lambda s: s["mn"]).alias("mns"),
        F.transform(
            ordered,
            lambda s: F.when(
                s["mx"] > s["mn"], F.lit(128.0) / (s["mx"] - s["mn"])
            ).otherwise(F.lit(0.0)),
        ).alias("scs"),
    )


def sq8_encode(vec: Column, mns: Column, scs: Column) -> Column:
    """int8-range code per dimension: ``clamp(floor((x - mn) * sc), 0, 127)``.
    Pure floor/min/max double math — bit-identical in any IEEE engine (no
    round-half-even ambiguity; ``floor`` is exact)."""
    return F.transform(
        vec,
        lambda x, i: F.least(
            F.lit(127),
            F.greatest(
                F.lit(0),
                F.floor(
                    (x.cast("double") - F.element_at(mns, i + F.lit(1)))
                    * F.element_at(scs, i + F.lit(1))
                ),
            ),
        ).cast("long"),
    )


def sq8_reconstruct(code: Column, mns: Column, scs: Column) -> Column:
    """Mid-bucket dequantization ``mn + (code + 0.5)/sc`` (constant dims
    reconstruct to ``mn``). Division by the stored scale keeps the math the
    exact inverse of :func:`sq8_encode` in both engines."""
    return F.transform(
        code,
        lambda c, i: F.when(
            F.element_at(scs, i + F.lit(1)) > 0,
            F.element_at(mns, i + F.lit(1))
            + (c.cast("double") + F.lit(0.5)) / F.element_at(scs, i + F.lit(1)),
        ).otherwise(F.element_at(mns, i + F.lit(1))),
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    overfetch: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Scalar-quantized ANN: exact cosine top-``k`` computed by reranking
    the top-``k*overfetch`` candidates of a quantized (SQ8) first pass.

    Why this is the 100 TB path: the candidate scan touches only the int8
    codes (64 B/vector at d=64 instead of 256 B of float32) plus one
    broadcast stats row — a 4× memory-bandwidth cut on the pass that reads
    the WHOLE corpus — while the float vectors are fetched for just
    ``k*overfetch`` survivors per query. The candidate pass reuses the
    bounded-memory streaming top-k (no corpus shuffle); the rerank joins
    |queries|*k*overfetch ids back to the corpus (AQE picks a broadcast
    for the candidate side). Candidate scores are cosines over the
    deterministically dequantized codes, so the candidate SET — and hence
    the exact reranked result — is bit-identical across engines.
    """
    stats = F.broadcast(sq8_train(corpus, vec_col))
    recon = (
        corpus.crossJoin(stats)
        .select(
            F.col(id_col),
            sq8_reconstruct(
                sq8_encode(F.col(vec_col), F.col("mns"), F.col("scs")),
                F.col("mns"),
                F.col("scs"),
            ).alias("xhat"),
        )
        .withColumn("__cn", norm(F.col("xhat")))
    )
    q = F.broadcast(
        recon.join(queries.select(id_col), id_col).select(
            F.col(id_col).alias(query_id_col),
            F.col("xhat").alias("qhat"),
            F.col("__cn").alias("__qn"),
        )
    )
    scored = (
        recon.crossJoin(q)
        .filter(F.col(query_id_col) != F.col(id_col))
        .withColumn(
            "cosine",
            F.try_divide(
                dot(F.col("qhat"), F.col("xhat")), F.col("__qn") * F.col("__cn")
            ),
        )
    )
    cand = _topk_per_query(scored, k * overfetch, query_id_col, id_col).select(
        query_id_col, id_col
    )
    qx = F.broadcast(
        corpus.join(queries.select(id_col), id_col).select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("qvec"),
            norm(F.col(vec_col)).alias("__qn"),
        )
    )
    rer = (
        cand.join(
            corpus.select(F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__cn")),
            id_col,
        )
        .join(qx, query_id_col)
        .withColumn(
            "cosine",
            F.try_divide(
                dot(F.col("qvec"), F.col(vec_col)), F.col("__qn") * F.col("__cn")
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


# --------------------------------------------------------------------------
# Product-quantized (PQ) ANN: per-subspace codebooks + asymmetric distance
# computation (ADC) — the billion-scale memory-compression standard
# (Jégou, Douze, Schmid: "Product quantization for nearest neighbor
# search", TPAMI 2011). sq8 above compresses per DIMENSION (4x); PQ
# compresses per SUBSPACE (m bytes per vector at any dimension — 8 B for
# d=64 here, a 32x cut), which is what makes in-memory billion-vector
# scans possible.
# --------------------------------------------------------------------------

def pq_codebooks(
    corpus: DataFrame,
    n_cents: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE broadcastable row: ``n_cents`` hash-sampled training vectors as
    (cid, cvec) structs; subspace ``j``'s codebook entry ``cid`` is the
    ``j``-th subvector of ``cvec``. The sample is the same Knuth
    multiplicative-hash pick as ``fixed_centroid_cells`` (deterministic,
    SQL-expressible — k-means codebooks would be engine-defined and
    unhashable; sampled codebooks are the standard determinism-preserving
    baseline, and the PQ plumbing is identical either way)."""
    from big_data_elt_pipeline_spark.operators.sampling import (
        SAMPLE_A,
        SAMPLE_C,
        SAMPLE_M,
    )

    h = (
        F.col(id_col).cast("long") % F.lit(SAMPLE_M) * F.lit(SAMPLE_A)
        + F.lit(SAMPLE_C)
    ) % F.lit(SAMPLE_M)
    cents = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"), h.alias("__h"))
        .orderBy("__h", "cid")
        .limit(n_cents)
        .select("cid", F.col("cvec").cast("array<double>").alias("cvec"))
    )
    return cents.agg(F.collect_list(F.struct("cid", "cvec")).alias("__cents"))


def _pq_subdist(vec: Column, cvec: Column, j: Column, dsub: int) -> Column:
    """Squared L2 distance between subvectors ``j`` of ``vec`` and
    ``cvec``: an in-order double fold over the ``dsub`` dimensions —
    bit-identical to the oracle's ``list_sum(list_transform(range(...)))``
    (the ``dot``/``_cos`` discipline)."""
    return F.aggregate(
        F.sequence(j * F.lit(dsub), j * F.lit(dsub) + F.lit(dsub - 1)),
        F.lit(0.0),
        lambda acc, i: acc
        + (
            (F.element_at(vec, (i + 1).cast("int")).cast("double")
             - F.element_at(cvec, (i + 1).cast("int")))
            * (F.element_at(vec, (i + 1).cast("int")).cast("double")
               - F.element_at(cvec, (i + 1).cast("int")))
        ),
    )


def pq_encode(
    corpus: DataFrame,
    books: DataFrame,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, j, code): each vector's nearest codebook entry per subspace
    (squared L2, ties to the lowest cid). The argmin is ``array_max`` over
    the broadcast codebook struct array — one codegen map pass per
    (vector, subspace), NO shuffle and NO per-vector window (the
    ``ivf_fixed_topk`` assignment discipline)."""
    v = F.col(vec_col)
    best = F.array_max(
        F.transform(
            F.col("__cents"),
            lambda ct: F.struct(
                (-_pq_subdist(v, ct["cvec"], F.col("j"), dsub)).alias("nd"),
                (-ct["cid"]).alias("nc"),
            ),
        )
    )
    return (
        corpus.crossJoin(F.broadcast(books))
        .select(
            id_col, vec_col, "__cents",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
        )
        .select(F.col(id_col), F.col("j").cast("int").alias("j"), (-best["nc"]).alias("code"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    dsub: int = 8,
    n_cents: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ/ADC approximate top-k by squared L2: corpus vectors are m-byte
    code tuples; each query precomputes an m x n_cents lookup table of
    partial distances to the codebook entries, and a vector's approximate
    distance is the sum of m table lookups — the scan never touches the
    float corpus.

    Scale shape: encoding and the LUT are map-side against one broadcast
    codebook row; the ADC scan is an equi-join of the (id, j, code)
    relation with the BROADCAST lut on (j, code) followed by a partial-
    aggregated groupBy (query, id) sum — the join output is m rows per
    (query, vector) pair of a few-byte payload, the memory-bandwidth
    profile PQ exists for. At billion scale the same plan composes with
    the IVF cell join (IVF-PQ) to make the candidate set sublinear.

    Determinism: every partial distance is an in-order double fold
    snapped to DECIMAL(25,9); the ADC sum is a decimal sum (associative,
    partitioning-independent), so ranks — and the driver value hash —
    are bit-identical cross-engine. Ties break to the lowest id."""
    books = pq_codebooks(corpus, n_cents, id_col, vec_col)
    codes = pq_encode(corpus, books, m, dsub, id_col, vec_col)
    qv = F.col(vec_col)
    lut = (
        queries.crossJoin(F.broadcast(books))
        .select(
            F.col(id_col).alias(query_id_col),
            vec_col,
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
            F.col("__cents"),
        )
        .select(
            query_id_col,
            F.col("j").cast("int").alias("j"),
            F.explode("__cents").alias("ct"),
            qv.alias("__qv"),
        )
        .select(
            query_id_col,
            "j",
            F.col("ct.cid").alias("code"),
            F.round(_pq_subdist(F.col("__qv"), F.col("ct.cvec"), F.col("j"), dsub), 9)
            .cast("decimal(25,9)")
            .alias("pd"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["j", "code"])
        .filter(F.col(query_id_col) != F.col(id_col))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("pd").cast("double").alias("adc_l2sq"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_l2sq"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc_l2sq", "rank")
    )


def ivfpq_encode_relations(
    corpus: DataFrame,
    n_cells: int | None = None,
    m: int = 8,
    dsub: int = 8,
    n_cents: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The IVF-PQ BUILD stage: returns ``(encoded, cells, books)`` —
    the (id, cell, j, code) encoded corpus plus the two broadcast one-row
    quantizer state frames (coarse centroids as ``__cells``, PQ codebooks
    as ``__cents``). Cell id and the m codes are computed in ONE map pass
    per corpus vector (the ``ivf_fixed_topk`` argmax + ``pq_encode``
    argmin disciplines — no shuffle, no per-vector window). Shared by the
    per-call ``ivfpq_topk`` and the persisted build-once / probe-many
    index (``operators/ann_index.py``)."""
    if n_cells is None:
        n_cells = derive_cells(corpus)
    cells = F.broadcast(
        fixed_centroid_cells(corpus, n_cells, id_col, vec_col)
        .select(F.col("__cents").alias("__cells"))
    )
    books = F.broadcast(pq_codebooks(corpus, n_cents, id_col, vec_col))
    encoded = ivfpq_encode_with_state(
        corpus, cells, books, m, dsub, id_col, vec_col
    )
    return encoded, cells, books


def ivfpq_encode_with_state(
    corpus: DataFrame,
    cells: DataFrame,
    books: DataFrame,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode ``corpus`` against GIVEN quantizer state (the two one-row
    broadcast frames) — the ingest half of index maintenance: a delta
    batch is encoded with the STORED quantizers, so existing codes stay
    valid and an append is one map pass over the delta only
    (``ann_index.append_to_index``)."""
    v = F.col(vec_col)
    # argmax(cosine to centroid) — highest cos, ties to lowest cell id
    best_cell = F.array_max(
        F.transform(
            F.col("__cells"),
            lambda ct: F.struct(
                F.try_divide(dot(v, ct["cvec"]), F.col("__cn") * ct["cvn"]).alias("cos"),
                (-ct["cell"]).alias("negcell"),
            ),
        )
    )
    # argmin(subspace L2) per exploded j — lowest distance, ties to lowest cid
    best_code = F.array_max(
        F.transform(
            F.col("__cents"),
            lambda ct: F.struct(
                (-_pq_subdist(v, ct["cvec"], F.col("j"), dsub)).alias("nd"),
                (-ct["cid"]).alias("nc"),
            ),
        )
    )
    # the struct-field access and the generator must live in SEPARATE
    # projections — an explode alongside best_cell["negcell"] makes the
    # analyzer re-derive the lambda struct's field names as col1/col2
    encoded = (
        corpus.select(F.col(id_col), v, norm(v).alias("__cn"))
        .crossJoin(cells)
        .crossJoin(books)
        .select(
            F.col(id_col),
            v,
            (-best_cell["negcell"]).alias("cell"),
            F.col("__cents"),
        )
        .select(
            F.col(id_col),
            v,
            "cell",
            "__cents",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
        )
        .select(
            F.col(id_col),
            "cell",
            F.col("j").cast("int").alias("j"),
            (-best_code["nc"]).alias("code"),
        )
    )
    return encoded


def ivfpq_adc_scan(
    encoded: DataFrame,
    cells: DataFrame,
    books: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """The IVF-PQ PROBE stage over an already-encoded corpus: probes on
    cell (the pruning join), the query LUT on (query, j, code), then one
    partial-aggregated decimal sum per (query, candidate). The float
    corpus is never touched — queries cost |queries| x state work plus
    the pruned code scan, which is what makes a persisted index
    (build once, probe many) the 100 TB serving shape."""
    # query side: n_probe nearest cells (slice of the sorted broadcast
    # struct array — the ivf_fixed_topk probe shape)
    q = queries.select(
        F.col(id_col).alias(query_id_col),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("__qn"),
    ).crossJoin(cells)
    ranked_cells = F.slice(
        F.array_sort(
            F.transform(
                F.col("__cells"),
                lambda ct: F.struct(
                    (-F.try_divide(
                        dot(F.col("qvec"), ct["cvec"]), F.col("__qn") * ct["cvn"]
                    )).alias("negcos"),
                    ct["cell"].alias("cell"),
                ),
            )
        ),
        1,
        n_probe,
    )
    probes = q.select(
        query_id_col, F.explode(ranked_cells).alias("pr")
    ).select(query_id_col, F.col("pr.cell").alias("cell"))

    # query LUT: m x n_cents decimal-snapped partial distances
    lut = (
        queries.crossJoin(books)
        .select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias("__qv"),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
            F.col("__cents"),
        )
        .select(
            query_id_col,
            F.col("j").cast("int").alias("j"),
            F.explode("__cents").alias("ct"),
            F.col("__qv"),
        )
        .select(
            query_id_col,
            "j",
            F.col("ct.cid").alias("code"),
            F.round(_pq_subdist(F.col("__qv"), F.col("ct.cvec"), F.col("j"), dsub), 9)
            .cast("decimal(25,9)")
            .alias("pd"),
        )
    )

    scored = (
        encoded.join(F.broadcast(probes), "cell")
        .join(F.broadcast(lut), [query_id_col, "j", "code"])
        .filter(F.col(query_id_col) != F.col(id_col))
        .groupBy(query_id_col, id_col)
        .agg(F.sum("pd").cast("double").alias("adc_l2sq"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.asc("adc_l2sq"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "adc_l2sq", "rank")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | None = None,
    n_probe: int = 4,
    m: int = 8,
    dsub: int = 8,
    n_cents: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ (Jégou et al., TPAMI 2011 §V): the coarse quantizer prunes
    the candidate set to the query's ``n_probe`` nearest cells and the PQ
    codes pay for the scan — the composition both halves exist for, and
    THE billion-vector serving layout (FAISS ``IVFx,PQy``). Candidates
    drop to ~n_probe/n_cells of the corpus AND each candidate costs m
    LUT lookups instead of a d-dim float fold.

    This per-call form re-encodes the corpus every invocation (build +
    probe in one plan — what the recall-floor oracle needs); production
    serving materializes the build ONCE via
    ``operators/ann_index.build_ivfpq_index`` and probes the stored
    codes (``ann_index.ivfpq_probe``), paying only the scan per query
    batch. Both paths share ``ivfpq_encode_relations`` /
    ``ivfpq_adc_scan``, so stored-index answers are bit-identical to
    this form's.

    Determinism: sampled centroids and codebooks (the SQL-expressible
    pick), decimal-snapped partial distances — the full ADC ranking is
    value-hashable cross-engine. Ties break to the lowest id.
    """
    encoded, cells, books = ivfpq_encode_relations(
        corpus, n_cells, m, dsub, n_cents, id_col, vec_col
    )
    return ivfpq_adc_scan(
        encoded, cells, books, queries, k, n_probe, m, dsub,
        id_col, vec_col, query_id_col,
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cand: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    candidates: DataFrame | None = None,
    round_partitions: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR
    1998): from each query's ``n_cand`` exact-cosine candidates, pick ``k``
    iteratively by ``lam * rel(d) - (1 - lam) * max_{s in S} sim(d, s)`` —
    the standard diversified-retrieval pass between ANN candidate
    generation and a RAG context window (near-identical passages burn
    context tokens; MMR keeps the relevant AND mutually-distant ones).

    Scale shape: the expensive part is candidate generation
    (``brute_force_topk`` by default; pass ``candidates`` — any
    (query_id, vec_id, cosine) relation, e.g. ``ann_index.ivfpq_probe``
    output re-scored to cosine or ``lsh_topk`` — to plug in an ANN front
    end); everything after operates on the BOUNDED n_queries x n_cand
    relation, so the
    pairwise-similarity self-join (n_cand^2 rows per query) and the k-1
    unrolled selection rounds (the ``pagerank_centrality`` bounded-rounds
    discipline) never touch corpus-sized data. Each round is one
    candidate-sized join + groupBy(max) + argmin window.

    Determinism: relevance and pairwise sims are the in-order double
    folds; the score is two IEEE double ops on them (literals cast from
    the same decimals in both engines); ties break to the lowest id.
    Round 1 has no selected set — max_sim is 0 and the score is
    ``lam * rel`` (the conventional empty-set reading).

    Round layout: the checkpointed relations (nq x n_cand and
    nq x n_cand^2 rows) are candidate-bounded, but a SERIAL
    ``coalesce(1)`` layout makes every one of the k-1 rounds a single
    task — one busy core then multiplies the whole wall clock (the
    BENCH_r13 6.9x incident). The default is therefore adaptive:
    hash-repartition each checkpoint by ``query_id_col`` into
    ``defaultParallelism`` partitions, so rounds run one task per core,
    every join and window in the rounds is already keyed by query (no
    step needs cross-query data), and the same layout scales to a
    corpus-sized offline query workload (r15: the former ``min(32, …)``
    cap under-parallelized clusters wider than 32 cores — r14 verdict
    note — and bought nothing locally). Pass
    ``round_partitions=1`` to force the old serial layout (the two
    layouts are answer-identical — partitioning never reorders the
    per-query windows, which carry explicit tie-breaks).
    """
    lam_c = F.lit(lam).cast("double")
    om_c = F.lit(round(1.0 - lam, 10)).cast("double")

    if round_partitions is None:
        sc = queries.sparkSession.sparkContext
        round_partitions = max(1, sc.defaultParallelism)
    if round_partitions > 1:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.repartition(
                round_partitions, query_id_col
            ).localCheckpoint(eager=True)
    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.coalesce(1).localCheckpoint(eager=True)

    if candidates is None:
        candidates = brute_force_topk(
            corpus, queries, n_cand, id_col, vec_col, query_id_col
        )
    emb = corpus.select(
        F.col(id_col), F.col(vec_col), norm(F.col(vec_col)).alias("__n")
    )
    cand = (
        candidates.select(query_id_col, id_col, "cosine")
        .join(emb, id_col)
        .select(query_id_col, id_col, "cosine", vec_col, "__n")
    )

    # pairwise sims inside each candidate list: n_cand^2 rows per query,
    # bounded regardless of corpus size
    a = cand.select(
        F.col(query_id_col),
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("avec"),
        F.col("__n").alias("an"),
    )
    b = cand.select(
        F.col(query_id_col),
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("bvec"),
        F.col("__n").alias("bn"),
    )
    # both relations are candidate-bounded (nq x n_cand and nq x n_cand^2);
    # eager checkpoints cut the k-round lineage — without them each round
    # re-derives the brute-force scan ~2^r times (the dedup round idiom;
    # on a multi-node cluster prefer reliable checkpoint())
    sim = _ckpt(
        a.join(b, query_id_col)
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            query_id_col,
            "a_id",
            "b_id",
            F.try_divide(
                dot(F.col("avec"), F.col("bvec")), F.col("an") * F.col("bn")
            ).alias("s"),
        )
    )

    slim = _ckpt(cand.select(query_id_col, id_col, "cosine"))
    w1 = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    sel = (
        slim.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") == 1)
        .select(
            query_id_col,
            id_col,
            "cosine",
            F.lit(0.0).cast("double").alias("max_sim"),
            (lam_c * F.col("cosine")).alias("mmr_score"),
            F.lit(1).cast("int").alias("mmr_rank"),
        )
    )

    for r in range(2, k + 1):
        picked = sel.select(query_id_col, F.col(id_col).alias("b_id"))
        ms = (
            sim.join(picked, [query_id_col, "b_id"])
            .groupBy(query_id_col, F.col("a_id").alias(id_col))
            .agg(F.max("s").alias("max_sim"))
        )
        pool = (
            slim.join(sel.select(query_id_col, id_col), [query_id_col, id_col], "left_anti")
            .join(ms, [query_id_col, id_col])
            .withColumn("mmr_score", lam_c * F.col("cosine") - om_c * F.col("max_sim"))
        )
        wr = Window.partitionBy(query_id_col).orderBy(
            F.desc("mmr_score"), F.asc(id_col)
        )
        pick = (
            pool.withColumn("__rn", F.row_number().over(wr))
            .filter(F.col("__rn") == 1)
            .select(
                query_id_col,
                id_col,
                "cosine",
                "max_sim",
                "mmr_score",
                F.lit(r).cast("int").alias("mmr_rank"),
            )
        )
        # <= nq * r rows: the per-round checkpoint keeps the plan depth
        # constant instead of doubling (sel feeds both the max-sim join
        # and the anti-join next round)
        sel = _ckpt(sel.unionByName(pick))

    return sel.select(
        query_id_col,
        id_col,
        "mmr_rank",
        F.col("cosine").alias("relevance"),
        "max_sim",
        "mmr_score",
    )


# --------------------------------------------------------------------------
# Covariance of the embedding cloud — linear algebra as relational algebra
# (the PCA/whitening prep step; what pyspark.ml's RowMatrix.computeCovariance
# does imperatively, here as two aggregations with exact-decimal sums so the
# matrix is bit-identical cross-engine and under any partitioning).
# --------------------------------------------------------------------------

def embedding_covariance(
    emb: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """(i, j, cov) for j >= i: the upper triangle of the d x d covariance
    matrix of the embedding cloud (population form, divide by n).

    Two passes, both determinism-snapped:
    - means: component sums as DECIMAL(25,9) of 9-dp-snapped values, one
      bounded groupBy (<= d groups; partial aggregation collapses the
      corpus map-side), then one exact double division by n.
    - products: per row, a ``transform`` emits the centered products for
      j >= i (12-dp snap -> DECIMAL(38,12)); one groupBy((i,j)) over
      d*(d+1)/2 keys. Shuffle volume is <= 2080 partials per task at
      d=64 REGARDLESS of corpus size.

    The means ride along as a broadcast single-row array (never
    ``.collect()``), so the whole plan is two scans + two bounded
    aggregations — the RowMatrix shape, relationally.
    """
    n_row = F.broadcast(emb.agg(F.count(F.lit(1)).alias("n")))
    comp = emb.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "vi")
    )
    means = (
        comp.groupBy("i")
        .agg(F.sum(F.round(F.col("vi"), 9).cast("decimal(25,9)")).alias("s"))
        .crossJoin(n_row)
        .select(
            "i",
            (F.col("s").cast("double") / F.col("n").cast("double")).alias("mu"),
        )
    )
    mu_arr = F.broadcast(
        means.groupBy().agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "mu"))), lambda s: s.mu
            ).alias("mus")
        )
    )
    vec = F.col(vec_col)
    prods = (
        emb.crossJoin(mu_arr)
        .select(
            F.posexplode(vec.cast("array<double>")).alias("i", "vi"),
            F.col("mus"),
            vec.cast("array<double>").alias("v"),
        )
        .select(
            F.col("i"),
            F.posexplode(
                F.transform(
                    F.sequence(F.col("i"), F.lit(dim - 1)),
                    lambda j: F.round(
                        (
                            F.col("vi")
                            - F.element_at(
                                F.col("mus"), (F.col("i") + F.lit(1)).cast("int")
                            )
                        )
                        * (
                            F.element_at(F.col("v"), (j + F.lit(1)).cast("int"))
                            - F.element_at(F.col("mus"), (j + F.lit(1)).cast("int"))
                        ),
                        12,
                    ).cast("decimal(38,12)"),
                )
            ).alias("jj", "p"),
        )
        .select(
            F.col("i").cast("long").alias("i"),
            (F.col("i") + F.col("jj")).cast("long").alias("j"),
            "p",
        )
    )
    return (
        prods.groupBy("i", "j")
        .agg(F.sum("p").alias("sp"))
        .crossJoin(n_row)
        .select(
            "i",
            "j",
            (F.col("sp").cast("double") / F.col("n").cast("double")).alias("cov"),
        )
    )


def pca_power_iteration(
    cov_upper: DataFrame, dim: int, iters: int = 10
) -> DataFrame:
    """(i, loading, eigval): the principal component of a covariance
    matrix by power iteration, entirely relational and determinism-snapped
    — matvec products snapped to 12 decimals and summed as DECIMAL, the
    normalized vector snapped to 9 decimals each round, norm via the
    IEEE-correctly-rounded sqrt. Every round is therefore a fixed point of
    exact arithmetic: the iterate (converged or not) is bit-identical
    across engines and partitionings, so the operator is oracle-checkable
    — the property no float eigensolver has.

    ``cov_upper``: (i, j, cov) upper triangle (from
    ``embedding_covariance``); mirrored to the full symmetric matrix here.
    Start vector = uniform 1/8 at d=64 (exactly representable). The
    matrix relation is d^2 rows — dimension-sized, collected into one
    row that a single task folds. ``eigval`` is the final ||Mv||
    (the Rayleigh estimate under an already-normalized v).
    """
    # r14 optimization (guide §1.2): the matrix is dimension-sized (d^2
    # rows) BY CONTRACT, so the whole iteration fits one task — collect
    # the dense symmetric matrix into a ONE-ROW relation (sorted
    # two-level collect, never .collect() to the driver) and run
    # all ``iters`` rounds as a single fold expression. The former form
    # ran one join + two aggregations + an eager checkpoint PER ROUND
    # (10 barrier jobs, ~40 stages); this is one job whose only
    # distributed work is the covariance subtree feeding the collect.
    # Arithmetic is unchanged and exact: matvec products 12-dp-snapped
    # and summed as DECIMAL(38,12) (associative — fold order is
    # irrelevant), vector re-snapped to 9 dp each round, norm via the
    # correctly-rounded sqrt. ``F.array(...)`` + lambda is the
    # let-binding idiom: w / nr are bound once per round, not re-derived
    # per reference.
    mat = cov_upper.select("i", "j", "cov").unionAll(
        cov_upper.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov"
        )
    )
    matrix = (
        mat.groupBy("i")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("j", "cov"))), lambda s: s.cov
            ).alias("row")
        )
        .groupBy()
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "row"))), lambda s: s.row
            ).alias("m")
        )
    )

    # fold accumulator at DECIMAL(25,12), not (38,12): adding two (38,12)
    # values hits the precision-38 cap and Spark REDUCES THE SCALE of the
    # add to 11 — every partial sum would round its 12th decimal away,
    # where the relational sum() this replaces kept scale 12. At (25,12)
    # the add result is (26,12) — exact — and the cast back is lossless
    # (|terms| < 1, d <= 64, so the sum never nears 10^13).
    zero_d = F.lit(0).cast("decimal(25,12)")

    def _dsum(arr):
        return F.aggregate(
            arr, zero_d, lambda a, b: (a + b).cast("decimal(25,12)")
        ).cast("double")

    def _round_step(acc, _):
        def _with_w(w):
            nr_expr = F.sqrt(
                _dsum(
                    F.transform(
                        w, lambda wi: F.round(wi * wi, 12).cast("decimal(25,12)")
                    )
                )
            )

            def _with_nr(nr):
                return F.struct(
                    F.transform(w, lambda wi: F.round(wi / nr, 9)).alias("v"),
                    nr.alias("nr"),
                )

            return F.element_at(F.transform(F.array(nr_expr), _with_nr), 1)

        w_expr = F.transform(
            F.col("m"),
            lambda row: _dsum(
                F.zip_with(
                    row,
                    acc["v"],
                    lambda c, x: F.round(c * x, 12).cast("decimal(25,12)"),
                )
            ),
        )
        return F.element_at(F.transform(F.array(w_expr), _with_w), 1)

    init = F.struct(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("m"))), lambda _: F.lit(1.0 / 8.0)
        ).alias("v"),
        F.lit(0.0).alias("nr"),
    )
    fold = matrix.select(
        F.aggregate(F.sequence(F.lit(1), F.lit(iters)), init, _round_step).alias("r")
    )
    return fold.select(
        F.col("r.nr").alias("eigval"), F.posexplode("r.v").alias("i", "loading")
    ).select(F.col("i").cast("long").alias("i"), "loading", "eigval")


# --------------------------------------------------------------------------
# k-means (Lloyd) as a fixed point of exact arithmetic — the value-hashable
# twin of ml/segmentation's pyspark.ml KMeans (whose float math and seeded
# init can never be oracle-checked). Same family as pagerank_fixed_point /
# pca_power_iteration: snap every intermediate, so the iterate — converged
# or not — is bit-identical across engines and partitionings.
# --------------------------------------------------------------------------


def _dist2_snapped(a: Column, b: Column) -> Column:
    """Squared L2 distance as an exact DECIMAL(38,12) sum of 12-dp-snapped
    per-component squared differences. The decimal accumulator makes the
    sum independent of fold order, so the per-point distance is identical
    whether computed by this in-order array fold or by the oracle's
    GROUP BY over an unnested component relation."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: F.round((x - y) * (x - y), 12).cast("decimal(38,12)")
        ),
        F.lit(0).cast("decimal(38,12)"),
        # re-cast: decimal + decimal widens to (38,11) under Spark's
        # overflow rules, but the fold's merge type must stay the
        # accumulator type; terms are <= ~1e1 so (38,12) never overflows
        lambda acc, p: (acc + p).cast("decimal(38,12)"),
    )


def kmeans_lloyd_fixed_point(
    emb: DataFrame,
    dim: int,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster_id, n_points, i, loading): centroids after ``iters`` Lloyd
    rounds, one row per (cluster, component), with the size of the
    assignment that produced each final centroid.

    Determinism contract (what makes a float-clustering algorithm
    value-hashable):
    - init: centroid j is the 9-dp-snapped embedding of the MIN-id point
      in hash bucket ``id mod k`` — no RNG, no data-order dependence. A
      bucket with no points simply contributes no cluster.
    - assignment: squared distances are exact decimal sums of 12-dp-snapped
      component terms (``_dist2_snapped``); the winner is the (distance,
      cluster_id) struct minimum, so ties break to the smaller cluster id.
    - update: per-component means are DECIMAL(25,9) sums of 9-dp-snapped
      values divided by the exact count, re-snapped to 9 dp. A cluster that
      loses every point keeps its previous centroid (and reports
      n_points = 0 for the final round).

    Scale shape: centroids are a k-row broadcast (k*dim doubles); each
    round is ONE corpus scan (map-only assignment against the broadcast —
    no shuffle of the corpus by cluster id) + one groupBy((cid, i)) over
    k*dim bounded keys whose map-side partial aggregation collapses even a
    everything-in-one-cluster skew before the exchange. The centroid
    relation is localCheckpoint'ed per round (k rows — free) to truncate
    the lazy lineage (the q15 idiom). Driver never sees data.

    Reference twin: ml/segmentation.py segment_clients (pyspark.ml KMeans,
    reference src/ml/segmentation.py) — this is the audit-grade form.
    """
    v = F.col(vec_col).cast("array<double>")
    pts = emb.select(F.col(id_col).alias("pid"), v.alias("v"))
    # r15 rewrite (guide §1.2 — the PCA/logreg one-plan treatment): the
    # state is k*(dim+1) numbers by contract, so ALL rounds unroll into
    # one lazy plan instead of one job + broadcast + localCheckpoint per
    # round. The state is a ONE-ROW relation (cs = sorted array of
    # (cid, centroid, n) structs) that each round references exactly once
    # — the keep-previous-centroid fallback reads the state that RODE
    # THROUGH the aggregation as a first() column (identical on every row
    # of the crossJoin, so first() is deterministic), not a second
    # subtree reference — which keeps plan growth LINEAR in ``iters``
    # (a second reference per round would double the subtree each round).
    # Carrying the <= k*(dim+1)-double cs array per exploded row costs
    # only partial-agg buffer width: the map-side aggregate collapses to
    # <= k*dim groups per task before anything crosses the wire.
    # Arithmetic is unchanged: same snapped init, same struct-min
    # assignment, same DECIMAL(25,9) sums / exact counts / 9-dp re-snap,
    # so the fixed point is bit-identical (oracle + partitioning pins).
    state = (
        pts.withColumn("cid", F.pmod(F.col("pid"), F.lit(k)).cast("int"))
        .groupBy("cid")
        .agg(F.min_by("v", "pid").alias("v0"))
        .select(
            "cid", F.transform("v0", lambda x: F.round(x, 9)).alias("c")
        )
        .groupBy()
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("cid"),
                        F.col("c"),
                        F.lit(0).cast("bigint").alias("n"),
                    )
                )
            ).alias("cs")
        )
    )
    for _ in range(iters):
        assigned = pts.crossJoin(state).select(
            "v",
            F.array_min(
                F.transform(
                    "cs",
                    lambda s: F.struct(
                        _dist2_snapped(F.col("v"), s.c).alias("d"),
                        s.cid.alias("cid"),
                    ),
                )
            )["cid"].alias("cid"),
            F.col("cs"),
        )
        per = (
            assigned.select(
                "cid", F.posexplode("v").alias("i", "vi"), F.col("cs")
            )
            .groupBy("cid", "i")
            .agg(
                F.sum(F.round("vi", 9).cast("decimal(25,9)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
                F.first("cs").alias("cs"),
            )
        )
        bycid = per.groupBy("cid").agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "i",
                            F.round(
                                F.col("s").cast("double")
                                / F.col("n").cast("double"),
                                9,
                            ).alias("mu"),
                        )
                    )
                ),
                lambda s: s.mu,
            ).alias("c_new"),
            F.max("n").alias("n"),
            F.first("cs").alias("cs"),
        )
        row = bycid.groupBy().agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct("cid", F.struct("c_new", "n").alias("e"))
                )
            ).alias("em"),
            F.first("cs").alias("cs"),
        )
        em = F.col("em")
        state = row.select(
            F.transform(
                F.col("cs"),
                lambda st: F.struct(
                    st.cid.alias("cid"),
                    F.coalesce(
                        F.try_element_at(em, st.cid)["c_new"], st.c
                    ).alias("c"),
                    F.coalesce(
                        F.try_element_at(em, st.cid)["n"],
                        F.lit(0).cast("bigint"),
                    ).alias("n"),
                ),
            ).alias("cs")
        )
    return (
        state.select(F.explode("cs").alias("st"))
        .select(
            F.col("st.cid").alias("cid"),
            F.col("st.n").alias("np"),
            F.posexplode("st.c").alias("i", "loading"),
        )
        .select(
            F.col("cid").cast("int").alias("cluster_id"),
            F.col("np").cast("long").alias("n_points"),
            F.col("i").cast("long").alias("i"),
            "loading",
        )
    )


def knn_graph(
    emb: DataFrame,
    k: int = 5,
    n_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(src, dst, cosine, rank, mutual): the k-nearest-neighbor graph over
    same-sign-bucket candidates, with the mutual-kNN flag (the edge set
    SemDeDup-style semantic clustering and graph-based curation build on;
    mutual edges are the standard symmetrization).

    Scale shape: candidates come from a sign-bucket EQUI-JOIN of the
    corpus with itself — no corpus broadcast, no cartesian product; the
    pair space is sum of squared bucket sizes, tuned by ``n_bits``
    (the simhash_neardup/embedding_neardup shape). Buckets are CENTERED
    on the exact corpus per-dim means (``component_means``, one broadcast
    row): real embedding models emit positively-shifted dimensions whose
    raw sign bits collapse the corpus into one mega-bucket and push this
    self-join toward quadratic — centering splits each bucketed dimension
    ~half/half, so the sum of squared bucket sizes stays near n²/2^n_bits.
    Per-src top-k is a window over per-src candidate groups (bounded by
    bucket size, one partition per vector — no hot key), and the mutual
    flag is one self-equi-join of the k-sized edge relation on the
    reversed pair. Recall is bucket-limited by construction (neighbors in
    other buckets are unseen) — the oracle mirrors the SAME centered
    bucketed algorithm, so the check stays exact (the ann_lsh_topk
    discipline).

    ``n_bits`` defaults to the corpus-derived width (``derive_bits`` with
    a ~32-row expected bucket — a top-k graph tolerates wider buckets than
    the all-pairs neardup scan): the r10 x64 pin proved a FIXED width is
    pair-count quadratic (6.7 s → 105 s for 4× data at 8 bits); with the
    derived width the pair space is ~32n at any corpus size."""
    if n_bits is None:
        n_bits = derive_bits(emb, KNN_TARGET_BUCKET_ROWS, vec_col)
    v = F.col(vec_col)
    mu = F.broadcast(component_means(emb, n_bits, vec_col))
    b = emb.crossJoin(mu).select(
        F.col(id_col).alias("src"),
        v.alias("sv"),
        norm(v).alias("sn"),
        sign_bucket(v, n_bits, F.col("__mus")).alias("bucket"),
    )
    o = emb.crossJoin(mu).select(
        F.col(id_col).alias("dst"),
        v.alias("dv"),
        norm(v).alias("dn"),
        sign_bucket(v, n_bits, F.col("__mus")).alias("bucket"),
    )
    scored = (
        b.join(o, "bucket")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.try_divide(
                dot(F.col("sv"), F.col("dv")), F.col("sn") * F.col("dn")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    edges = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.lit(True).alias("m"),
    )
    return edges.join(rev, ["src", "dst"], "left").select(
        "src",
        "dst",
        "cosine",
        F.col("rank").cast("int").alias("rank"),
        F.coalesce("m", F.lit(False)).alias("mutual"),
    )
