"""Scaled-corpus benchmark for the dedup/ANN surface.

The correctness gate runs these operators on the base ``documents`` /
``embeddings`` tables; this module provides the SCALING evidence — the
same operators on deterministic x4 / x16 corpora min-of-2 (``bench.py``
records x1/x4/x16 through ``run_scaled``; the pins below run at the
factors ``tools/scalepin.py`` passes), built so the true-result size
grows ~linearly with the factor. The sf0.1 base corpus is itself 10x the
sf0.01 one (5,000 docs in the round-5 testdata drop), so the x16 point
spans 80,000 docs and an x64 pin 320,000:

- Text copies get a per-copy SALT suffixed onto every word
  (``a b c`` -> ``ac7 bc7 cc7``). Word n-gram shingles keep exactly the
  base corpus's within-copy structure (so each copy contributes exactly
  the base pair set), while no shingle ever matches across copies —
  corpus xK means work and output exactly xK, not xK² (which a naive
  concat-of-identical-copies corpus would produce and which no dedup
  design could survive). A between-words salt token was tried first and
  rejected: it degrades 3-gram shingles into effective unigrams
  (``s1 the s1`` matches every doc containing "the"), blowing up LSH
  buckets ~35x at x4.
- Embedding copies are multiplied elementwise by a per-copy ±1 mask — an
  orthogonal transform, so within-copy cosines (and the base copy's
  ground truth) are bit-preserved while cross-copy cosines scatter and
  sign-LSH buckets diverge. Queries stay FIXED (the base copy's probe
  set): the realistic ANN scaling axis is corpus growth under a constant
  query load.

Near-linear wall-time across factors is the 100 TB claim made empirical:
every stage is blocking-key equi-join / groupBy with no all-pairs term.
The governance composite (``training_mixture``) rides the same exhibit —
its result is a fixed per-language rollup (constant rows), so for that
point the linearity signal is wall-time alone.

Every point follows one measurement discipline (``_staged`` +
``_timed``): each factor's corpus is staged to parquet off the clock,
every timed point is the min of 2 runs after an untimed warm-up — at the
first factor for operators over the staged corpus, at every factor for
calls on an index built at that factor — and the first index build of a
pin is an untimed warm-up of the lakehouse write path. Whatever a timed
call pins is freed once it has been measured.
"""

from __future__ import annotations

import shutil
import tempfile
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_elt_pipeline_spark import lakehouse as LH
from big_data_elt_pipeline_spark.operators import dedup as D
from big_data_elt_pipeline_spark.operators import similarity as S
from big_data_elt_pipeline_spark.session import pinned_rdds, unpersist_rdds
from big_data_elt_pipeline_spark.sources.tpch import read_table

_ID_STRIDE = 10_000_000
# every timed scale point is the min of this many runs
_RUNS = 2
# updates an index has taken when its probe-after-update is timed: the
# untimed warm-up update plus the timed ones, the same at every factor
UPDATES_BEFORE_PROBE = 1 + _RUNS


def _sign_mask(copy: int, dim: int) -> list[float]:
    """Deterministic ±1 mask per copy — fixed LCG, engine-independent."""
    x = (copy + 1) * 0x9E3779B97F4A7C15
    out = []
    for _ in range(dim):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        out.append(1.0 if (x >> 63) == 0 else -1.0)
    return out


def scaled_docs(spark: SparkSession, sf_dir: str, factor: int) -> DataFrame:
    """xK corpus as ONE constant-size plan: a broadcast crossJoin against a
    K-row copy dimension, per-copy salt applied with a column-valued
    regexp replacement. The first cut built a K-way UNION of K separate
    scans — plan size grew with K, and since the dedup operators re-derive
    the corpus per consumer (deliberately uncached, see
    ``dedup.shingle_table``), Catalyst re-optimized and re-codegen'd a
    64-branch union several times per query: measured 84 s for minhash at
    x64 vs 7.5 s at x16 (11x for 4x the data) with the union form. Plan
    growth, not data growth — the crossJoin form keeps the plan O(1) in K.

    lang rides along untouched (harmless for the dedup consumers, needed
    by the governance-mixture scaling point)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    if factor == 1:
        return docs
    copies = spark.range(factor).select(F.col("id").alias("copy_k"))
    return docs.crossJoin(F.broadcast(copies)).select(
        (F.col("doc_id") + F.col("copy_k") * F.lit(_ID_STRIDE)).alias("doc_id"),
        F.col("lang"),
        F.when(F.col("copy_k") == 0, F.col("text"))  # base copy bit-preserved
        .otherwise(
            F.regexp_replace(
                F.col("text"), F.lit(r"(\S+)"),
                F.concat(F.lit("$1c"), F.col("copy_k").cast("string")),
            )
        )
        .alias("text"),
    )


def scaled_embeddings(spark: SparkSession, sf_dir: str, factor: int, dim: int = 64) -> DataFrame:
    """Same constant-plan-size construction as ``scaled_docs``: the K
    per-copy ±1 masks become a K-row broadcast dimension carrying the mask
    ARRAY (copy 0 gets the all-ones mask, so the base copy's ground truth
    is bit-preserved), instead of K union branches each with its own
    literal array."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if factor == 1:
        return emb
    masks = [(k, [1.0] * dim if k == 0 else _sign_mask(k, dim)) for k in range(factor)]
    copies = emb.sparkSession.createDataFrame(masks, "copy_k long, mask array<double>")
    return emb.crossJoin(F.broadcast(copies)).select(
        (F.col("vec_id") + F.col("copy_k") * F.lit(_ID_STRIDE)).alias("vec_id"),
        F.zip_with("embedding", "mask", lambda a, b: (a * b).cast("float")).alias(
            "embedding"
        ),
    )


@contextmanager
def _staged(spark: SparkSession, sf_dir: str, factor: int, *kinds: str):
    """Stage the xK corpora named in ``kinds`` (``"docs"``, ``"emb"``) as
    parquet under one temp root and yield ``(root, *frames)``; on exit the
    root goes (with any index a pin built under it) and every RDD pinned
    meanwhile is freed.

    The corpus is MATERIALIZED once per factor, off the clock: the derived
    form re-ran the per-copy salting inside every consumer pass — multi-
    pass operators (the governance composite re-reads the corpus ~6x) were
    charged Kx corpus construction instead of their own work. A stored
    corpus is also the realistic shape: real dedup reads parquet.
    repartition(32): the scaled frames inherit 1-2 input splits from the
    tiny base tables, and a 1-2-file stage runs the timed passes nearly
    single-core."""
    build = {"docs": scaled_docs, "emb": scaled_embeddings}
    root = tempfile.mkdtemp(prefix=f"scale_x{factor}_")
    before = pinned_rdds(spark)
    try:
        frames = []
        for kind in kinds:
            build[kind](spark, sf_dir, factor).repartition(32).write.parquet(
                f"{root}/{kind}")
            frames.append(spark.read.parquet(f"{root}/{kind}"))
        yield (root, *frames)
    finally:
        unpersist_rdds(spark, pinned_rdds(spark) - before)
        shutil.rmtree(root, ignore_errors=True)


def _timed(spark: SparkSession, out: dict, key: str, fn, rows: str | None = None,
           warm: bool = False, runs: int = _RUNS, progress=None) -> float:
    """Time ``fn`` — a call that runs its work to completion and returns a
    number (a row count, an update count): one untimed warm-up when
    ``warm`` (codegen and parquet footers off the clock — the r05 artifact
    charged them to the first factor and inverted the trend), then the min
    of ``runs`` calls. Records ``out[key]`` (seconds) and, when ``rows``
    is given, ``out[rows]`` = the last call's result; reports the point to
    ``progress``; frees whatever the calls pinned (the cluster-resolution
    runs keep their labels checkpoint alive otherwise — across the ~40
    runs of ``run_scaled`` the accumulation measurably slowed later
    factors). Returns the recorded seconds."""
    before = pinned_rdds(spark)
    if warm:
        fn()
    best = None
    for _ in range(runs):
        t0 = time.perf_counter()
        n = fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    unpersist_rdds(spark, pinned_rdds(spark) - before)
    out[key] = round(best, 4)
    if rows is not None:
        out[rows] = float(n)
    if progress is not None:
        progress(key, out[key])
    return out[key]


def knn_scale_pin(
    spark: SparkSession,
    sf_dir: str,
    factors: tuple[int, ...] = (1, 4, 16, 64),
    progress=None,
) -> dict[str, float]:
    """Post-centering scale pin for the bucketed embedding SELF-JOIN
    family (r9 verdict #2): ``knn_graph`` (the operator the r9 centering
    fix was FOR) and ``embedding_neardup`` on the ±1-masked scaled corpus,
    with the ``component_means`` job broken out separately — the means
    pass is one corpus scan + a dims-bounded agg, so its cost must stay a
    small additive slice while the bucket self-join dominates and scales
    near-linearly (buckets stay balanced because copy 0's means-centered
    bits split ~half/half and the ±1 masks scatter the other copies).

    Min-of-2 per point (the module's discipline): the r9/r10 single-shot
    discipline existed because the FIXED-bits x64 point cost ~20 min; at
    the derived widths the whole pin is ~1 min, and single shots on this
    host swing 4x run-to-run (measured 7.7 s vs 28.1 s for the same x64
    point at load1 ~9).
    Returns ``knnpin_{means,knn_graph,neardup}_x{f}`` seconds plus
    ``_rows`` and ``_bits`` audit columns.

    r11 change (the r10 verdict's weak mark): knn_graph / neardup run at
    their CORPUS-DERIVED default widths (``similarity.derive_bits``), not
    fixed bits — the pin now certifies that the pair space the defaults
    buy stays ~linear in n (x64 wall within ~4x of x16), where the r10
    fixed-8-bit pin measured the quadratic envelope (6.7 s -> 105 s). The
    derived widths are recorded per factor so the artifact shows the knob
    turning itself."""
    out: dict[str, float] = {}
    for factor in factors:
        with _staged(spark, sf_dir, factor, "emb") as (_, emb):
            # derived widths recorded OUTSIDE the timers (the operators
            # re-run the same two-scalar aggregate inside — its cost is
            # part of the timed runs, as a real caller pays it)
            out[f"knnpin_knn_graph_x{factor}_bits"] = float(
                S.derive_bits(emb, S.KNN_TARGET_BUCKET_ROWS))
            out[f"knnpin_neardup_x{factor}_bits"] = float(
                S.derive_bits(emb, S.NEARDUP_TARGET_BUCKET_ROWS))
            runs = {
                # the means job alone: the one-row broadcast relation every
                # bucketed operator builds first (localCheckpoint'ed inside)
                "means": lambda: S.component_means(emb, 8),
                "knn_graph": lambda: S.knn_graph(emb, k=5),
                "neardup": lambda: S.embedding_neardup(emb),
            }
            for name, fn in runs.items():
                key = f"knnpin_{name}_x{factor}"
                _timed(spark, out, key, lambda: fn().count(), rows=f"{key}_rows",
                       warm=factor == factors[0], progress=progress)
    return out


def ivf_scale_pin(
    spark: SparkSession,
    sf_dir: str,
    factors: tuple[int, ...] = (64, 256),
    n_queries: int = 16,
    progress=None,
) -> dict[str, float]:
    """Scale pin for the corpus-derived IVF cell counts (the auto_cells
    r11 change — the KNNPIN discipline applied to the coarse-quantizer
    family): ``ivfpq_topk`` at the AUTO default on the ±1-masked scaled
    corpus, factors chosen so the knob visibly turns (x64 = 128k rows →
    16 cells at the lo clamp; x256 = 512k rows → 32 derived cells). With
    the sqrt balance both the assignment pass (n × cells comparisons)
    and the probed candidate set (n_probe × n/cells rows per query) grow
    ~sqrt within the power-of-two quantization, so 4× the corpus must
    cost ~4× wall, not 16× — the claim the artifact records, next to a
    per-factor audit of the derived count and the exact probed-cell row
    total the scan pays for."""
    from big_data_elt_pipeline_spark.operators import ann_index as AIX

    # one probe width for the timed calls AND the audit of what they scan
    n_probe = 4
    out: dict[str, float] = {}
    for factor in factors:
        with _staged(spark, sf_dir, factor, "emb") as (root, emb):
            n = emb.count()
            cells = S.auto_cells(n)
            out[f"ivfpin_x{factor}_rows"] = float(n)
            out[f"ivfpin_x{factor}_cells"] = float(cells)
            queries = emb.filter(F.col("vec_id") < n_queries)

            # audit OUTSIDE the timers: total corpus rows living in the
            # n_probe cells each query probes — the row count the ADC scan
            # actually joins (the pair-space analogue of the knn audit)
            cents1 = F.broadcast(S.fixed_centroid_cells(emb, cells))
            csizes = (
                emb.crossJoin(cents1)
                .select(
                    (-F.array_max(
                        F.transform(
                            F.col("__cents"),
                            lambda ct: F.struct(
                                F.try_divide(
                                    S.dot(F.col("embedding"), ct["cvec"]),
                                    S.norm(F.col("embedding")) * ct["cvn"],
                                ).alias("cos"),
                                (-ct["cell"]).alias("negcell"),
                            ),
                        )
                    )["negcell"]).alias("cell")
                )
                .groupBy("cell").count()
            )
            probes = (
                queries.crossJoin(cents1)
                .select(
                    F.col("vec_id").alias("qid"),
                    F.explode(
                        F.slice(
                            F.array_sort(
                                F.transform(
                                    F.col("__cents"),
                                    lambda ct: F.struct(
                                        (-F.try_divide(
                                            S.dot(F.col("embedding"), ct["cvec"]),
                                            S.norm(F.col("embedding")) * ct["cvn"],
                                        )).alias("negcos"),
                                        ct["cell"].alias("cell"),
                                    ),
                                )
                            ),
                            1, n_probe,
                        )
                    ).alias("pr"),
                )
                .select("qid", F.col("pr.cell").alias("cell"))
            )
            probed_rows = (
                probes.join(csizes, "cell").agg(F.sum("count")).head()[0]
            )
            out[f"ivfpin_x{factor}_probed_rows"] = float(probed_rows or 0)

            key = f"ivfpin_ivfpq_x{factor}"
            _timed(spark, out, key,
                   lambda: S.ivfpq_topk(emb, queries, k=5, n_probe=n_probe).count(),
                   rows=f"{key}_out_rows", warm=factor == factors[0],
                   progress=progress)

            # build-once / probe-many split (r11 verdict #2): the one-shot
            # wall above is encode-dominated; time the persisted build
            # separately from the stored-index probe so the artifact shows
            # what amortizing the encode buys a serving workload
            idx = f"{root}/index"
            if factor == factors[0]:
                AIX.build_ivfpq_index(emb, f"{root}/index_warm")
            _timed(spark, out, f"ivfpin_build_x{factor}",
                   lambda: AIX.build_ivfpq_index(emb, idx), runs=1,
                   progress=progress)
            key = f"ivfpin_probe_x{factor}"
            _timed(spark, out, key,
                   lambda: AIX.ivfpq_probe(
                       spark, idx, queries, k=5, n_probe=n_probe).count(),
                   rows=f"{key}_out_rows", warm=True, progress=progress)
    return out


def bm25_scale_pin(
    spark: SparkSession,
    sf_dir: str,
    factors: tuple[int, ...] = (16, 64),
    progress=None,
) -> dict[str, float]:
    """Scale pin for the persisted BM25 index (r12 verdict #1's
    build/probe split — the IVFPIN discipline applied to text): per
    factor on the salted scaled corpus, the wall for the AD-HOC
    ``bm25_topk`` (recomputes tf/df/avgdl from the full corpus — the
    per-call serving bug the index closes), the one-time
    ``build_text_index``, and the stored-index ``bm25_index_probe``,
    plus the file-skipping AUDIT: of the postings files the probe COULD
    open, how many the manifest term-range fold keeps for the probe
    vocabulary. The salted copies rewrite every token (``scaled_docs``),
    so the corpus vocabulary grows with the factor while the probe's
    terms match only base-copy documents — exactly the serving shape the
    claim needs: ad-hoc wall tracks the corpus, the stored-index probe
    tracks the CANDIDATES (flat), and kept-files/total-files shows the
    pruning doing it."""
    from big_data_elt_pipeline_spark.operators import retrieval as RETR
    from big_data_elt_pipeline_spark.operators import text_index as TIX

    queries = spark.createDataFrame(
        [
            ("q_join", "shuffle join broadcast table"),
            ("q_scan", "parquet scan filter pushdown"),
            ("q_window", "window partition order row"),
        ],
        "query_id string, query_text string",
    )
    qvocab = [
        r["term"]
        for r in RETR.tokenize(queries, "query_id", "query_text")
        .select("term").distinct().collect()
    ]

    out: dict[str, float] = {}
    for factor in factors:
        with _staged(spark, sf_dir, factor, "docs") as (root, docs):
            docs = docs.select("doc_id", "text")
            out[f"bm25pin_x{factor}_rows"] = float(docs.count())
            key = f"bm25pin_adhoc_x{factor}"
            _timed(spark, out, key,
                   lambda: RETR.bm25_topk(docs, queries, k=10).count(),
                   rows=f"{key}_out_rows", warm=factor == factors[0],
                   progress=progress)

            idx = f"{root}/index"
            if factor == factors[0]:
                TIX.build_text_index(docs, f"{root}/index_warm")
            _timed(spark, out, f"bm25pin_build_x{factor}",
                   lambda: TIX.build_text_index(docs, idx), runs=1,
                   progress=progress)
            kept, skipped = LH.prune_files_in(f"{idx}/postings", "term", qvocab)
            out[f"bm25pin_x{factor}_kept_files"] = float(len(kept))
            out[f"bm25pin_x{factor}_total_files"] = float(len(kept) + len(skipped))

            key = f"bm25pin_probe_x{factor}"
            _timed(spark, out, key,
                   lambda: TIX.bm25_index_probe(spark, idx, queries, k=10).count(),
                   rows=f"{key}_out_rows", warm=True, progress=progress)
    return out


def hybrid_scale_pin(
    spark: SparkSession,
    sf_dir: str,
    factors: tuple[int, ...] = (16, 64),
    progress=None,
) -> dict[str, float]:
    """Scale pin for HYBRID serving from the two persisted indexes (r13
    verdict #7): BM25PIN and IVFPIN each pin one leg; this pins the
    COMPOSITION — the stored-BM25 lexical probe and the stored-IVF-PQ
    ADC probe, RRF-fused (exactly the ``hybrid_index_topk`` gate plan) —
    against the ad-hoc hybrid twin that re-tokenizes the corpus for
    BM25 stats AND re-encodes it for PQ codes on every call.

    The fused probe must inherit BOTH legs' flatness: its plan touches
    the term-range-pruned postings files, the cell-pruned code files,
    and two candidate-sized rankings — never the corpus text or the
    float vectors — so the wall tracks the (constant) query/candidate
    load while the ad-hoc twin tracks the corpus. Per factor the
    artifact records both walls (both index builds are one-time costs
    recorded separately), the fused output rows, and the file-skipping
    audits of both legs (kept/total postings files by the probe
    vocabulary; kept/total code files follow the IVFPIN probe shape and
    ride the probe wall itself).

    Queries are FIXED base-copy documents (8 <= doc_id < 16 — the gate
    query's ids): the salted doc copies and ±1-masked embedding copies
    grow the corpus while the probe load and its true answer set stay
    base-sized — the serving shape the claim needs.
    """
    from big_data_elt_pipeline_spark.operators import ann_index as AIX
    from big_data_elt_pipeline_spark.operators import retrieval as RETR
    from big_data_elt_pipeline_spark.operators import text_index as TIX
    from big_data_elt_pipeline_spark.operators.retrieval import rrf_fuse

    out: dict[str, float] = {}
    for factor in factors:
        with _staged(spark, sf_dir, factor, "docs", "emb") as (root, docs, emb):
            docs = docs.select("doc_id", "text")
            out[f"hybridpin_x{factor}_rows"] = float(docs.count())
            queries = docs.filter(
                (F.col("doc_id") >= 8) & (F.col("doc_id") < 16)
            ).select(
                F.col("doc_id").alias("query_id"),
                F.col("text").alias("query_text"),
            ).localCheckpoint(eager=True)
            vq = emb.filter(
                (F.col("vec_id") >= 8) & (F.col("vec_id") < 16)
            ).localCheckpoint(eager=True)

            # ad-hoc twin: corpus tokenize + stats for the lexical leg, full
            # corpus re-encode for the vector leg, fused — what serving pays
            # per query batch WITHOUT the indexes
            def adhoc():
                lex = RETR.bm25_topk(docs, queries, k=50).filter(
                    F.col("doc_id") != F.col("query_id")
                )
                vec = S.ivfpq_topk(emb, vq, k=50, n_probe=4).select(
                    "query_id", F.col("vec_id").alias("doc_id"), "rank"
                )
                return rrf_fuse(lex, vec, k=10, c=60).count()

            key = f"hybridpin_adhoc_x{factor}"
            _timed(spark, out, key, adhoc, rows=f"{key}_out_rows",
                   warm=factor == factors[0], progress=progress)

            # one-time builds (recorded, not part of the probe claim)
            tix_idx, aix_idx = f"{root}/tix", f"{root}/aix"
            if factor == factors[0]:
                TIX.build_text_index(docs, f"{root}/tix_warm")
            _timed(spark, out, f"hybridpin_text_build_x{factor}",
                   lambda: TIX.build_text_index(docs, tix_idx), runs=1,
                   progress=progress)
            _timed(spark, out, f"hybridpin_ann_build_x{factor}",
                   lambda: AIX.build_ivfpq_index(emb, aix_idx), runs=1,
                   progress=progress)

            qvocab = [
                r["term"]
                for r in RETR.tokenize(queries, "query_id", "query_text")
                .select("term").distinct().collect()
            ]
            kept, skipped = LH.prune_files_in(f"{tix_idx}/postings", "term", qvocab)
            out[f"hybridpin_x{factor}_kept_files"] = float(len(kept))
            out[f"hybridpin_x{factor}_total_files"] = float(len(kept) + len(skipped))

            def fused():
                lex = TIX.bm25_index_probe(spark, tix_idx, queries, k=50).filter(
                    F.col("doc_id") != F.col("query_id")
                )
                vec = AIX.ivfpq_probe(
                    spark, aix_idx, vq, k=50, n_probe=4
                ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
                return rrf_fuse(lex, vec, k=10, c=60).count()

            key = f"hybridpin_probe_x{factor}"
            _timed(spark, out, key, fused, rows=f"{key}_out_rows", warm=True,
                   progress=progress)
    return out


def update_scale_pin(
    spark: SparkSession,
    sf_dir: str,
    factors: tuple[int, ...] = (16, 64),
    progress=None,
) -> dict[str, float]:
    """Scale pin for the r14 in-place update composites
    (``text_index.update_text_documents`` /
    ``ann_index.update_index_vectors``): both are delta-sized BY
    CONSTRUCTION — tombstone the victims' current generation, tokenize /
    encode only the revision batch, append, one stats/state publish —
    so a FIXED 8-document (8-vector) revision must cost the same wall
    at x16 and x64 while the only alternative without the composites, a
    full index rebuild, tracks the corpus. Per factor the artifact
    records four walls: the one-time builds (= the rebuild alternative,
    corpus-tracking), the 8-id update of each index (must be FLAT), and
    the probe-after-update of each index (must stay FLAT — the update
    must not degrade the served plan; BM25PIN/IVFPIN pinned the same
    probes pre-mutation).

    Each update re-replaces the SAME 8 ids (identical delta; generations
    advance, dead rows accumulate delta-sized — the steady-state serving
    shape between compactions). Updates and probes act on the factor's
    fresh indexes, so both warm up at every factor: every index has taken
    ``UPDATES_BEFORE_PROBE`` updates when its probe is timed.
    """
    from big_data_elt_pipeline_spark.operators import ann_index as AIX
    from big_data_elt_pipeline_spark.operators import text_index as TIX

    queries = spark.createDataFrame(
        [
            ("u_join", "shuffle join broadcast table"),
            ("u_scan", "parquet scan filter pushdown"),
            ("u_window", "window partition order row"),
        ],
        "query_id string, query_text string",
    )
    out: dict[str, float] = {}
    for factor in factors:
        with _staged(spark, sf_dir, factor, "docs", "emb") as (root, docs, emb):
            docs = docs.select("doc_id", "text")
            out[f"updatepin_x{factor}_rows"] = float(docs.count())

            tix_idx, aix_idx = f"{root}/tix", f"{root}/aix"
            if factor == factors[0]:
                TIX.build_text_index(docs, f"{root}/tix_warm")
                AIX.build_ivfpq_index(emb, f"{root}/aix_warm")
            _timed(spark, out, f"updatepin_text_build_x{factor}",
                   lambda: TIX.build_text_index(docs, tix_idx), runs=1,
                   progress=progress)
            _timed(spark, out, f"updatepin_ann_build_x{factor}",
                   lambda: AIX.build_ivfpq_index(emb, aix_idx), runs=1,
                   progress=progress)

            # the FIXED revision batch: base-copy ids 8..16 rewritten /
            # re-embedded — constant delta while the corpus scales
            rev = docs.filter(
                (F.col("doc_id") >= 8) & (F.col("doc_id") < 16)
            ).select(
                "doc_id",
                F.concat(F.lit("revised pin edition "), F.col("text")).alias(
                    "text"
                ),
            ).localCheckpoint(eager=True)
            vq = emb.filter(
                (F.col("vec_id") >= 8) & (F.col("vec_id") < 16)
            ).localCheckpoint(eager=True)
            vrev = vq.select(
                "vec_id",
                F.transform(
                    "embedding", lambda x: (-x).cast("float")
                ).alias("embedding"),
            ).localCheckpoint(eager=True)

            _timed(spark, out, f"updatepin_text_update_x{factor}",
                   lambda: TIX.update_text_documents(rev, tix_idx)["n_updated"],
                   rows=f"updatepin_x{factor}_text_n_updated", warm=True,
                   progress=progress)
            _timed(spark, out, f"updatepin_ann_update_x{factor}",
                   lambda: AIX.update_index_vectors(vrev, aix_idx)["n_updated"],
                   rows=f"updatepin_x{factor}_ann_n_updated", warm=True,
                   progress=progress)

            # probe-after-update: the served plans over the mutated indexes
            key = f"updatepin_text_probe_x{factor}"
            _timed(spark, out, key,
                   lambda: TIX.bm25_index_probe(spark, tix_idx, queries, k=10).count(),
                   rows=f"{key}_out_rows", warm=True, progress=progress)
            key = f"updatepin_ann_probe_x{factor}"
            _timed(spark, out, key,
                   lambda: AIX.ivfpq_probe(
                       spark, aix_idx, vq, k=10, n_probe=4).count(),
                   rows=f"{key}_out_rows", warm=True, progress=progress)
    return out


def loader_scale_pin(
    spark: SparkSession,
    sf_dir: str,
    factors: tuple[int, ...] = (16, 64),
    progress=None,
) -> dict[str, float]:
    """Scale pin for the training-loader chain (r11 verdict #5 — the
    KNNPIN discipline applied to ``pack_sequences`` + ``epoch_shuffle``):
    both ride the 256-bucket two-level prefix sum, whose ONLY global
    window is the 256-row bucket-offset relation, so wall must track
    rows ~linearly with a FLAT global-window fan-in as the corpus grows.

    Per factor the artifact records the corpus rows, the wall for
    token-level sequence packing and for the two-epoch deterministic
    order, the output rows (packing fan-out is ~n_tokens/seq_len-bounded;
    epoch order is exactly 2n), and the AUDIT: the number of distinct
    hash buckets feeding the global offset window — the fan-in of the one
    non-distributed step, which must stay <= 256 at any corpus size
    (that constant is the whole scale argument)."""
    from big_data_elt_pipeline_spark.operators import sharding as SH

    out: dict[str, float] = {}
    for factor in factors:
        with _staged(spark, sf_dir, factor, "docs") as (_, docs):
            out[f"loaderpin_x{factor}_rows"] = float(docs.count())

            # AUDIT outside the timers: fan-in of the single global window
            okey = F.md5(F.col("doc_id").cast("string"))
            nbkt = (
                docs.select(
                    F.conv(F.substring(okey, 1, 2), 16, 10).cast("int").alias("b")
                )
                .agg(F.count_distinct("b"))
                .head()[0]
            )
            out[f"loaderpin_x{factor}_window_rows"] = float(nbkt)

            runs = {
                "pack": lambda: SH.pack_training_sequences(docs, seq_len=256),
                "epoch": lambda: SH.epoch_order(
                    docs.select("doc_id"), 0
                ).unionByName(SH.epoch_order(docs.select("doc_id"), 1)),
            }
            for name, fn in runs.items():
                key = f"loaderpin_{name}_x{factor}"
                _timed(spark, out, key, lambda: fn().count(),
                       rows=f"{key}_out_rows", warm=factor == factors[0],
                       progress=progress)
    return out


def run_scaled(
    spark: SparkSession, sf_dir: str, factors: tuple[int, ...] = (1, 4, 16),
    progress=None,
    should_run=None,
) -> dict[str, float]:
    """Time dedup_minhash / dedup_ngram_jaccard / dedup_winnow /
    dedup_substrings / dedup_clusters / ann_lsh_topk / training_mixture at
    each corpus factor, min-of-2 per point — single shots on this host
    showed 2x swings, and a noisy point would distort the linearity trend
    this exhibit exists to demonstrate. Also records result rows so linear
    OUTPUT growth is auditable next to wall-time.

    Before the first timed factor, every operator runs ONCE untimed at
    that factor: without it whole-stage codegen compilation and
    parquet-footer reads land on the x1 points and invert the trend
    (x1=18.9 s vs x4=6.7 s for minhash). Warm-up makes the x1 column a
    steady-state measurement like the others.

    ``should_run`` (factor -> bool, optional): consulted immediately
    before each factor's corpus materialization — the bench deadline
    budget's shed hook; a skipped factor simply has no ``scale_*_x{f}``
    keys in the result."""
    from big_data_elt_pipeline_spark.plans.curation_queries import (
        governance_mixture,
    )

    out: dict[str, float] = {}
    warmed = False
    for factor in factors:
        if should_run is not None and not should_run(factor):
            continue
        with _staged(spark, sf_dir, factor, "docs", "emb") as (_, docs, emb):
            queries = emb.filter(F.col("vec_id") < 64)  # base copy only: fixed probes
            runs = {
                "dedup_minhash": lambda: D.minhash_dedup(docs),
                "dedup_ngram_jaccard": lambda: D.ngram_jaccard_dedup(docs),
                "dedup_winnow": lambda: D.winnow_neardup(docs, threshold=0.4),
                # per-copy word salt => no window ever matches across copies:
                # repeated spans (and the window shuffle) grow exactly xK
                "dedup_substrings": lambda: D.substring_dedup(docs),
                # pairs -> components: the salted copies keep each base pair
                # inside its copy, so cluster count grows ~linearly too
                "dedup_clusters": lambda: D.neardup_clusters(
                    D.minhash_dedup(docs).select("id1", "id2")
                ),
                "ann_lsh_topk": lambda: S.lsh_topk(emb, queries, k=5, n_bits=8),
                "training_mixture": lambda: governance_mixture(docs),
            }
            for name, fn in runs.items():
                key = f"scale_{name}_x{factor}"
                _timed(spark, out, key, lambda: fn().count(), rows=f"{key}_rows",
                       warm=not warmed, progress=progress)
        warmed = True
    return out
