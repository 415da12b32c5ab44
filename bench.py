"""Benchmark harness: the headline query suite, the medallion pipeline,
the x1/x4/x16 scaled-corpus points and streaming throughput, on the
corpus directory in $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data).

    python bench.py                              # the full run
    python bench.py --only q1,q2 [--plans DIR]   # just these queries

Output contract:
- one JSON progress line per timing as it completes; a suite query's
  line splits its seconds into plan construction (``build``, including
  the eager actions a builder fires: threshold collects, fits,
  checkpoints) and noop-sink execution (``exec``);
- the full-fidelity report goes to ``BENCH_LOCAL.json`` next to this
  file: every pass's total and build/exec split, host load, scale
  points and what was shed. An ``--only`` run writes no report, so a
  quick run never replaces a full run's record;
- the last two stdout lines are compact JSON of bounded size (together
  well under 2000 characters): a fixed-shape extras line
  ``{"m":"extras","stream","scale","shed","host"}`` (``scale`` maps each
  operator to its 1-dp [x1, x4, x16] seconds, null where not measured)
  and the headline ``{"metric","value","unit","sf","n","top",
  "rest_total","load"}``. ``value`` is the sum of the per-query minimums
  plus ``pipeline_total`` over ``n`` entries; ``top`` holds the 20
  slowest of those entries (2 dp) and ``rest_total`` the remainder, so
  ``sum(top) + rest_total == value``; ``load`` is the 1-minute load
  average at start and at the end.

Budget: the run answers to a deadline read from
``SPARK_GRAFT_BENCH_BUDGET_S`` (default 1500 s). The remaining time gates
each unit: the second suite pass, pipeline repeats, the x16 then x4/x1
scale factors and the streaming section are shed when they no longer
fit, a mid-pass suite truncation last. Each shed unit is logged as a
``shed`` line and recorded. On SIGTERM/SIGINT or an exception the report
and both tail lines are still written from whatever has completed.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "ca_monthly",
    "ca_country",
    "ca_product",
    "fact_achats",
    "dim_clients",
    "client_features",
    "client_scores",
    "segment_summary",
    "cohort_first_purchase",
    "serving_daily",
    "serving_weekly",
    "serving_distribution",
    "monthly_growth",
    "kpis",
    "top_clients",
    "silver_achats",
    "silver_clients",
    # beyond-reference surface
    "doc_stats",
    "doc_keywords",
    "doc_packing",
    "corpus_curation",
    "dedup_exact",
    "dedup_minhash",
    "ann_topk",
    "ann_lsh_topk",
    "events_tumbling",
    "events_sessionize",
    "attribution_join",
    "asof_event_purchase",
    "cube_sales",
    "pivot_event_counts",
    "tpch_q3",
    "tpch_q18",
    "tpch_q16",
    "tpch_q13",
    "tpch_q17",
    "tpch_q22",
    "tpch_q5",
    "events_unpivot",
    "client_quartiles",
    "embedding_stats",
    "dedup_clusters",
    "dedup_winnow",
    "dedup_incremental",
    "dedup_incremental_minhash",
    "events_enriched",
    "hll_monthly_distinct",
    "pii_scrub",
    "doc_repetition",
    "contamination_check",
    "training_mixture",
    "lang_label_audit",
    "ann_ivf_recall",
    # round 6
    "tpch_q4", "tpch_q7", "tpch_q8", "tpch_q10", "tpch_q11",
    "tpch_q12", "tpch_q14", "tpch_q15", "tpch_q19",
    "bm25_topk", "dedup_blocks", "event_funnel", "semantic_dedup",
    # round 7
    "tpch_q2", "tpch_q9", "tpch_q20", "dedup_substrings", "dsir_weights",
    "dedup_incremental_substrings", "dedup_span_removal",
    # round 8
    "dsir_select", "dedup_incremental_span_removal",
    "ann_quantized_topk", "hybrid_rrf_topk",
    "unimax_budget", "cms_heavy_hitters", "priority_sample", "corpus_split",
    "c4_quality_filter", "lm_perplexity_filter", "bloom_decontaminate",
    "pagerank_centrality",
    "nb_lang_classifier", "gopher_quality_filter", "temperature_mixture",
    "url_domain_filter", "doc_length_quantiles", "embedding_covariance",
    "pca_top_component",
    # round 8, second wave: value-hashable trainers + eval suite + BPE
    "kmeans_centroids", "classifier_auc", "logreg_quality_model",
    "bpe_merges", "bpe_vocab", "lang_id_report", "embedding_audit",
    "curation_recipe", "knn_graph_mutual", "knn_semantic_clusters",
    # round 9
    "bpe_doc_tokens",
    "ccnet_perplexity_buckets", "retrieval_eval",
    "tokenizer_fertility", "vocab_coverage",
    "source_mixture", "vocab_drift", "dedup_minhash_recall",
    "doc_length_quantiles_by_lang",
    # round 10: unigram-LM tokenizer family + deterministic shard export
    "unigram_vocab", "unigram_segment",
    "shard_assignment", "shard_manifest",
    # round 11: classifier audits (r10 debuts), the verified shard read
    # path, and the promoted bounded-assertion forms (kpis_approx now
    # computes exact twins + booleans; ann_ivf_topk runs IVF + brute
    # force + recall floor in one plan)
    "classifier_agreement", "classifier_calibration",
    "shard_pruned_read", "kpis_approx", "ann_ivf_topk",
    "pack_sequences", "ann_pq_topk", "epoch_shuffle",
    # round 11, third wave
    "ann_ivfpq_topk", "mmr_rerank", "dedup_keep_best", "doc_entropy",
    # round 12: the persisted ANN index (audit re-hashes stored codes;
    # probe answers from the stored index with file-level cell pruning —
    # both amortize the per-process staged build) and the two pyspark.ml
    # fits in their bounded-assertion form (each runs its full fit +
    # exact-kernel bound check). stream_ann_probe stays in the streaming
    # section's domain (its query fn drives a full stream).
    "ann_index_audit", "ann_index_probe",
    "ml_kmeans_segments", "ml_repurchase_predictor",
    # round 13: the persisted BM25 index pair (same staged-build
    # amortization as the ANN pair), the tombstone-delete probe (its own
    # staged index), and the stored-index recall gate (probe + exact-L2
    # brute force in one plan — the measurement's price, by contract).
    # stream_retrieval_loop stays in the streaming domain like
    # stream_ann_probe (its query fn drives a full stream + ingest).
    "bm25_index_audit", "bm25_index_probe", "bm25_index_delete",
    "ann_index_delete", "ann_index_recall", "hybrid_index_topk",
    # round 14: the in-place document/vector update composites (each
    # stages its own mutated index once per process, like the delete
    # pair; the probe-after-update is the measured serving path), the
    # RM3 expansion probe (stored-index serving: base probe ->
    # feedback model -> weighted re-probe), and the sketch-merge
    # overlap triage
    "ann_index_update", "bm25_index_update", "bm25_index_rm3",
    "sketch_overlap_triage",
]

# iteration counts for the iterative trainers and the unigram Viterbi DP
# (plans.queries.bench_iters): the bench times the per-round plan shape,
# not convergence; the correctness checks never set these. 8 unigram
# rounds cover every fixture word, so those VALUES equal the full result.
BENCH_ITERS = {
    "SPARK_GRAFT_BENCH_ITERS_KMEANS": "2",
    "SPARK_GRAFT_BENCH_ITERS_LOGREG": "3",
    "SPARK_GRAFT_BENCH_ITERS_PCA": "4",
    "SPARK_GRAFT_BENCH_ITERS_UNIGRAM": "8",
}
TOP_N = 20
SCALE_FACTORS = (1, 4, 16)
# extras-line alias per scale operator; full names in BENCH_LOCAL.json
SCALE_ALIAS = {"dedup_minhash": "minhash", "dedup_ngram_jaccard": "ngram",
               "dedup_winnow": "winnow", "dedup_substrings": "substr",
               "dedup_clusters": "clusters", "ann_lsh_topk": "lsh",
               "training_mixture": "mixture"}
# budget reserves and estimates, seconds on a 4-CPU host at sf0.1 (what
# was shed is recorded, so a misestimate degrades rather than fails)
PIPELINE_EST = 140.0
TAIL_RESERVE = 30.0
STREAM_RESERVE = 140.0
SCALE_EST = {1: 90.0, 4: 150.0}  # later factors: see _scale

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _host_snapshot() -> tuple[float, float]:
    """(1-minute load average, cumulative iowait seconds), (-1, -1) where
    /proc is unreadable: attached to every timing so host contention is
    attributable from the report alone."""
    try:
        with open("/proc/loadavg") as fh:
            load1 = float(fh.read().split()[0])
        with open("/proc/stat") as fh:
            cpu = fh.readline().split()
        return load1, int(cpu[5]) / _CLK_TCK
    except (OSError, IndexError, ValueError):
        return -1.0, -1.0


_T0 = time.perf_counter()
_BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "1500"))

# everything measured so far: _emit() builds the report and the two tail
# lines from it at any point (completion, SIGTERM, exception)
_STATE: dict = {
    "timings": {},    # entry -> min seconds
    "raw": {},        # entry -> [per-pass seconds]
    "build_exec": {},  # suite query -> [[build_s, exec_s] per pass]
    "host_load": {},  # entry -> [[loadavg, iowait-delta] per pass]
    "stream": None,   # streaming section result
    "scale_full": {},  # run_scaled's point map
    "shed": [],       # ordered record of everything dropped
    "sf": 0.0,
    "host0": (-1.0, -1.0),  # _host_snapshot() when main() started
    "cpus": None,  # the session's local[N] width, set by main()
    "write_local": True,
    "emitted": False,
}


def _progress(name: str, sec: float, **split: float) -> None:
    print(json.dumps({"q": name, "sec": round(sec, 4), **split}), flush=True)


def _remaining() -> float:
    return _BUDGET_S - (time.perf_counter() - _T0)


def _shed(what: str) -> None:
    _STATE["shed"].append(what)
    print(
        json.dumps({"shed": what, "remaining_s": round(_remaining(), 1)}),
        flush=True,
    )


def _headline(load_end: float) -> dict:
    timings: dict[str, float] = _STATE["timings"]
    entries = {k: v for k, v in timings.items() if not k.startswith("pipeline_")}
    if "pipeline_total" in timings:
        entries["pipeline_total"] = timings["pipeline_total"]
    value = round(sum(entries.values()), 2)
    top = {k: round(v, 2) for k, v in
           sorted(entries.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_N]}
    return {
        "metric": "headline_query_suite_total",
        "value": value,
        "unit": "sec",
        "sf": _STATE["sf"],
        "n": len(entries),
        "top": top,
        "rest_total": round(value - sum(top.values()), 2),
        "load": [_STATE["host0"][0], load_end],
    }


def _extras(iow_end: float) -> dict:
    full = _STATE["scale_full"]

    def point(op: str, f: int) -> float | None:
        v = full.get(f"scale_{op}_x{f}")
        return None if v is None else round(v, 1)

    return {
        "m": "extras",
        "stream": _STATE["stream"],
        "scale": {short: [point(op, f) for f in SCALE_FACTORS]
                  for op, short in SCALE_ALIAS.items()},
        "shed": list(_STATE["shed"]),
        "host": {"cpus": _STATE["cpus"],
                 "iowait_s": round(iow_end - _STATE["host0"][1], 1)},
    }


def _emit() -> None:
    """Write BENCH_LOCAL.json (full runs) and print the two tail lines
    from whatever has completed, headline last. Runs once: the signal
    path and the normal path can both reach it."""
    if _STATE["emitted"]:
        return
    _STATE["emitted"] = True
    load_end, iow_end = _host_snapshot()
    headline = _headline(load_end)
    extras = _extras(iow_end)
    if _STATE["write_local"]:
        try:
            with open(
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "BENCH_LOCAL.json"), "w",
            ) as fh:
                json.dump(
                    {**headline, "queries": _STATE["timings"],
                     "raw_passes": _STATE["raw"], "build_exec": _STATE["build_exec"],
                     "host_load": _STATE["host_load"], "extras": extras,
                     "scale_points": _STATE["scale_full"],
                     "budget_s": _BUDGET_S,
                     "elapsed_s": round(time.perf_counter() - _T0, 1)},
                    fh, indent=1,
                )
        except OSError:
            pass
    print(json.dumps(extras, separators=(",", ":")), flush=True)
    print(json.dumps(headline, separators=(",", ":")), flush=True)


def _on_signal(signum, frame) -> None:
    """SIGTERM/SIGINT: emit from whatever has completed, then exit at once
    (os._exit skips Spark's shutdown hooks, which race in-flight tasks;
    the report is already on disk and the tail lines flushed)."""
    _shed(f"signal_{signum}")
    _emit()
    os._exit(0)


def _run_one(spark, fn, sf_dir: str, name: str, pass_idx: int,
             plans: str | None) -> None:
    from big_data_elt_pipeline_spark.session import pinned_rdds, unpersist_rdds

    pinned = pinned_rdds(spark)
    load_before, iow_before = _host_snapshot()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()  # full execution
    t2 = time.perf_counter()
    _, iow_after = _host_snapshot()
    if plans and pass_idx == 0:
        os.makedirs(plans, exist_ok=True)
        with open(os.path.join(plans, f"{name}.txt"), "w") as fh:
            fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
    # free whatever the query pinned (cluster-resolution checkpoints,
    # q15-style persists): leaked blocks measurably slowed later suite
    # entries in long sessions
    unpersist_rdds(spark, pinned_rdds(spark) - pinned)
    spark.catalog.clearCache()
    build, run = round(t1 - t0, 4), round(t2 - t1, 4)
    _STATE["host_load"].setdefault(name, []).append(
        [load_before, round(iow_after - iow_before, 2)]
    )
    _STATE["build_exec"].setdefault(name, []).append([build, run])
    raw = _STATE["raw"].setdefault(name, [])
    raw.append(round(t2 - t0, 4))
    _STATE["timings"][name] = min(raw)
    _progress(f"{name}#p{pass_idx}", t2 - t0, build=build, exec=run)


def _suite(spark, registry, sf_dir: str, suite: list[str],
           plans: str | None, reserve: float) -> None:
    """Two interleaved passes: pass A runs every query once, then pass B
    repeats the suite, and each query keeps the min. This host shows
    multi-minute I/O-stall windows; back-to-back repeats sit inside one,
    while interleaved ones would need a stall to recur at the same suite
    offset a whole pass later. Pass B is shed first."""
    raw = _STATE["raw"]
    start = time.perf_counter()
    for qi, name in enumerate(suite):
        if _remaining() < reserve:
            _shed(f"pass_a_tail_{len(suite) - qi}q")  # last resort
            break
        _run_one(spark, registry[name], sf_dir, name, 0, plans)
    pass_a = time.perf_counter() - start
    if _remaining() > pass_a * 1.05 + reserve:
        for qi, name in enumerate(suite):
            if name not in raw:
                break  # pass A was truncated here; don't run B beyond it
            if _remaining() < reserve:
                _shed(f"pass_b_tail_{len(suite) - qi}q")
                break
            _run_one(spark, registry[name], sf_dir, name, 1, None)
    else:
        _shed("pass_b")
    for name in suite:
        if name in raw:
            best = raw[name].index(min(raw[name]))
            build, run = _STATE["build_exec"][name][best]
            _progress(name, raw[name][best], build=build, exec=run)


def _pipeline(spark, sf_dir: str) -> None:
    """The full medallion pipeline (bronze CSV -> silver -> gold + serving
    parquet) on the shared session, min of up to three runs: this host can
    stall two consecutive runs (BENCH_NOTES.md, the pipeline_gold
    diagnosis)."""
    import shutil
    import tempfile

    from big_data_elt_pipeline_spark import pipeline as P
    from big_data_elt_pipeline_spark.sources import tpch

    raw = _STATE["raw"]
    tmp = tempfile.mkdtemp(prefix="bench_lake_")
    try:
        clients = tpch.clients_df(spark, sf_dir)
        achats = tpch.achats_df(spark, sf_dir)
        clients.write.mode("overwrite").option("header", True).csv(f"{tmp}/sources/clients.csv")
        (achats.write.mode("overwrite").option("header", True)
         .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
         .csv(f"{tmp}/sources/achats.csv"))
        stage_best: dict[str, float] = {}
        last_run = PIPELINE_EST / 3
        for run in range(3):
            if run > 0 and _remaining() < last_run * 1.3 + TAIL_RESERVE:
                _shed(f"pipeline_run_{run + 1}+")
                break
            t_run = time.perf_counter()
            load_before, iow_before = _host_snapshot()
            result = P.run_medallion(
                spark, f"{tmp}/sources", f"{tmp}/lake{run}",
                min_date="1990-01-01", max_amount=1e9, count_rows=False,
            )
            _, iow_after = _host_snapshot()
            last_run = time.perf_counter() - t_run
            _STATE["host_load"].setdefault("pipeline_total", []).append(
                [load_before, round(iow_after - iow_before, 2)]
            )
            for stage, sec in result["seconds"].items():
                raw.setdefault(f"pipeline_{stage}", []).append(round(sec, 4))
                if stage not in stage_best or sec < stage_best[stage]:
                    stage_best[stage] = sec
        for stage, sec in stage_best.items():
            _STATE["timings"][f"pipeline_{stage}"] = sec
            _progress(f"pipeline_{stage}", sec)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _scale(spark, sf_dir: str):
    """The scaled-corpus dedup/ANN points (plans/scale_bench.run_scaled)
    on a FRESH session: after the suite, the shared session's accumulated
    block-manager/JVM state inflated these points 2-3x run to run. x16
    reserves the streaming section's cost, so a short budget sheds it
    before the streaming numbers. A factor after the first is estimated
    from the last one run, scaled by the factor ratio (the exhibit's own
    claim: cost ~linear in the factor), so the estimate follows the scale
    factor and the host. Returns the session now in use."""
    if _remaining() < SCALE_EST[1] + SCALE_EST[4] + TAIL_RESERVE:
        _shed("scale_block")
        return spark
    from big_data_elt_pipeline_spark.plans.scale_bench import run_scaled
    from big_data_elt_pipeline_spark.session import get_spark

    spark.stop()
    spark = get_spark("bench_scale")

    last: list[tuple[int, float]] = []  # (factor, start) of each factor run

    def _should_run(factor: int) -> bool:
        now = time.perf_counter()
        est = ((now - last[-1][1]) * factor / last[-1][0] if last
               else SCALE_EST[factor])
        reserve = STREAM_RESERVE if factor > 4 else 0.0
        if _remaining() >= est + TAIL_RESERVE + reserve:
            last.append((factor, now))
            return True
        _shed(f"scale_x{factor}")
        return False

    _STATE["scale_full"].update(run_scaled(
        spark, sf_dir, SCALE_FACTORS, progress=_progress, should_run=_should_run))
    return spark


def _stream(spark, sf_dir: str) -> None:
    """Rows/sec of the Structured Streaming surface: file-source
    micro-batches driven to completion, min of 2. Throughput, so it goes
    to the extras line, not the headline total."""
    if _remaining() < 120 + TAIL_RESERVE:
        _shed("stream")
        return
    from big_data_elt_pipeline_spark.plans.scale_bench import _timed
    from big_data_elt_pipeline_spark.sources.tpch import achats_df, events_df
    from big_data_elt_pipeline_spark.streaming import events as SE
    from big_data_elt_pipeline_spark.streaming import incremental as SI
    from big_data_elt_pipeline_spark.streaming import staging_dir

    secs: dict[str, float] = {}
    stream: dict[str, float] = {}
    n_events = events_df(spark, sf_dir).count()
    best = _timed(spark, secs, "stream_tumbling_sec",
                  lambda: SE.stream_tumbling_revenue(spark, sf_dir).count(),
                  progress=_progress)
    stream["tumb_s"] = round(best, 2)
    stream["tumb_rps"] = round(n_events / best)

    achats = achats_df(spark, sf_dir)
    n_achats = achats.count()

    def _incremental() -> int:
        # staging_dir caches the shard staging across runs and wipes the
        # fold state, so run 2 times the pure stream-fold path
        root = staging_dir("bench_incremental", sf_dir)
        return SI.incremental_ca_monthly(
            spark, achats, f"{root}/src", f"{root}/state"
        ).count()

    best = _timed(spark, secs, "stream_incremental_gold_sec", _incremental,
                  progress=_progress)
    stream["incr_s"] = round(best, 2)
    stream["incr_rps"] = round(n_achats / best)
    _STATE["stream"] = stream


def _parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--only", help="comma-separated registered queries: time "
                    "just these and skip the pipeline, scale and stream sections")
    ap.add_argument("--plans", metavar="DIR", help="write each timed query's "
                    "formatted physical plan to DIR/<query>.txt")
    args = ap.parse_args(argv)
    if args.only:
        from big_data_elt_pipeline_spark.plans import queries as Q

        args.only = args.only.split(",")
        unknown = sorted(set(args.only) - set(Q.spark_queries()))
        if unknown:
            ap.error(f"unknown queries: {','.join(unknown)}")
    return args


def main(args: argparse.Namespace) -> None:
    _STATE["host0"] = _host_snapshot()
    for key, n in BENCH_ITERS.items():
        os.environ.setdefault(key, n)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _STATE["sf"] = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    _STATE["write_local"] = not args.only
    from big_data_elt_pipeline_spark.plans import queries as Q
    from big_data_elt_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    _STATE["cpus"] = spark.sparkContext.defaultParallelism
    registry = Q.spark_queries()
    # warm the JVM + parquet footers once with the cheapest query
    registry["kpis"](spark, sf_dir).collect()
    if args.only:
        _suite(spark, registry, sf_dir, args.only, args.plans, TAIL_RESERVE)
    else:
        suite = [n for n in BENCH_QUERIES if n in registry]
        _suite(spark, registry, sf_dir, suite, args.plans,
               PIPELINE_EST + TAIL_RESERVE)
        _pipeline(spark, sf_dir)
        spark = _scale(spark, sf_dir)
        _stream(spark, sf_dir)
    _emit()


if __name__ == "__main__":
    cli_args = _parse_args(sys.argv[1:])
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    try:
        main(cli_args)
    except BaseException:
        if not _STATE["emitted"]:
            _STATE["shed"].append("exception")
            _emit()
        raise
