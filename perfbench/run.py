"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload gold_queries --seed 1 --seconds 12 --trace 0

Run it from the repository root. It generates its inputs from ``--seed``
under ``.perfbench_work/``, starts one Spark session with one local
core per CPU, checks every op's output once, then times whole passes for
``--seconds`` (at least three passes). The last line of stdout is one
JSON object, ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones.
The line before it holds the run's details (op order, failures, host
load, tail percentile). Exits non-zero without a result when the program
cannot be imported or set-up fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
MIN_PASSES = 3  # one more in a traced run: U T U T
SPARK_HEAP = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str) -> int:
    """Pin the session to this host's cores and keep every file it writes
    under ``work``. Returns the core count."""
    cpus = len(os.sched_getaffinity(0))
    for var in list(os.environ):
        # measure the shipped defaults: no trainer-iteration overrides, no
        # spread switch, no external master
        if var.startswith("SPARK_GRAFT_BENCH_ITERS_") or var in (
            "SPARK_GRAFT_SPREAD_INPUT", "SPARK_GRAFT_SF_DIR", "SPARK_MASTER_URL",
        ):
            del os.environ[var]
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": SPARK_HEAP,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher included: temp files under work,
        # no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    })
    return cpus


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the gateway launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def retained_heap_mb(spark) -> float:
    """JVM heap in use after a forced full collection.

    A trivial query runs first: the session keeps state of the last query
    it ran alive, which would otherwise make the figure depend on which op
    the seed put last. Python's collector then lets py4j release the JVM
    objects behind dropped proxies, and Spark's ContextCleaner drops the
    broadcasts and shuffles those held, so a second full collection follows
    a short wait.
    """
    spark.range(1).write.format("noop").mode("overwrite").save()
    gc.collect()
    jvm = spark._jvm
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def timed_passes(wl, seconds: float, trace: bool) -> list:
    """Whole passes until ``seconds`` have elapsed. A traced run alternates
    untraced and traced passes, U T U T ..., starting untraced."""
    passes = []
    t0 = time.perf_counter()
    min_passes = MIN_PASSES + 1 if trace else MIN_PASSES
    while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
        k = len(passes)
        passes.append(wl.run_pass(k, traced=trace and k % 2 == 1))
    return passes


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench.stats import fail_ratio, median, tail
    from perfbench.tracing import SparkCounters, Tracer, adjusted, host_snapshot, steal_s

    shutil.rmtree(WORK, ignore_errors=True)
    cpus = configure_env(WORK)
    try:
        from big_data_elt_pipeline_spark.session import get_spark

        from perfbench import metrics
        from perfbench.workloads import WORKLOADS, summarize_layers
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    host_start = host_snapshot()
    steal_start = steal_s()  # steal before this line is not the run's
    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t
    try:
        counters = SparkCounters(spark)
        tracer = Tracer(False, counters.job_count if args.trace else None)
        wl = WORKLOADS[args.workload](spark, WORK, args.seed, tracer, counters)
        phases = {"session": session_s}
        for phase in (wl.generate, wl.stage, wl.verify):
            t = time.perf_counter()
            phase()
            phases[phase.__name__] = time.perf_counter() - t
        if args.trace and hasattr(wl, "trace_sources"):
            wl.trace_sources()
        setup_s = adjusted(time.perf_counter() - T_START, steal_s() - steal_start)
        passes = timed_passes(wl, args.seconds, bool(args.trace))
        heap_mb = retained_heap_mb(spark)
        wl.cleanup()
    finally:
        stop_spark(spark)
    if args.trace:
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))

    untraced = [p for p in passes if not p.traced]
    pass_s = [adjusted(p.seconds, p.steal_s) for p in untraced]
    by_op: dict[str, list[float]] = {}
    for p in untraced:
        for name, wall, stolen in p.samples:
            by_op.setdefault(name, []).append(adjusted(wall, stolen))
    samples = [s for v in by_op.values() for s in v]
    attempted, failed = wl.attempted, len(wl.failures)
    tail_stat = tail(samples)
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cpus, "inputs": wl.inputs, "order": wl.order,
        "passes": [{"seconds": p.seconds, "steal_s": p.steal_s, "cpu_s": p.cpu_s,
                    "traced": p.traced, "samples": p.samples,
                    "host_before": p.host_before, "host_after": p.host_after}
                   for p in passes],
        "host_start": host_start, "setup_phases_s": phases,
        "fail_ratio": fail_ratio(attempted, failed), "failures": wl.failures,
        "op_median_s": {k: median(v) for k, v in by_op.items()},
        "query_tail": None if tail_stat is None else dict(
            zip(("value_s", "percentile", "n"), tail_stat)),
        **wl.details,
    }
    if args.trace:
        # the first pass is still far up the JVM's warm-up curve, so the
        # untraced baseline is the later untraced passes; with U T U T the
        # traced passes then sit symmetrically around it
        traced_s = [adjusted(p.seconds, p.steal_s) for p in passes if p.traced]
        baseline = [adjusted(p.seconds, p.steal_s) for p in untraced[1:]]
        layers = summarize_layers(passes)
        layers["session.start_s"] = session_s
        layers["trace.overhead_s"] = median(traced_s) - median(baseline)
        out = metrics.render(layers, metrics.PER_LAYER)
    else:
        out = metrics.render({
            "setup_s": setup_s,
            "pass_s": median(pass_s),
            "query_p50_s": median(samples),
            "retained_heap_mb": heap_mb,
        }, metrics.END_TO_END)
    print(json.dumps(details))
    print(json.dumps({"correct": not wl.failures, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
