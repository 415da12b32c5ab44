"""The benchmark's workloads: one client, closed loop, whole passes.

A workload stages its inputs, runs one untimed pass that both warms the
JVM and checks every op's output, then runs timed passes until the
measuring window has elapsed. Each timed op runs from the query function call
through ``df.write.format("noop").save()``. The seed permutes the op order
of every pass; the program sees only the op list and the generated inputs.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

from perfbench import datagen
from perfbench.stats import median
from perfbench.tracing import SparkCounters, Tracer, host_snapshot, process_cpu_s, steal_s

# TPC-H scale of the generated corpus: 300 customers, ~12,000 line items,
# 3,000 orders. Small on purpose: a run, JVM start included, must stay near
# a minute, and at this size an op's time is the per-query floor (jobs,
# stages, planning, scheduling) that the open performance work targets.
SCALE = 0.002

GOLD_OPS = ["ca_country", "client_scores", "hll_monthly_distinct"]
STAGING_SQL = {
    "clients": """
        SELECT c_custkey AS id_client, c_name AS nom,
               lower(c_name) || '@clients.example' AS email,
               DATE '1992-01-01' + CAST(c_custkey % 2557 AS INTEGER) AS date_inscription,
               n_name AS pays
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        ORDER BY id_client""",
    "achats": """
        SELECT row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS id_achat,
               o_custkey AS id_client, l_shipdate AS date_achat,
               round(l_extendedprice * (1 - l_discount), 4) AS montant,
               p_brand AS produit
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        ORDER BY id_achat""",
}
PIPELINE_STAGES = ["bronze_ingest", "silver_transform", "gold_transform"]
SOURCE_FNS = ["read_table", "achats_df", "clients_df"]


@dataclass
class PassResult:
    seconds: float
    traced: bool
    cpu_s: float = 0.0
    steal_s: float = 0.0
    samples: list[tuple[str, float, float]] = field(default_factory=list)  # op, wall, steal
    layers: dict[str, float] = field(default_factory=dict)
    host_before: dict = field(default_factory=dict)
    host_after: dict = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer, counters: SparkCounters):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.counters = counters
        self.cores = spark.sparkContext.defaultParallelism
        from pyspark import SparkContext

        self.pids = [os.getpid(), SparkContext._gateway.proc.pid]
        self.corpus = os.path.join(work_dir, "corpus")
        self.attempted = 0
        self.failures: list[dict] = []  # one entry per failed op execution
        self.inputs: dict = {}
        self.order: list[list[str]] = []
        self.details: dict = {}

    def fail(self, op: str, when: str, problems: list[str]) -> None:
        self.failures.append({"op": op, "when": when, "problems": [p[:300] for p in problems[:3]]})

    def _pinned_ids(self) -> set[int]:
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    def _count_new_pins(self, before: set[int], res: PassResult) -> None:
        """Count RDDs persisted since ``before`` and still persisted now.
        Read right after each op: Spark's ContextCleaner unpersists an RDD
        once the JVM collects it, so a later read would miss some."""
        res.layers["mem.pinned_rdds"] = (
            res.layers.get("mem.pinned_rdds", 0) + len(self._pinned_ids() - before))

    def generate(self) -> None:
        nbytes = datagen.write_corpus(self.corpus, self.seed, SCALE)
        self.inputs = {"scale": SCALE, "corpus_bytes": nbytes}

    def stage(self) -> None:
        """Prepare program inputs beyond the corpus (untimed set-up)."""

    def verify(self) -> None:
        raise NotImplementedError

    def run_pass(self, index: int, traced: bool) -> PassResult:
        self.tracer.enabled = traced
        res = PassResult(0.0, traced, host_before=host_snapshot())
        first_span = len(self.tracer.spans)
        cpu0, steal0 = process_cpu_s(self.pids), steal_s()
        t0 = time.perf_counter()
        self._pass_body(index, res)
        res.seconds = time.perf_counter() - t0
        res.cpu_s = process_cpu_s(self.pids) - cpu0
        res.steal_s = steal_s() - steal0
        res.host_after = host_snapshot()
        self.tracer.enabled = False
        if traced:
            self.counters.settle()
            res.layers.update(self.layer_metrics(self.tracer.spans[first_span:], index))
        return res

    def _pass_body(self, index: int, res: PassResult) -> None:
        raise NotImplementedError

    def layer_metrics(self, spans, index: int) -> dict[str, float]:
        raise NotImplementedError

    def _exec_metrics(self, action_s: float, job_ranges) -> dict[str, float]:
        jobs = [j for lo, hi in job_ranges for j in self.counters.jobs(lo, hi)]
        w = self.counters.stage_work(jobs)
        return {
            "exec.action_s": action_s,
            "exec.jobs": len(jobs),
            "exec.stages": w.stages,
            "exec.tasks": w.tasks,
            "exec.failed_tasks": w.failed_tasks,
            "exec.shuffle_read_bytes": w.shuffle_read_bytes,
            "exec.shuffle_write_bytes": w.shuffle_write_bytes,
            "exec.spill_bytes": w.spill_bytes,
            "exec.executor_run_s": w.executor_run_s,
            "exec.stage_span_s": w.stage_span_s,
            "exec.busy_ratio": w.executor_run_s / (action_s * self.cores) if action_s else 0.0,
        }

    def cleanup(self) -> None:
        """Drop what the timed passes wrote (not what they pinned)."""


def _njobs(span) -> int:
    lo, hi = span.attrs["jobs"]
    return hi - lo


class GoldQueries(Workload):
    """The dashboard read path: registry queries over ``achats``/``clients``."""

    name = "gold_queries"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        from big_data_elt_pipeline_spark.plans import queries as Q
        from big_data_elt_pipeline_spark.sources import tpch

        registry = Q.spark_queries()
        self.fns = {n: registry[n] for n in GOLD_OPS}
        self.oracle = {n: Q.oracle_queries()[n] for n in GOLD_OPS}
        self._tpch = tpch

    def trace_sources(self) -> None:
        """Wrap the ``sources.tpch`` readers so their calls become spans."""
        for fn in SOURCE_FNS:
            self.tracer.wrap(self._tpch, fn, f"sources.{fn}")

    def _permuted(self) -> list[str]:
        ops = list(GOLD_OPS)
        self.rng.shuffle(ops)
        self.order.append(ops)
        return ops

    def verify(self) -> None:
        from big_data_elt_pipeline_spark.plans.compare import diff_frames, duckdb_connection

        con = duckdb_connection(self.corpus)
        try:
            for name in self._permuted():
                self.attempted += 1
                try:
                    got = self.fns[name](self.spark, self.corpus).toPandas()
                    want = con.execute(self.oracle[name]).fetchdf()
                except Exception as exc:  # an op that raises is a failed op
                    self.fail(name, "verify", [f"{type(exc).__name__}: {exc}"])
                    continue
                problems = diff_frames(got, want)
                if problems:
                    self.fail(name, "verify", problems)
        finally:
            con.close()

    def _pass_body(self, index: int, res: PassResult) -> None:
        tr = self.tracer
        for name in self._permuted():
            self.attempted += 1
            pinned = self._pinned_ids() if tr.enabled else set()
            steal0 = steal_s()
            t0 = time.perf_counter()
            try:
                with tr.span("op", new_op=True, query=name):
                    with tr.span("plans.build"):
                        df = self.fns[name](self.spark, self.corpus)
                    if tr.enabled:
                        with tr.span("catalyst.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("exec.action"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                self.fail(name, f"pass {index}", [f"{type(exc).__name__}: {exc}"])
                continue
            res.samples.append((name, time.perf_counter() - t0, steal_s() - steal0))
            if tr.enabled:
                self._count_new_pins(pinned, res)

    def layer_metrics(self, spans, index: int) -> dict[str, float]:
        by_id = {s.id: s for s in spans}
        src = [s for s in spans if s.name.startswith("sources.")]
        src_top = [s for s in src if not by_id[s.parent].name.startswith("sources.")]
        builds = [s for s in spans if s.name == "plans.build"]
        actions = [s for s in spans if s.name == "exec.action"]
        out = {
            "sources.calls": len(src),
            "sources.self_s": sum(self.tracer.self_time(s) for s in src),
            "sources.jobs": sum(_njobs(s) for s in src_top),
            "plans.build_s": sum(s.duration for s in builds),
            "plans.build_jobs": sum(_njobs(s) for s in builds),
            "catalyst.plan_s": sum(s.duration for s in spans if s.name == "catalyst.plan"),
        }
        out.update(self._exec_metrics(
            sum(s.duration for s in actions), [s.attrs["jobs"] for s in actions]))
        for op in (s for s in spans if s.name == "op"):
            q = op.attrs["query"]
            kids = {c.name: c for c in spans if c.parent == op.id}
            jobs = self.counters.jobs(*op.attrs["jobs"])
            out[f"op.{q}.build_s"] = kids["plans.build"].duration
            out[f"op.{q}.action_s"] = kids["exec.action"].duration
            out[f"op.{q}.jobs"] = len(jobs)
            out[f"op.{q}.shuffle_bytes"] = self.counters.stage_work(jobs).shuffle_read_bytes
        return out


class Medallion(Workload):
    """Staged CSV sources -> bronze -> silver -> 13 gold and serving sinks."""

    name = "medallion"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        from big_data_elt_pipeline_spark import pipeline

        self._pipeline = pipeline
        self.sources = os.path.join(self.work_dir, "medallion", "sources")
        self._stage_s: dict[str, tuple[float, float]] = {}  # wall, steal
        # stage calls are timed from outside in every pass: run_medallion
        # looks them up as module globals at call time
        for stage in PIPELINE_STAGES:
            self._time_stage(stage)

    def _time_stage(self, stage: str) -> None:
        fn = getattr(self._pipeline, stage)

        def timed(*args, **kwargs):
            steal0 = steal_s()
            t0 = time.perf_counter()
            with self.tracer.span(f"pipeline.{stage}"):
                out = fn(*args, **kwargs)
            self._stage_s[stage] = (time.perf_counter() - t0, steal_s() - steal0)
            return out

        setattr(self._pipeline, stage, timed)

    def stage(self) -> None:
        """Write the CSV sources the pipeline ingests.

        DuckDB derives them from the corpus (the ``clients``/``achats``
        mapping of ``sources.tpch``, with a row-number purchase id), so the
        pipeline's input does not depend on the code under test.
        """
        import duckdb

        os.makedirs(self.sources, exist_ok=True)
        con = duckdb.connect()
        try:
            for t in ("customer", "nation", "orders", "lineitem", "part"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus}/{t}.parquet'")
            for name, sql in STAGING_SQL.items():
                con.execute(f"COPY ({sql}) TO '{self.sources}/{name}.csv' "
                            "(HEADER, TIMESTAMPFORMAT '%Y-%m-%d %H:%M:%S')")
            self.expected_bronze = {
                name: con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
                for name, sql in STAGING_SQL.items()
            }
        finally:
            con.close()
        self.inputs["source_csv_bytes"] = _tree_bytes(self.sources)[0]
        self.inputs["rows"] = dict(self.expected_bronze)

    def _lake(self, index) -> str:
        return os.path.join(self.work_dir, "medallion", f"lake_{index}")

    def _run(self, lake: str) -> dict:
        return self._pipeline.run_medallion(
            self.spark, self.sources, lake,
            min_date="1990-01-01", max_amount=1e9, count_rows=False,
        )

    def verify(self) -> None:
        self.order.append(["run_medallion"])
        self.attempted += 1
        lake = self._lake("verify")
        try:
            out = self._run(lake)
            problems = self._pipeline.golden_check(self.spark, lake)
        except Exception as exc:
            self.fail("run_medallion", "verify", [f"{type(exc).__name__}: {exc}"])
            return
        if out["bronze_rows"] != self.expected_bronze:
            problems.append(f"bronze rows {out['bronze_rows']} != {self.expected_bronze}")
        if problems:
            self.fail("run_medallion", "verify", problems)

    def _pass_body(self, index: int, res: PassResult) -> None:
        self.order.append(["run_medallion"])
        self.attempted += 1
        self._stage_s.clear()
        pinned = self._pinned_ids() if self.tracer.enabled else set()
        try:
            with self.tracer.span("op", new_op=True, query="run_medallion"):
                self._run(self._lake(index))
        except Exception as exc:
            self.fail("run_medallion", f"pass {index}", [f"{type(exc).__name__}: {exc}"])
            return
        res.samples.extend((s, *self._stage_s[s]) for s in PIPELINE_STAGES)
        if self.tracer.enabled:
            self._count_new_pins(pinned, res)

    def layer_metrics(self, spans, index: int) -> dict[str, float]:
        op = next(s for s in spans if s.name == "op")
        out = self._exec_metrics(op.duration, [op.attrs["jobs"]])
        for stage, short in zip(PIPELINE_STAGES, ("bronze", "silver", "gold")):
            sp = next(s for s in spans if s.name == f"pipeline.{stage}")
            jobs = self.counters.jobs(*sp.attrs["jobs"])
            out[f"pipeline.{short}_s"] = sp.duration
            out[f"pipeline.{short}.jobs"] = len(jobs)
            out[f"pipeline.{short}.shuffle_write_bytes"] = (
                self.counters.stage_work(jobs).shuffle_write_bytes)
            if short == "gold":
                sinks: dict[str, list] = {}
                for j in jobs:
                    d = self.counters.description(j)
                    if d.startswith("gold sink: "):
                        sinks.setdefault(d[len("gold sink: "):], []).append(j)
                times = {k: self.counters.job_window_s(v) for k, v in sinks.items()}
                slowest = max(times, key=times.get)
                out["pipeline.gold.slowest_sink_s"] = times[slowest]
                self.details.setdefault("slowest_sink", []).append(slowest)
        lake = self._lake(index)
        sizes = {t: _tree_bytes(os.path.join(lake, t)) for t in ("bronze", "silver", "gold")}
        out.update({f"io.{t}_bytes": b for t, (b, _) in sizes.items()})
        out["io.files_written"] = sum(n for _, n in sizes.values())
        out["io.write_amplification"] = (
            sum(b for b, _ in sizes.values()) / self.inputs["source_csv_bytes"])
        return out

    def cleanup(self) -> None:
        shutil.rmtree(os.path.join(self.work_dir, "medallion"), ignore_errors=True)


def _tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``root``; Hadoop's ``_SUCCESS``
    markers and ``.crc`` checksums are not data."""
    nbytes = nfiles = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            nbytes += os.path.getsize(os.path.join(dirpath, f))
            nfiles += 1
    return nbytes, nfiles


WORKLOADS = {w.name: w for w in (Medallion, GoldQueries)}


def summarize_layers(passes: list[PassResult]) -> dict[str, float]:
    """Median of each per-layer metric over the traced passes."""
    traced = [p.layers for p in passes if p.traced]
    keys = {k for layers in traced for k in layers}
    return {k: median([layers.get(k, 0.0) for layers in traced]) for k in keys}
