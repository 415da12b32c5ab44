"""Names and units of every metric the benchmark prints.

``BENCHMARK.json`` at the repository root lists the same names and units;
the benchmark's tests check that the two agree.
"""

from __future__ import annotations

from perfbench.workloads import GOLD_OPS

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "retained_heap_mb": "MB",
}

_EXEC = {
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_s": "s",
    "exec.stage_span_s": "s",
    "exec.busy_ratio": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.calls": "count",
    "sources.self_s": "s",
    "sources.jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    **_EXEC,
    "mem.pinned_rdds": "count",
    **{f"pipeline.{t}_s": "s" for t in ("bronze", "silver", "gold")},
    "pipeline.gold.slowest_sink_s": "s",
    **{f"pipeline.{t}.jobs": "count" for t in ("bronze", "silver", "gold")},
    **{f"pipeline.{t}.shuffle_write_bytes": "bytes" for t in ("bronze", "silver", "gold")},
    **{f"io.{t}_bytes": "bytes" for t in ("bronze", "silver", "gold")},
    "io.files_written": "count",
    "io.write_amplification": "ratio",
    **{
        f"op.{q}.{m}": u
        for q in GOLD_OPS
        for m, u in (("build_s", "s"), ("action_s", "s"), ("jobs", "count"),
                     ("shuffle_bytes", "bytes"))
    },
    "trace.overhead_s": "s",
}


def render(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    """``{name: {"value", "unit"}}`` for every name in ``units``; a layer
    the workload does not exercise reads 0."""
    return {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in units.items()}
