"""Tests of the benchmark's own logic.

    python3 -m pytest perfbench/tests -q

The last tests run the benchmark end to end on a 0.001-scale corpus, one
Spark session per run, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, metrics, workloads  # noqa: E402
from perfbench.stats import fail_ratio, quartile_spread, tail  # noqa: E402
from perfbench.tracing import STEAL_WEIGHT, Span, Tracer, adjusted, union_length  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# --- percentile rule ---------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert tail(range(10)) is None
    value, pct, n = tail(range(1, 12))  # 11 samples: the smallest has 10 above it
    assert (value, n) == (1, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_percentile_grows_with_samples():
    value, pct, n = tail(range(1, 21))
    assert (value, pct, n) == (10, 50.0, 20)
    value, pct, n = tail(list(range(100, 0, -1)))  # order does not matter
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(1 for x in range(1, 101) if x > value) == 10


# --- span arithmetic ------------------------------------------------------------

def test_union_length_counts_overlap_once():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent=parent)


def test_self_time_subtracts_covered_part_of_children():
    tr = Tracer(True)
    parent = _span(1, 0.0, 10.0)
    # overlapping children cover [1, 5]; the last one sticks out past the
    # parent's end and only its [8, 10] part counts
    tr.spans = [parent, _span(2, 1, 3, 1), _span(3, 2, 5, 1), _span(4, 8, 12, 1),
                _span(5, 1.5, 2.5, 2)]  # a grandchild does not count twice
    assert tr.self_time(parent) == pytest.approx(4.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(1.0)
    assert tr.self_time(tr.spans[4]) == pytest.approx(1.0)


def test_tracer_nests_spans_and_shares_op_ids():
    tr = Tracer(True)
    with tr.span("op", new_op=True):
        with tr.span("plans.build"):
            with tr.span("sources.read_table"):
                pass
        with tr.span("exec.action"):
            pass
    with tr.span("op", new_op=True):
        pass
    by_name = {}
    for s in tr.spans:
        by_name.setdefault(s.name, []).append(s)
    op1, op2 = sorted(by_name["op"], key=lambda s: s.id)
    assert {s.op for s in tr.spans if s.name != "op"} == {op1.id}
    assert op2.op == op2.id != op1.id
    assert by_name["sources.read_table"][0].parent == by_name["plans.build"][0].id
    assert all(s.end >= s.start for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("op", new_op=True) as sp:
        assert sp is None
    assert tr.spans == []


# --- failure accounting ----------------------------------------------------------

class _Write:
    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        return None


class _Frame:
    write = _Write()


def _gold_stub(fns):
    wl = object.__new__(workloads.GoldQueries)
    wl.spark, wl.corpus = None, "unused"
    wl.tracer = Tracer(False)
    wl.rng = __import__("random").Random(0)
    wl.attempted, wl.failures, wl.order = 0, [], []
    wl.fns = fns
    return wl


def test_failed_op_counts_as_attempted_and_has_no_latency(monkeypatch):
    monkeypatch.setattr(workloads, "GOLD_OPS", ["ok", "boom"])

    def boom(spark, corpus):
        raise RuntimeError("broken plan")

    wl = _gold_stub({"ok": lambda spark, corpus: _Frame(), "boom": boom})
    res = workloads.PassResult(0.0, False)
    wl._pass_body(0, res)
    wl._pass_body(1, res)
    assert wl.attempted == 4
    assert [f["op"] for f in wl.failures] == ["boom", "boom"]
    assert "broken plan" in wl.failures[0]["problems"][0]
    assert [name for name, *_ in res.samples] == ["ok", "ok"]
    assert fail_ratio(wl.attempted, len(wl.failures)) == 0.5
    assert sorted(wl.order[0]) == ["boom", "ok"]


def test_fail_ratio_needs_an_attempt():
    with pytest.raises(ValueError):
        fail_ratio(0, 0)
    assert fail_ratio(8, 0) == 0


def test_adjusted_time_takes_out_weighted_steal():
    assert adjusted(10.0, 0.0) == 10.0
    assert adjusted(10.0, 4.0) == pytest.approx(10.0 - 4.0 * STEAL_WEIGHT)


def test_quartile_spread():
    assert quartile_spread([10, 10, 10, 10]) == 0
    assert quartile_spread([1, 2, 3, 4, 5]) == pytest.approx((4.5 - 1.5) / 3)


# --- inputs ----------------------------------------------------------------------

def test_corpus_depends_only_on_seed():
    a, b, c = (datagen.tables(s, 0.001) for s in (7, 7, 8))
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    li = a["lineitem"]
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()
    assert li.l_extendedprice.round(2).eq(li.l_extendedprice).all()


# --- the printed metrics match BENCHMARK.json --------------------------------------

def test_declared_metrics_match_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(workloads.WORKLOADS)


def _run_benchmark(workload: str, trace: int) -> tuple[dict, dict]:
    """Run the benchmark in a subprocess on a 0.001-scale corpus."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "from perfbench import workloads; workloads.SCALE = 0.001; "
        "from perfbench import run; "
        "sys.exit(run.main(sys.argv[2:]))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, ROOT, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", ["gold_queries", "medallion"])
@pytest.mark.parametrize("trace", [0, 1])
def test_benchmark_prints_declared_metrics(workload, trace):
    details, result = _run_benchmark(workload, trace)
    bench = _benchmark_json()
    declared = bench["per_layer"] if trace else bench["end_to_end"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
    assert result["correct"] is True and result["failed"] == 0, details["failures"]
    assert result["attempted"] >= 2
    if trace:
        values = {n: m["value"] for n, m in result["metrics"].items()}
        assert values["exec.jobs"] > 0 and values["exec.tasks"] > 0
        if workload == "gold_queries":
            assert values["sources.calls"] > 0 and values["plans.build_jobs"] > 0
        else:
            assert values["pipeline.gold.jobs"] > 0 and values["io.files_written"] > 0
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "gold_queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
