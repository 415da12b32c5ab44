"""The bench CLI's output contract: the two tail lines stay bounded
whatever the suite size (driven through ``bench._emit`` on synthetic
timings, no Spark), and ``--only`` times just the named queries with the
build/exec split and writes their formatted plans."""

from __future__ import annotations

import builtins
import importlib
import json
import os
import shutil
import sys

import pytest

from tests.conftest import SF_SMOKE

SHED_MARKERS = ["pass_a_tail_250q", "pass_b_tail_250q", "pass_b",
                "pipeline_run_2+", "scale_block", "scale_x1", "scale_x4",
                "scale_x16", "stream", "signal_15", "exception"]


@pytest.fixture()
def bench_mod(tmp_path, monkeypatch):
    """A bench module loaded from a copy in ``tmp_path``: the report it
    writes lands there, never over the repo's BENCH_LOCAL.json."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copy(os.path.join(repo, "bench.py"), tmp_path / "bench.py")
    monkeypatch.syspath_prepend(str(tmp_path))
    sys.modules.pop("bench", None)
    yield importlib.import_module("bench")
    sys.modules.pop("bench", None)


def _tail(capsys) -> list[str]:
    return capsys.readouterr().out.strip().split("\n")[-2:]


def test_tail_bounded_at_250_entries(bench_mod, tmp_path, capsys):
    timings = {f"synthetic_query_name_padded_to_forty_{i:03d}": 1000.0 + i * 1.337
               for i in range(250)}
    timings.update({"pipeline_bronze": 12.5, "pipeline_total": 99.99})
    assert all(len(k) == 40 for k in timings if k.startswith("synthetic"))
    bench_mod._STATE.update({
        "timings": timings, "sf": 0.1, "shed": list(SHED_MARKERS),
        "stream": {"tumb_s": 1234.56, "tumb_rps": 12345678,
                   "incr_s": 1234.56, "incr_rps": 12345678},
        "scale_full": {f"scale_{op}_x{f}": 12345.678
                       for op in bench_mod.SCALE_ALIAS for f in (1, 4, 16)},
    })
    bench_mod._emit()
    extras_line, head_line = _tail(capsys)
    assert len(extras_line) + len(head_line) + 2 < 2000
    head, extras = json.loads(head_line), json.loads(extras_line)
    assert head["n"] == 251  # 250 queries + pipeline_total
    assert extras["shed"] == SHED_MARKERS
    assert all(len(v) == 3 for v in extras["scale"].values())
    report = json.loads((tmp_path / "BENCH_LOCAL.json").read_text())
    assert report["queries"] == timings  # full fidelity stays in the report


def test_top_is_slowest_and_sums_to_value(bench_mod, capsys):
    timings = {f"q{i:03d}": (i * 7919 % 250) / 3.0 + 0.004 for i in range(250)}
    timings.update({"pipeline_silver": 500.0, "pipeline_total": 41.111})
    bench_mod._STATE["timings"] = timings
    bench_mod._emit()
    head = json.loads(_tail(capsys)[-1])
    entries = {k: v for k, v in timings.items() if k.startswith("q")}
    entries["pipeline_total"] = 41.111
    slowest = sorted(entries, key=entries.get, reverse=True)[:20]
    assert list(head["top"]) == slowest
    assert head["top"] == {k: round(entries[k], 2) for k in slowest}
    assert head["value"] == round(sum(entries.values()), 2)
    assert abs(sum(head["top"].values()) + head["rest_total"] - head["value"]) <= 0.01


def test_emit_reads_no_round_artifact(bench_mod, tmp_path, monkeypatch, capsys):
    (tmp_path / "BENCH_r99.json").write_text('{"parsed": {"queries": {"a": 1}}}')
    opened = []
    real_open = builtins.open

    def spy(file, *a, **kw):
        opened.append(os.path.basename(str(file)))
        return real_open(file, *a, **kw)

    monkeypatch.setattr(builtins, "open", spy)
    bench_mod._STATE["timings"] = {"a": 1.0, "b": 2.0}
    bench_mod._emit()
    head = json.loads(_tail(capsys)[-1])
    assert head["top"] == {"b": 2.0, "a": 1.0} and head["rest_total"] == 0.0
    assert "BENCH_LOCAL.json" in opened
    assert not [n for n in opened if n.startswith("BENCH_r")]


def test_only_writes_plans_and_build_exec_split(spark, bench_mod, tmp_path,
                                                monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    for key, n in bench_mod.BENCH_ITERS.items():
        monkeypatch.setenv(key, n)  # restored after the test
    plans = tmp_path / "plans"
    bench_mod.main(bench_mod._parse_args(["--only", "kpis", "--plans", str(plans)]))
    assert "== Physical Plan ==" in (plans / "kpis.txt").read_text()
    lines = [json.loads(x) for x in capsys.readouterr().out.split("\n")
             if x.startswith("{")]
    passes = [x for x in lines if x.get("q", "").startswith("kpis#p")]
    assert [x["q"] for x in passes] == ["kpis#p0", "kpis#p1"]
    split = bench_mod._STATE["build_exec"]["kpis"]
    assert len(split) == 2 and all(b >= 0 and e > 0 for b, e in split)
    assert all({"build", "exec"} <= set(x) for x in passes)
    head = lines[-1]
    assert head["n"] == 1 and list(head["top"]) == ["kpis"]
    assert not (tmp_path / "BENCH_LOCAL.json").exists()  # quick runs keep the full record
