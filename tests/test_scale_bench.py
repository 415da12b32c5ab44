"""The scale-pin harness (plans/scale_bench.py) and its runner
(tools/scalepin.py) at toy factors: every pin and ``run_scaled`` record
the same point keys, the audit values that do not depend on partitioning
or timing, a claim the runner can derive, and leave no RDD pinned."""

from __future__ import annotations

import importlib.util
import os
import time

import pytest

from big_data_elt_pipeline_spark.plans import scale_bench as SB
from big_data_elt_pipeline_spark.session import pinned_rdds
from tests.conftest import SF_SMOKE

FACTORS = (1, 2)

_spec = importlib.util.spec_from_file_location(
    "scalepin",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "scalepin.py"),
)
scalepin = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(scalepin)

# point keys per factor, ``{f}`` = the factor
KEYS = {
    "knn": [
        "knnpin_means_x{f}", "knnpin_means_x{f}_rows",
        "knnpin_knn_graph_x{f}", "knnpin_knn_graph_x{f}_rows",
        "knnpin_knn_graph_x{f}_bits",
        "knnpin_neardup_x{f}", "knnpin_neardup_x{f}_rows",
        "knnpin_neardup_x{f}_bits",
    ],
    "ivf": [
        "ivfpin_x{f}_rows", "ivfpin_x{f}_cells", "ivfpin_x{f}_probed_rows",
        "ivfpin_ivfpq_x{f}", "ivfpin_ivfpq_x{f}_out_rows",
        "ivfpin_build_x{f}", "ivfpin_probe_x{f}", "ivfpin_probe_x{f}_out_rows",
    ],
    "bm25": [
        "bm25pin_x{f}_rows", "bm25pin_adhoc_x{f}", "bm25pin_adhoc_x{f}_out_rows",
        "bm25pin_build_x{f}", "bm25pin_x{f}_kept_files",
        "bm25pin_x{f}_total_files", "bm25pin_probe_x{f}",
        "bm25pin_probe_x{f}_out_rows",
    ],
    "hybrid": [
        "hybridpin_x{f}_rows", "hybridpin_adhoc_x{f}",
        "hybridpin_adhoc_x{f}_out_rows", "hybridpin_text_build_x{f}",
        "hybridpin_ann_build_x{f}", "hybridpin_x{f}_kept_files",
        "hybridpin_x{f}_total_files", "hybridpin_probe_x{f}",
        "hybridpin_probe_x{f}_out_rows",
    ],
    "update": [
        "updatepin_x{f}_rows", "updatepin_text_build_x{f}",
        "updatepin_ann_build_x{f}", "updatepin_text_update_x{f}",
        "updatepin_x{f}_text_n_updated", "updatepin_ann_update_x{f}",
        "updatepin_x{f}_ann_n_updated", "updatepin_text_probe_x{f}",
        "updatepin_text_probe_x{f}_out_rows", "updatepin_ann_probe_x{f}",
        "updatepin_ann_probe_x{f}_out_rows",
    ],
    "loader": [
        "loaderpin_x{f}_rows", "loaderpin_x{f}_window_rows",
        "loaderpin_pack_x{f}", "loaderpin_pack_x{f}_out_rows",
        "loaderpin_epoch_x{f}", "loaderpin_epoch_x{f}_out_rows",
    ],
}

# partition-independent audit values at sf0.001, factors (1, 2)
AUDIT = {
    "knn": {
        "knnpin_knn_graph_x1_rows": 2500, "knnpin_knn_graph_x2_rows": 5000,
        "knnpin_knn_graph_x1_bits": 4, "knnpin_knn_graph_x2_bits": 5,
        "knnpin_neardup_x1_bits": 9, "knnpin_neardup_x2_bits": 10,
    },
    "ivf": {
        "ivfpin_x1_rows": 500, "ivfpin_x2_rows": 1000,
        "ivfpin_x1_cells": 16, "ivfpin_x2_cells": 16,
        "ivfpin_x1_probed_rows": 2138, "ivfpin_x2_probed_rows": 3974,
        "ivfpin_ivfpq_x1_out_rows": 80, "ivfpin_ivfpq_x2_out_rows": 80,
        "ivfpin_probe_x1_out_rows": 80, "ivfpin_probe_x2_out_rows": 80,
    },
    "bm25": {
        "bm25pin_x1_rows": 500, "bm25pin_x2_rows": 1000,
        "bm25pin_adhoc_x1_out_rows": 30, "bm25pin_adhoc_x2_out_rows": 30,
        "bm25pin_probe_x1_out_rows": 30, "bm25pin_probe_x2_out_rows": 30,
    },
    "hybrid": {
        "hybridpin_x1_rows": 500, "hybridpin_x2_rows": 1000,
        "hybridpin_adhoc_x1_out_rows": 80, "hybridpin_adhoc_x2_out_rows": 80,
        "hybridpin_probe_x1_out_rows": 80, "hybridpin_probe_x2_out_rows": 80,
    },
    "update": {
        "updatepin_x1_rows": 500, "updatepin_x2_rows": 1000,
        "updatepin_x1_text_n_updated": 8, "updatepin_x2_text_n_updated": 8,
        "updatepin_x1_ann_n_updated": 8, "updatepin_x2_ann_n_updated": 8,
        "updatepin_text_probe_x1_out_rows": 30,
        "updatepin_text_probe_x2_out_rows": 30,
        "updatepin_ann_probe_x1_out_rows": 80,
        "updatepin_ann_probe_x2_out_rows": 80,
    },
    "loader": {
        "loaderpin_x1_rows": 500, "loaderpin_x2_rows": 1000,
        "loaderpin_x1_window_rows": 215, "loaderpin_x2_window_rows": 253,
        "loaderpin_pack_x1_out_rows": 607, "loaderpin_pack_x2_out_rows": 1212,
        "loaderpin_epoch_x1_out_rows": 1000, "loaderpin_epoch_x2_out_rows": 2000,
    },
}

SCALE_OPS = ("dedup_minhash", "dedup_ngram_jaccard", "dedup_winnow",
             "dedup_substrings", "dedup_clusters", "ann_lsh_topk",
             "training_mixture")


def _keys(templates) -> set:
    return {t.format(f=f) for t in templates for f in FACTORS}


def test_timed_warm_min_and_free(spark):
    sleeps = [0.0, 0.3, 0.05]  # warm-up, then the timed runs
    calls, seen = [], []

    def fn():
        time.sleep(sleeps[len(calls)])
        calls.append(spark.range(3).localCheckpoint(eager=True))
        return len(calls)

    before = pinned_rdds(spark)
    out: dict = {}
    best = SB._timed(spark, out, "k", fn, rows="k_rows", warm=True,
                     progress=lambda k, v: seen.append((k, v)))
    assert len(calls) == SB.UPDATES_BEFORE_PROBE == 1 + SB._RUNS
    assert 0.05 <= best < 0.3  # the min of the timed runs
    assert out == {"k": best, "k_rows": float(len(calls))}
    assert seen == [("k", best)]
    assert pinned_rdds(spark) <= before  # every checkpoint the calls made


@pytest.mark.parametrize("name", sorted(scalepin.PINS))
def test_scale_pin_points(spark, name, monkeypatch):
    calls: dict[str, list[str]] = {}
    if name == "update":
        # count the updates each index takes before its probes are timed
        from big_data_elt_pipeline_spark.operators import ann_index as AIX
        from big_data_elt_pipeline_spark.operators import text_index as TIX

        for mod, fn_name in ((TIX, "update_text_documents"),
                             (AIX, "update_index_vectors")):
            def counted(batch, path, _fn=getattr(mod, fn_name), **kw):
                calls.setdefault(path, []).append(fn_name)
                return _fn(batch, path, **kw)

            monkeypatch.setattr(mod, fn_name, counted)

    pin = scalepin.PINS[name]
    before = pinned_rdds(spark)
    seen = []
    pts = pin.fn(spark, SF_SMOKE, factors=FACTORS,
                 progress=lambda k, v: seen.append(k))
    assert pinned_rdds(spark) <= before  # the harness frees what it pinned

    assert set(pts) == _keys(KEYS[name])
    assert all(isinstance(v, float) and v >= 0 for v in pts.values())
    assert {k: pts[k] for k in AUDIT[name]} == AUDIT[name]
    assert seen and all(k in pts for k in seen)  # progress reports points
    if name in ("bm25", "hybrid"):
        for f in FACTORS:
            kept, total = (pts[f"{name}pin_x{f}_kept_files"],
                           pts[f"{name}pin_x{f}_total_files"])
            assert kept <= total

    claim = pin.claim(pts, FACTORS[0], FACTORS[-1])
    assert claim.startswith(("2x corpus", "sublinear", "~linear"))
    if name == "update":
        # the same number of updates at every factor, and the claim says so
        assert len(calls) == 2 * len(FACTORS)
        assert {len(c) for c in calls.values()} == {SB.UPDATES_BEFORE_PROBE}
        assert f"after {SB.UPDATES_BEFORE_PROBE} successive updates" in claim


def test_knn_bucket_audit(spark):
    audit = scalepin.knn_bucket_audit(spark, SF_SMOKE, FACTORS)
    assert [audit[f"x{f}"]["n_bits"] for f in FACTORS] == [4, 5]
    for f in FACTORS:
        a = audit[f"x{f}"]
        assert a["max_bucket"] ** 2 <= a["pair_space"] <= (500 * f) ** 2


def test_run_scaled_points(spark):
    before = pinned_rdds(spark)
    out = SB.run_scaled(spark, SF_SMOKE, factors=FACTORS)
    assert pinned_rdds(spark) <= before
    assert set(out) == _keys(
        [f"scale_{op}_x{{f}}{s}" for op in SCALE_OPS for s in ("", "_rows")]
    )
    assert all(isinstance(v, float) and v >= 0 for v in out.values())
