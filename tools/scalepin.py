"""Standalone runner for the scale pins in ``plans/scale_bench.py``.

Each pin times one operator family on the deterministic scaled corpora
(salted documents, ±1-masked embeddings) at two factors and records
audit counts next to the walls; the runner writes them as a JSON
artifact at the repo root, with the claim text DERIVED from the measured
points so a re-run restates the quantitative story instead of
overwriting hand edits.

  knn     knn_graph / embedding_neardup at derived bucket widths  KNNPIN.json
  ivf     ivfpq_topk at the derived IVF cell count, build/probe   IVFPIN.json
  bm25    ad-hoc bm25_topk vs the persisted text index            BM25PIN.json
  hybrid  ad-hoc hybrid vs the fused two-index probe              HYBRIDPIN.json
  update  in-place index updates + probe after update             UPDATEPIN.json
  loader  pack_sequences / epoch_shuffle                          LOADERPIN.json

Usage: python tools/scalepin.py {knn,ivf,bm25,hybrid,update,loader}
           [--factors 16,64] [--sf SF_DIR] [--out PATH]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``, else ``~/testdata/sf0.1``;
``--factors`` and ``--out`` default to the pin's own (see ``PINS``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from typing import Callable, NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from big_data_elt_pipeline_spark.operators import similarity as S  # noqa: E402
from big_data_elt_pipeline_spark.plans import scale_bench as SB  # noqa: E402
from big_data_elt_pipeline_spark.session import get_spark  # noqa: E402


def _ratio(pts: dict, key: str, f1: int, f2: int) -> float | None:
    """``key`` at x{f2} over ``key`` at x{f1} (``key`` holds ``{f}``)."""
    a, b = pts.get(key.format(f=f1)), pts.get(key.format(f=f2))
    return b / a if a and b else None


def knn_claim(pts: dict, f1: int, f2: int) -> str:
    claim = f"{f2 // f1}x corpus at the corpus-derived bucket widths:"
    for name in ("knn_graph", "neardup"):
        r = _ratio(pts, f"knnpin_{name}_x{{f}}", f1, f2)
        if r:
            b1 = pts[f"knnpin_{name}_x{f1}_bits"]
            b2 = pts[f"knnpin_{name}_x{f2}_bits"]
            claim += f" {name} wall {r:.2f}x ({b1:.0f} -> {b2:.0f} bits);"
    m2, k2 = pts.get(f"knnpin_means_x{f2}"), pts.get(f"knnpin_knn_graph_x{f2}")
    if m2 is not None and k2:
        claim += (f" the component_means job is {m2 / k2:.0%} of the "
                  f"knn_graph wall at x{f2}")
    return claim


def ivf_claim(pts: dict, f1: int, f2: int) -> str:
    fx = f2 // f1
    claim = f"sublinear scan at the auto default ({fx}x corpus"
    r = _ratio(pts, "ivfpin_x{f}_probed_rows", f1, f2)
    if r:
        claim += (f" => {r:.2f}x probed rows — the *_probed_rows "
                  f"audit; a fixed cell count would pay {fx}x")
    w2 = pts.get(f"ivfpin_ivfpq_x{f2}")
    r = _ratio(pts, "ivfpin_ivfpq_x{f}", f1, f2)
    if r:
        claim += f"); one-shot wall {r:.2f}x, encode-dominated"
        c1, c2 = pts.get(f"ivfpin_x{f1}_cells"), pts.get(f"ivfpin_x{f2}_cells")
        if c1 and c2 and c2 > c1:
            claim += (f" (the {c1:.0f}->{c2:.0f} cells doubling adds "
                      f"{c2 / c1:.0f}x per-vector assignment work exactly "
                      "at the power-of-two boundary; both components grow "
                      "~sqrt(n) asymptotically)")
    b2, p2 = pts.get(f"ivfpin_build_x{f2}"), pts.get(f"ivfpin_probe_x{f2}")
    if b2 and p2 and w2:
        claim += (f"; build-once/probe-many splits that wall into a "
                  f"{b2:.0f}s one-time build + {p2:.1f}s stored-index "
                  f"probe ({p2 / w2:.0%} of the one-shot wall per query "
                  "batch — operators/ann_index)")
    return claim


def bm25_claim(pts: dict, f1: int, f2: int) -> str:
    claim = f"{f2 // f1}x corpus:"
    r = _ratio(pts, "bm25pin_adhoc_x{f}", f1, f2)
    if r:
        claim += f" ad-hoc bm25_topk wall {r:.2f}x (corpus-tracking)"
    a2, p2 = pts.get(f"bm25pin_adhoc_x{f2}"), pts.get(f"bm25pin_probe_x{f2}")
    r = _ratio(pts, "bm25pin_probe_x{f}", f1, f2)
    if r:
        claim += f"; stored-index probe {r:.2f}x"
        if a2:
            claim += f" = {p2 / a2:.0%} of the one-shot wall per query batch"
    k2, t2 = pts.get(f"bm25pin_x{f2}_kept_files"), pts.get(f"bm25pin_x{f2}_total_files")
    if k2 is not None and t2:
        claim += (f"; term-range stats keep {k2:.0f}/{t2:.0f} postings "
                  f"files for the probe vocabulary at x{f2}")
    b2 = pts.get(f"bm25pin_build_x{f2}")
    if b2 is not None:
        claim += (f"; the {b2:.0f}s build is the one-time price the index "
                  "amortizes (operators/text_index)")
    return claim


def hybrid_claim(pts: dict, f1: int, f2: int) -> str:
    claim = f"{f2 // f1}x corpus:"
    r = _ratio(pts, "hybridpin_adhoc_x{f}", f1, f2)
    if r:
        claim += (f" ad-hoc hybrid (tokenize + re-encode per call) wall "
                  f"{r:.2f}x (corpus-tracking)")
    a2, p2 = pts.get(f"hybridpin_adhoc_x{f2}"), pts.get(f"hybridpin_probe_x{f2}")
    r = _ratio(pts, "hybridpin_probe_x{f}", f1, f2)
    if r:
        claim += f"; fused stored-index probe {r:.2f}x"
        if a2:
            claim += f" = {p2 / a2:.0%} of the one-shot wall per query batch"
    k2, t2 = (pts.get(f"hybridpin_x{f2}_kept_files"),
              pts.get(f"hybridpin_x{f2}_total_files"))
    if k2 is not None and t2:
        if k2 >= t2:
            # doc-as-query probes carry a large vocabulary (8 whole
            # documents), so the term-RANGE file skip is vacuous BY
            # DESIGN here — the row-level term equi-join inside kept
            # files (and the vector leg's cell pruning) carry the
            # flatness; BM25PIN pins the short-query file-skip case
            claim += (f"; lexical leg keeps {k2:.0f}/{t2:.0f} postings "
                      f"files at x{f2} — doc-as-query vocabulary spans "
                      "every term range (file skip vacuous by design; "
                      "row-level term pruning + the vector leg's cell "
                      "pruning carry the flatness; BM25PIN pins the "
                      "short-query file-skip case)")
        else:
            claim += (f"; term-range stats keep {k2:.0f}/{t2:.0f} "
                      f"postings files for the lexical leg at x{f2} "
                      "(the vector leg's cell pruning rides inside the "
                      "probe wall, IVFPIN's audit shape)")
    b2 = pts.get(f"hybridpin_text_build_x{f2}")
    c2 = pts.get(f"hybridpin_ann_build_x{f2}")
    if b2 is not None and c2 is not None:
        claim += (f"; the {b2:.0f}s text + {c2:.0f}s ANN builds are the "
                  "one-time price both indexes amortize")
    return claim


def update_claim(pts: dict, f1: int, f2: int) -> str:
    fx = f2 // f1
    claim = f"{fx}x corpus, fixed 8-id revision batch:"
    tb2 = pts.get(f"updatepin_text_build_x{f2}")
    r = _ratio(pts, "updatepin_text_update_x{f}", f1, f2)
    if r:
        claim += f" text update wall {r:.2f}x"
        if tb2:
            tu2 = pts[f"updatepin_text_update_x{f2}"]
            claim += (f" = {tu2 / tb2:.0%} of the corpus-tracking rebuild "
                      f"({tb2:.0f}s at x{f2})")
    ab2 = pts.get(f"updatepin_ann_build_x{f2}")
    r = _ratio(pts, "updatepin_ann_update_x{f}", f1, f2)
    if r:
        claim += f"; vector update wall {r:.2f}x"
        if ab2:
            au2 = pts[f"updatepin_ann_update_x{f2}"]
            claim += f" = {au2 / ab2:.0%} of the rebuild ({ab2:.0f}s)"
    tp = _ratio(pts, "updatepin_text_probe_x{f}", f1, f2)
    ap = _ratio(pts, "updatepin_ann_probe_x{f}", f1, f2)
    if tp and ap:
        claim += (f"; probes after {SB.UPDATES_BEFORE_PROBE} successive "
                  f"updates stay flat (text {tp:.2f}x, ANN {ap:.2f}x) — "
                  "generation-scoped tombstones cost the probe a "
                  "delta-sized anti-join, not a corpus pass")
    tb = _ratio(pts, "updatepin_text_build_x{f}", f1, f2)
    ab = _ratio(pts, "updatepin_ann_build_x{f}", f1, f2)
    if tb and ab:
        claim += (f"; the rebuild alternative tracks the corpus "
                  f"(text {tb:.2f}x, ANN {ab:.2f}x for {fx}x the data)")
    return claim


def loader_claim(pts: dict, f1: int, f2: int) -> str:
    r1, r2 = pts.get(f"loaderpin_x{f1}_rows"), pts.get(f"loaderpin_x{f2}_rows")
    claim = f"~linear loader chain: {f2 // f1}x corpus ({r1:.0f} -> {r2:.0f} rows)"
    for name in ("pack", "epoch"):
        r = _ratio(pts, f"loaderpin_{name}_x{{f}}", f1, f2)
        if r:
            claim += f"; {name} wall {r:.2f}x"
    b1, b2 = (pts.get(f"loaderpin_x{f1}_window_rows"),
              pts.get(f"loaderpin_x{f2}_window_rows"))
    if b1 and b2:
        claim += (f"; global-window fan-in flat at {b1:.0f} -> {b2:.0f} rows "
                  "(<= 256 buckets by construction — the only "
                  "non-distributed step never grows with the corpus)")
    return claim


def knn_bucket_audit(spark, sf_dir: str, factors: tuple[int, ...]) -> dict:
    """Candidate pair space (sum of squared bucket sizes) at the derived
    knn width per factor — the quantity the wall-time claim rides on; it
    must track ~linear in n across factors."""
    audit = {}
    for f_ in factors:
        emb = SB.scaled_embeddings(spark, sf_dir, f_)
        bits = S.derive_bits(emb, S.KNN_TARGET_BUCKET_ROWS)
        mu = F.broadcast(S.component_means(emb, bits))
        hist = (
            emb.crossJoin(mu)
            .select(S.sign_bucket(F.col("embedding"), bits, F.col("__mus")).alias("b"))
            .groupBy("b").count()
            .agg(F.count("*").alias("n_buckets"),
                 F.sum(F.col("count") * F.col("count")).alias("pairs"),
                 F.max("count").alias("max_bucket"))
            .head()
        )
        audit[f"x{f_}"] = {
            "n_bits": bits, "n_buckets": hist["n_buckets"],
            "pair_space": int(hist["pairs"]), "max_bucket": hist["max_bucket"],
        }
    return audit


class Pin(NamedTuple):
    fn: Callable
    factors: str
    artifact: str
    what: str
    claim: Callable[[dict, int, int], str]


PINS = {
    "knn": Pin(
        SB.knn_scale_pin, "16,64", "KNNPIN.json",
        "knn_graph / embedding_neardup wall seconds at the corpus-derived "
        "bucket widths (similarity.derive_bits) on the ±1-masked scaled "
        "corpus, with the component_means job broken out; *_bits shows the "
        "widths turning, *_rows the output growth; knn_bucket_audit gives "
        "the candidate pair space per factor",
        knn_claim),
    "ivf": Pin(
        SB.ivf_scale_pin, "64,256", "IVFPIN.json",
        "ivfpq_topk wall seconds at the CORPUS-DERIVED cell count "
        "(similarity.auto_cells sqrt balance) on the ±1-masked scaled "
        "corpus; *_cells shows the knob turning, *_probed_rows audits the "
        "scan the knob buys; *_build/*_probe split the wall across the "
        "persisted index (ann_index.build_ivfpq_index / ivfpq_probe)",
        ivf_claim),
    "bm25": Pin(
        SB.bm25_scale_pin, "16,64", "BM25PIN.json",
        "bm25_topk (ad-hoc, full corpus-stats recompute per call) vs "
        "build_text_index + bm25_index_probe wall seconds on the salted "
        "scaled corpus; *_kept/_total_files audit the manifest term-range "
        "file skipping the clustered layout buys",
        bm25_claim),
    "hybrid": Pin(
        SB.hybrid_scale_pin, "16,64", "HYBRIDPIN.json",
        "ad-hoc hybrid (bm25_topk + per-call ivfpq_topk + RRF) vs build "
        "both indexes + the hybrid_index_topk fused probe (bm25_index_probe "
        "+ ivfpq_probe + RRF) wall seconds on the salted/±1-masked scaled "
        "corpora; *_kept/_total_files audit the lexical leg's manifest "
        "term-range skipping",
        hybrid_claim),
    "update": Pin(
        SB.update_scale_pin, "16,64", "UPDATEPIN.json",
        "fixed 8-id in-place revision (update_text_documents / "
        "update_index_vectors) + probe-after-update wall seconds on the "
        "salted/±1-masked scaled corpora, vs the one-time index builds = "
        "the full-rebuild alternative; *_n_updated audit that every timed "
        "update replaced exactly the 8 live victims",
        update_claim),
    "loader": Pin(
        SB.loader_scale_pin, "16,64", "LOADERPIN.json",
        "pack_sequences / epoch_shuffle wall seconds on the scaled "
        "documents corpus; *_window_rows audits the 256-bucket prefix "
        "sum's global fan-in, *_out_rows the operator fan-out",
        loader_claim),
}

MEASUREMENT = (
    "min of 2 after one untimed warm-up: at the first factor for operators "
    "over the staged corpus, at every factor for calls on an index built at "
    "that factor; the pin's first index build untimed"
)


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one scale pin -> *PIN.json")
    ap.add_argument("pin", choices=sorted(PINS))
    ap.add_argument("--factors", help="comma-separated corpus factors")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1")))
    ap.add_argument("--out", help="artifact path")
    args = ap.parse_args()
    pin = PINS[args.pin]
    factors = tuple(int(x) for x in (args.factors or pin.factors).split(",") if x)
    out = args.out or os.path.join(REPO, pin.artifact)
    spark = get_spark(f"{args.pin}pin")
    t0 = time.time()
    pts = pin.fn(spark, args.sf, factors=factors,
                 progress=lambda k, v: print(f"{k}: {v:.2f}s", flush=True))
    doc = {
        "what": pin.what,
        "claim": pin.claim(pts, factors[0], factors[-1]),
        "sf_dir": args.sf,
        "factors": list(factors),
        "points": pts,
        "measurement": MEASUREMENT,
    }
    if args.pin == "knn":
        doc["knn_bucket_audit"] = knn_bucket_audit(spark, args.sf, factors)
    doc["elapsed_s"] = round(time.time() - t0, 1)
    try:
        doc["host_load1"] = os.getloadavg()[0]
    except OSError:
        doc["host_load1"] = -1.0
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
