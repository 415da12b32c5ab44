"""Run a workload once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload gold_queries --seeds 1-10 --seconds 6

For every metric it prints the median and the distance between the first
and third quartile as a share of the median, the figure a benchmark bound
must stay above. Each run's last stdout line is appended to
``.perfbench_spread-<workload>.jsonl`` as it finishes.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import median, quartile_spread  # noqa: E402


def seed_list(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="6")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    log = os.path.join(ROOT, f".perfbench_spread-{args.workload}.jsonl")
    values: dict[str, list[float]] = {}
    for seed in seed_list(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": wall, **result,
                                 "details": json.loads(lines[-2])}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {wall:.1f} s, correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']}", flush=True)
    for name, vs in values.items():
        spread = quartile_spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{name:40s} median {median(vs):12.4f}  spread {spread:.4f}  n={len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
