"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload paper_sim --seeds 1-10 [--seconds 5] [--trace 0]

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints
for every metric its median and the distance between the first and
third quartiles (``statistics.quantiles(values, n=4)``) as a share of
the median, next to the bound BENCHMARK.json gives it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def iqr_share(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in parse_seeds(args.seeds):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.monotonic()
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        run_wall = time.monotonic() - t0
        last = (res.stdout.strip().splitlines() or [""])[-1]
        try:
            result = json.loads(last)
        except json.JSONDecodeError:
            print(f"seed {seed}: exit {res.returncode}, no result\n{res.stderr[-2000:]}")
            return 1
        row = {k: m["value"] for k, m in result["metrics"].items()}
        print(f"seed {seed}: run {run_wall:.1f} s, correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k, v in row.items():
            values.setdefault(k, []).append(v)
    for k, vals in values.items():
        line = f"{k}: median {statistics.median(vals):.5g}"
        if len(vals) >= 2 and statistics.median(vals):
            line += f" spread {iqr_share(vals):.4f}"
        if bounds.get(k) is not None:
            line += f" bound {bounds[k]}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
