#!/usr/bin/env python3
"""Steadiness check: run one workload on several seeds and report each
run's wall time and, per end-to-end metric, the median, the quartiles and
the quartile spread as a share of the median, beside the bound
BENCHMARK.json fixes.

    python3 perfbench/steady.py --workload batch_sql --runs 10 [--first-seed 1]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            raise SystemExit(f"seed {seed}: outputs incorrect")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed} ({wall:.0f} s): "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print(f"\n{args.workload}, {args.runs} runs")
    print(f"{'metric':<14} {'q1':>10} {'median':>10} {'q3':>10} {'spread':>8} {'bound':>6}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{k:<14} {q1:>10.4g} {med:>10.4g} {q3:>10.4g} {spread:>8.3f} "
              f"{bounds.get(k, float('nan')):>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
