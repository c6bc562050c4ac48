#!/usr/bin/env python3
"""The harness's own test: every workload at tiny scale, untraced and
traced, must exit 0, print every metric BENCHMARK.json names with its unit,
pass its output checks and say which checks ran. Every metric must be a
finite number: the traced run of every workload measures every layer. The
benchmark
must also fail, without a result line, in a directory holding only
BENCHMARK.json and perfbench/.

    python3 perfbench/smoke.py [workload ...]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(args: list[str], cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


def check_workload(spec: dict, workload: str) -> None:
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        p = run(["--workload", workload, "--seed", "3", "--seconds", "3",
                 "--trace", str(trace), "--smoke"])
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            raise AssertionError(f"{workload} trace={trace} exited {p.returncode}")
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        assert set(res) == RESULT_KEYS, res.keys()
        assert res["correct"] is True and res["failed"] == 0, res
        assert res["attempted"] >= 1, res
        want = {m["name"]: m["unit"] for m in spec[section]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want, f"{workload} trace={trace}: {set(got) ^ set(want)}"
        for k, v in res["metrics"].items():
            assert math.isfinite(v["value"]), (workload, trace, k, v)
        checks = [l for l in lines if l.startswith("checks: ")]
        assert checks, f"{workload} trace={trace} reported no output checks"
        counts = dict(kv.split("=") for kv in checks[-1].split()[1:])
        assert counts and all(int(v) >= 1 for v in counts.values()), counts
        print(f"ok  {workload:<12} trace={trace}  checks: {counts}")


def check_bare_directory() -> None:
    bare = os.path.join(BENCH_DIR, ".smoke")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", ".smoke", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = run(["--workload", "batch_sql", "--seed", "1", "--seconds", "1"], cwd=bare)
        assert p.returncode != 0, "benchmark succeeded without the program"
        assert '"metrics"' not in p.stdout, "benchmark printed a result without the program"
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  bare directory fails without a result")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    check_bare_directory()
    for w in names:
        check_workload(spec, w)
    return 0


if __name__ == "__main__":
    sys.exit(main())
