#!/usr/bin/env python3
"""Benchmark of the log pipeline, driven from outside through its public
functions.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` is a separate traced run that
traces every layer (perfbench/traced.py) and reports every per-layer
metric of BENCHMARK.json. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Workloads, their
reasons and the steadiness evidence are in perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, WORK, emit, pin_environment, stop_spark  # noqa: E402

WORKLOADS = ("batch_sql", "batch_drain", "stream_live", "near_dup")

# input rows per batch job (about sf0.02 of the transcript generator), jobs run
# before timing starts, and the fewest timed jobs a window may hold
BATCH_ROWS = 120_000
WARMUP_JOBS = 1
MIN_JOBS = 3


def metric_units(section: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-memory", default="2g",
                    help="Spark driver heap (the product default is 48g)")
    ap.add_argument("--stream-files-per-s", type=float, default=5.0,
                    help="stream_live offered rate, segment files per second")
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs and one warm-up job, for the harness's own test")
    args = ap.parse_args(argv)
    args.rows = BATCH_ROWS // 10 if args.smoke else BATCH_ROWS
    args.warmup_jobs = 1 if args.smoke else WARMUP_JOBS
    args.min_jobs = 1 if args.smoke else MIN_JOBS
    return args


def untraced_run(args):
    """(correct, attempted, failed, end-to-end metrics) of the workload."""
    if args.workload in ("batch_sql", "batch_drain"):
        import batch
        return batch.run(args, mode=args.workload.split("_")[1])
    if args.workload == "stream_live":
        import stream
        return stream.run(args)
    import neardup
    return neardup.run(args)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "openlogparse_spark")):
        print(f"no openlogparse_spark package under {ROOT}", file=sys.stderr)
        return 2
    pin_environment(args.driver_memory)
    try:
        if args.trace:
            import traced
            correct, values = traced.run(args)
            units = metric_units("per_layer")
            missing = [k for k in units
                       if not math.isfinite(float(values.get(k, math.nan)))]
            if missing:
                raise RuntimeError(f"traced run did not measure {missing}")
            emit(correct, 1, 0 if correct else 1,
                 {k: (float(values[k]), u) for k, u in units.items()})
        else:
            correct, attempted, failed, values = untraced_run(args)
            emit(correct, attempted, failed,
                 {k: (values[k], u) for k, u in metric_units("end_to_end").items()})
    finally:
        stop_spark(None)   # on an error path: ends the JVM and its workers
        shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
