"""The traced run (``--trace 1``): every layer of the pipeline, whichever
the workload, so that every per-layer metric of BENCHMARK.json is measured.

One session with the Spark event log on runs three legs in turn:

- batch: untraced ``run_pipeline`` jobs, then each layer's public function
  under its own job group (parse, enrich, manifest, route, aggregate) and
  the Drain parse layers;
- stream: the open loop of stream_live, its queries' jobs told apart by
  their run ids;
- operator suite: the ``functions/`` kernels of near_dup.

Task metrics per layer are then read from the event log, and the batch job
and layers run again at ``local[1]``. Every leg runs smaller than the
workloads' own runs, so that the whole traced run stays well inside the
180 s a run may take: at the full batch input, the batch leg alone took
95 s on a 4-core host. The stream leg keeps the workload's offered rate,
which sets the size of its micro-batches.
"""

from __future__ import annotations

import os
import sys
import time

import batch
import neardup
import stream
from common import (WORK, eventlog_task_metrics, layer_task_values,
                    start_spark, stop_spark)

# the batch leg's input is the batch workloads' rows divided by
# TRACE_ROWS_DIV; the stream leg drains TRACE_WARM_FILES (the JVM is warm by
# then) and offers files for TRACE_STREAM_S seconds; the operator suite's
# corpus is divided by TRACE_CORPUS_DIV
TRACE_ROWS_DIV = 4
TRACE_WARM_FILES = 10
TRACE_STREAM_S = 10
TRACE_CORPUS_DIV = 10


def run(args) -> tuple[bool, dict]:
    t0 = time.perf_counter()

    def leg_done(name: str) -> None:
        print(f"-- {name} leg done at {time.perf_counter() - t0:.1f} s")

    spark, t_sess = start_spark("perfbench_trace", event_log=True)
    values: dict = {"session.get_spark.s": t_sess}

    errs, v, spans, wall_u, job = batch.trace_leg(spark, args,
                                                  args.rows // TRACE_ROWS_DIV)
    values.update(v)
    checks = job.checks
    leg_done("batch")

    n_due = max(1, round(args.stream_files_per_s * TRACE_STREAM_S))
    e, v, run_ids = stream.trace_leg(spark, args, TRACE_WARM_FILES, n_due)
    errs += e
    values.update(v)
    checks["stream_delivery"] = 1
    leg_done("stream")

    e, v, suite_checks = neardup.trace_leg(spark, args, TRACE_CORPUS_DIV)
    errs += e
    values.update(v)
    checks.update(suite_checks)
    leg_done("operator-suite")

    spark.stop()   # flushes the event log; the JVM stays up for local[1]
    groups = eventlog_task_metrics(os.path.join(WORK, "eventlog"),
                                   dict.fromkeys(run_ids, "streaming"))
    values.update(layer_task_values(groups))

    e, v = batch.scaling_leg(job, spans, wall_u)
    errs += e
    values.update(v)
    stop_spark(job.spark)
    leg_done("local[1]")
    if errs:
        print(f"traced run failed its checks: {errs}", file=sys.stderr)
    print("checks: " + " ".join(f"{k}={n}" for k, n in sorted(checks.items())))
    return not errs, values
