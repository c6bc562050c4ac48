"""stream_live: an open loop over the Structured Streaming pipeline.

A generator thread moves pre-framed segment files into the stream's input
directory at a fixed rate that does not slow when the queries fall behind.
Two queries run over the directory: parse + enrich into the per-micro-batch
routed sink, and the watermarked hourly counts beside it. A row's latency
runs from its segment file's due time to the commit of the micro-batch that
routed it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import threading
import time

import pandas as pd

from common import (WORK, RssSampler, median, quantile, start_spark,
                    stop_spark)
from checks import RouteOracle
from inputs import write_dims, write_segments

ROWS_PER_FILE = 50
# warm-up: WARM_FILES segments drained WARM_FILES_PER_BATCH at a time, so
# the per-micro-batch code paths run several times before timing starts
WARM_FILES = 20
WARM_FILES_PER_BATCH = 5


class Generator(threading.Thread):
    """Releases file k at t0 + k / rate with an atomic rename; records how
    late each release ran."""

    def __init__(self, files: list[str], dest: str, rate: float, t0: float):
        super().__init__(daemon=True)
        self.files, self.dest, self.rate, self.t0 = files, dest, rate, t0
        self.due: list[float] = []
        self.late: list[float] = []

    def run(self) -> None:
        for k, f in enumerate(self.files):
            due = self.t0 + k / self.rate
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(f, os.path.join(self.dest, os.path.basename(f)))
            self.due.append(due)
            self.late.append(time.time() - due)


def _start_queries(spark, templates, dims_dir: str, in_dir: str, root: str,
                   files_per_batch: int = 100_000):
    from openlogparse_spark.manifest import Manifest
    from openlogparse_spark.streaming import (stream_hourly_counts,
                                              stream_parse_enrich,
                                              stream_routed_sink)
    from openlogparse_spark.streaming.jobs import stream_source

    dim_tools = spark.read.parquet(os.path.join(dims_dir, "dim_tools.parquet"))
    # live, every file that has arrived joins the next micro-batch: the
    # source's backlog-sized default is meant for draining a full directory
    parsed = stream_parse_enrich(
        stream_source(spark, in_dir, max_files_per_trigger=files_per_batch),
        templates, dim_tools)
    # the routed sink re-reads the tool dimension every micro-batch
    # (dictionary refresh), so the static enrich columns are dropped first
    routed_in = parsed.drop("category", "risk", "side_effects")
    route_q = (routed_in.writeStream
               .foreachBatch(stream_routed_sink(
                   dims_dir, os.path.join(root, "sinks"),
                   manifest=Manifest(os.path.join(root, "manifest"))))
               .option("checkpointLocation", os.path.join(root, "ck_route"))
               .start())
    hourly_q = (stream_hourly_counts(parsed.filter("parse_ok"))
                .writeStream.outputMode("append").format("noop")
                .option("checkpointLocation", os.path.join(root, "ck_hourly"))
                .start())
    return route_q, hourly_q


def _file_batches(ck: str) -> dict[str, int]:
    """basename -> micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ck, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _commit_times(ck: str) -> dict[int, float]:
    return {int(os.path.basename(p)): os.stat(p).st_mtime
            for p in glob.glob(os.path.join(ck, "commits", "[0-9]*"))}


def prepare(spark, args, n_warm: int, n_due: int, mine_group: str = "untagged"):
    """Segment generation, the DuckDB oracle over the offered rows (not
    timed), template mining under job group ``mine_group`` and the stream
    warm-up in an existing session: ``n_warm`` files drained
    WARM_FILES_PER_BATCH at a time, so the per-micro-batch code paths run
    several times before timing starts. Returns (templates, dims dir, files
    to offer, oracle, timed set-up parts)."""
    stage = os.path.join(WORK, "segments")
    dims_dir = os.path.join(WORK, "dims")
    t0 = time.perf_counter()
    files = write_segments(n_warm + n_due, ROWS_PER_FILE, args.seed, stage)
    write_dims(dims_dir)
    t_gen = time.perf_counter() - t0
    warm_files, due_files = files[:n_warm], files[n_warm:]
    logical = os.path.join(WORK, "offered.parquet")
    pd.concat([pd.read_parquet(f) for f in due_files]).to_parquet(logical, index=False)
    oracle = RouteOracle(logical, dims_dir, coalesce_unknown=False)

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    from openlogparse_spark.parse.stage import mine_template_table

    sc = spark.sparkContext
    sc.setJobGroup(mine_group, mine_group)
    t0 = time.perf_counter()
    plan = mine_template_table(spark.read.parquet(stage), min_support=2)
    templates = spark.createDataFrame(plan.collect(), schema=plan.schema)
    t_mine = time.perf_counter() - t0
    sc.setJobGroup("untagged", "untagged")

    t0 = time.perf_counter()
    warm_in = os.path.join(WORK, "warm_in")
    os.makedirs(warm_in)
    for f in warm_files:
        os.rename(f, os.path.join(warm_in, os.path.basename(f)))
    for q in _start_queries(spark, templates, dims_dir, warm_in,
                            os.path.join(WORK, "warm"), WARM_FILES_PER_BATCH):
        q.processAllAvailable()
        q.stop()
    t_warm = time.perf_counter() - t0
    parts = {"gen": t_gen, "mine": t_mine, "warm": t_warm}
    return templates, dims_dir, due_files, oracle, parts


def live(args, spark, templates, dims_dir, due_files):
    """Run the open loop to the end of the drain; returns (generator, route
    query progress, hourly query progress, run root)."""
    root = os.path.join(WORK, "live")
    in_dir = os.path.join(WORK, "live_in")
    os.makedirs(in_dir)
    route_q, hourly_q = _start_queries(spark, templates, dims_dir, in_dir, root)
    gen = Generator(due_files, in_dir, args.stream_files_per_s, time.time() + 0.5)
    gen.start()
    gen.join()
    for q in (route_q, hourly_q):
        q.processAllAvailable()
        q.stop()
    return gen, route_q.recentProgress, hourly_q.recentProgress, root


def _lags(gen: Generator, ck: str):
    batch_of = _file_batches(ck)
    commit_at = _commit_times(ck)
    lags = [commit_at[batch_of[os.path.basename(f)]] - due
            for f, due in zip(gen.files, gen.due)]
    return lags, batch_of, commit_at


def run(args):
    with RssSampler() as rss:
        spark, t_sess = start_spark("perfbench_stream")
        n_due = max(1, round(args.stream_files_per_s * args.seconds))
        templates, dims_dir, files, oracle, parts = prepare(
            spark, args, WARM_FILES, n_due)
        parts = {"session": t_sess, **parts}
        gen, route_prog, _hp, root = live(args, spark, templates, dims_dir, files)
        stop_spark(spark)
    lags, _b, commit_at = _lags(gen, os.path.join(root, "ck_route"))
    ok_rows, bad_rows = oracle.check_stream_delivery(os.path.join(root, "sinks"))
    busy = [p["durationMs"]["triggerExecution"] / 1000.0
            for p in route_prog if p["numInputRows"] > 0]
    offered = oracle.n_rows
    window = max(commit_at.values()) - gen.t0
    print(f"stream_live: {len(lags)} files, {offered} rows offered at "
          f"{args.stream_files_per_s} files/s x {ROWS_PER_FILE} rows, "
          f"{len(busy)} micro-batches {[round(b, 3) for b in busy]}; set-up {parts}")
    print("checks: stream_delivery=1")
    if bad_rows:
        print(f"{bad_rows} rows not delivered exactly once", file=sys.stderr)
    metrics = {
        "setup_s": sum(parts.values()),
        "job_s_p50": median(busy),
        "rows_per_s": ok_rows / window,
        "lag_p50_s": median(lags),
        "lag_p90_s": quantile(lags, 0.9),
        "ok_ratio": ok_rows / offered,
        "peak_rss_mb": rss.peak_mb,
    }
    return bad_rows == 0, offered, bad_rows, metrics


def trace_leg(spark, args, n_warm: int, n_due: int):
    """The stream leg of the traced run, in a session with the event log on:
    set-up with template mining under its own job group, then the open loop
    over ``n_due`` files. Returns (errors, values, streaming run ids). The
    stream has no untraced twin here: it runs as it does untraced, and its
    Spark jobs are told apart by the queries' run ids."""
    templates, dims_dir, due_files, oracle, _parts = prepare(
        spark, args, n_warm, n_due, mine_group="stream:parse.mine_template_table")
    gen, route_prog, hourly_prog, root = live(args, spark, templates, dims_dir,
                                              due_files)
    lags, batch_of, commit_at = _lags(gen, os.path.join(root, "ck_route"))
    _ok_rows, bad_rows = oracle.check_stream_delivery(os.path.join(root, "sinks"))
    prog = [p for p in route_prog if p["numInputRows"] > 0]

    def dur(key: str) -> list[float]:
        return [p["durationMs"].get(key, 0) / 1000.0 for p in prog]

    # backlog seen by each commit: files due by then minus files committed
    backlog = []
    for b, at in commit_at.items():
        due = sum(1 for d in gen.due if d <= at)
        done = sum(1 for f in gen.files if batch_of.get(os.path.basename(f), 1 << 30) <= b)
        backlog.append(due - done)
    hp = [p for p in hourly_prog if p.get("stateOperators")]
    last_state = hp[-1]["stateOperators"][0]
    values = {
        "streaming.batch_s_p50": median(dur("triggerExecution")),
        "streaming.batch_s_p90": quantile(dur("triggerExecution"), 0.9),
        "streaming.batches": len(prog),
        "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in prog]),
        # whole milliseconds per micro-batch: means, where a median of a few
        # tens of milliseconds would often repeat exactly from run to run
        "streaming.planning_s_mean": statistics.fmean(dur("queryPlanning")),
        "streaming.wal_commit_s_mean": statistics.fmean(dur("walCommit")),
        "streaming.backlog_files_max": max(backlog) if backlog else 0,
        "streaming.state_rows": last_state["numRowsTotal"],
        "streaming.state_mb": last_state["memoryUsedBytes"] / 1e6,
        "streaming.late_rows_dropped": sum(
            op["numRowsDroppedByWatermark"]
            for p in hp for op in p["stateOperators"]),
        "gen.late_s_max": max(gen.late),
    }
    print(f"stream leg: {len(lags)} files at {args.stream_files_per_s} files/s x "
          f"{ROWS_PER_FILE} rows, {len(prog)} micro-batches, lag p50 "
          f"{median(lags):.3f} s, p90 {quantile(lags, 0.9):.3f} s")
    errs = [f"{bad_rows} rows not delivered exactly once"] if bad_rows else []
    run_ids = {p["runId"] for p in [*route_prog, *hourly_prog]}
    return errs, values, run_ids
