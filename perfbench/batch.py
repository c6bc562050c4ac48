"""batch_sql and batch_drain: a closed loop of ``run_pipeline`` jobs.

batch_sql runs the CLI defaults (Catalyst parse, staged ``enriched``
table); batch_drain runs ``parse_mode="drain"`` in one-shot mode (the
``--one-shot`` flag: ``enriched`` stays a cached plan). Both read the same
seeded transcripts. The batch leg of the traced run and its ``local[1]``
baseline are here too.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from common import (WORK, RssSampler, closed_loop, closed_loop_result, median,
                    nproc, start_spark, stop_spark)
from checks import QUARANTINE, RouteOracle
from inputs import write_transcripts


# untraced jobs after the cold one in the traced run's batch leg
TRACE_REF_JOBS = 2


class Job:
    """One pipeline job per call, each into a fresh output root, checked
    against the DuckDB oracle."""

    def __init__(self, spark, mode: str, raw: str, dims_dir: str,
                 oracle: RouteOracle, checks: dict):
        self.spark, self.mode, self.raw, self.dims_dir = spark, mode, raw, dims_dir
        self.oracle, self.checks = oracle, checks
        self.expected = oracle.expected_sql_counts() if mode == "sql" else None
        self.first_counts: dict | None = None
        self.warm_errors: list[str] = []
        self.n = 0

    def config(self, out: str):
        from openlogparse_spark.pipeline import PipelineConfig

        return PipelineConfig(input_path=self.raw, dims_dir=self.dims_dir,
                              output_root=out, parse_mode=self.mode,
                              materialize_enriched=self.mode == "sql",
                              run_id=f"job{self.n}")

    def __call__(self, keep_manifest: bool = False):
        """(wall seconds, errors, PipelineResult, manifest records or None)."""
        from openlogparse_spark.pipeline import run_pipeline

        out = os.path.join(WORK, "out", f"job{self.n}")
        cfg = self.config(out)
        self.n += 1
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, cfg)
        wall = time.perf_counter() - t0
        errs = self.check(res.sink_counts, os.path.join(out, "sinks", QUARANTINE))
        manifest = res.manifest.load() if keep_manifest else None
        shutil.rmtree(out, ignore_errors=True)
        return wall, errs, res, manifest

    def check(self, counts: dict, quarantine_dir: str) -> list[str]:
        errs = self.oracle.check_conservation(counts, quarantine_dir)
        self.checks["conservation"] = self.checks.get("conservation", 0) + 1
        if self.expected is not None:
            self.checks["sink_counts"] = self.checks.get("sink_counts", 0) + 1
            if counts != self.expected:
                errs.append(f"sink counts {counts} != expected {self.expected}")
        # drain templates have no independent oracle: a job must at least
        # repeat the first job's counts exactly
        self.checks["repeat"] = self.checks.get("repeat", 0) + 1
        if self.first_counts is None:
            self.first_counts = dict(counts)
        elif counts != self.first_counts:
            errs.append(f"sink counts {counts} differ from first job {self.first_counts}")
        return errs


def prepare(spark, args, mode: str, rows: int, warmup_jobs: int):
    """Input generation, the DuckDB oracle (not timed) and warm-up jobs in
    an existing session. Returns (job, n_raw, timed set-up parts)."""
    in_dir = os.path.join(WORK, "in")
    t0 = time.perf_counter()
    raw, logical, n_raw = write_transcripts(rows, args.seed, in_dir)
    t_gen = time.perf_counter() - t0
    oracle = RouteOracle(logical, in_dir, coalesce_unknown=True)
    job = Job(spark, mode, raw, in_dir, oracle, {})
    t0 = time.perf_counter()
    for _ in range(warmup_jobs):
        _wall, errs, _res, _man = job()
        job.warm_errors += errs
    return job, n_raw, {"gen": t_gen, "warm": time.perf_counter() - t0}


def run(args, mode: str):
    with RssSampler() as rss:
        spark, t_sess = start_spark(f"perfbench_batch_{mode}")
        job, n_raw, parts = prepare(spark, args, mode, args.rows, args.warmup_jobs)
        walls, failed = closed_loop(args, job)
        stop_spark(spark)
    return closed_loop_result(f"batch_{mode}", walls, failed, n_raw,
                              {"session": t_sess, **parts}, job.checks,
                              job.warm_errors, rss.peak_mb)


# ------------------------------------------------------------------ tracing

def fanout(routes: list[dict]) -> list[dict]:
    """The pipeline's route list: real routes gated on parse_ok plus the
    quarantine pseudo-route (mirrors ``run_pipeline``)."""
    return [
        {**r, "condition": (f"({r['condition']}) AND parse_ok"
                            if r.get("condition") and r["condition"].strip()
                            else "parse_ok")}
        for r in routes
    ] + [{"route_id": QUARANTINE, "sink": QUARANTINE,
          "template_pattern": "", "condition": "NOT parse_ok"}]


def traced_pass(spark, mode: str, raw: str, dims_dir: str, out: str,
                spans: dict, counts: dict, parse_only: bool = False,
                group_prefix: str = "") -> float:
    """Call each layer's public function in pipeline order, tagging its
    Spark jobs with the layer's job group and forcing its result with a
    ``noop`` write. Each layer's output is persisted, so a span holds that
    layer's own work; route and the aggregates run one after another here,
    where a pipeline job overlaps them. Returns the wall time of the pass."""
    import pandas as pd
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from openlogparse_spark.aggregate import agg_hourly, conv_outcomes, conv_stats
    from openlogparse_spark.enrich import enrich_stage
    from openlogparse_spark.manifest import Manifest, atomic_overwrite
    from openlogparse_spark.parse import drain as drain_mod
    from openlogparse_spark.parse import merge_row_pieces, parse_stage
    from openlogparse_spark.parse.stage import MASK_SQL_EXPR, mine_template_table
    from openlogparse_spark.route import route_stage

    sc = spark.sparkContext
    shutil.rmtree(out, ignore_errors=True)
    cached = []

    def span(layer: str, fn):
        outer = sc.getLocalProperty("spark.jobGroup.id") or "trace.aux"
        sc.setJobGroup(group_prefix + layer, layer)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            spans[layer] = time.perf_counter() - t0
            sc.setJobGroup(outer, outer)

    def force(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        cached.append(df)
        df.write.format("noop").mode("overwrite").save()
        return df

    t_start = time.perf_counter()

    def merge():
        merged = merge_row_pieces(spark.read.parquet(raw))
        if mode == "sql":
            merged = merged.withColumn("template", F.expr(MASK_SQL_EXPR))
        return force(merged)

    masked = span("parse.merge_row_pieces", merge)

    def mine():
        plan = mine_template_table(masked, min_support=2, mode=mode)
        return spark.createDataFrame(plan.collect(), schema=plan.schema)

    # Drain mining is also timed at its own module boundary, inside the
    # public mine_template_table call that runs it
    real_mine = drain_mod.mine_templates

    def timed_mine(*a, **kw):
        return span("parse.drain.mine_templates", lambda: real_mine(*a, **kw))

    drain_mod.mine_templates = timed_mine
    try:
        templates = span("parse.mine_template_table", mine)
    finally:
        drain_mod.mine_templates = real_mine
    parsed = span("parse.parse_stage", lambda: force(parse_stage(
        masked, templates=templates, mode=mode, min_support=2, merge_pieces=False)))
    if mode == "drain":
        spans["parse.drain.apply"] = spans["parse.parse_stage"]
    if not parse_only:
        dim_tools = spark.read.parquet(os.path.join(dims_dir, "dim_tools.parquet"))
        dim_roles = spark.read.parquet(os.path.join(dims_dir, "dim_roles.parquet"))
        routes = pd.read_parquet(
            os.path.join(dims_dir, "routes.parquet")).to_dict("records")
        enriched = span("enrich.enrich_stage",
                        lambda: force(enrich_stage(parsed, dim_tools, dim_roles)))
        if mode == "sql":
            path = os.path.join(out, "enriched")
            span("manifest.atomic_overwrite", lambda: atomic_overwrite(enriched, path))
            routed_from = spark.read.parquet(path)
            up = len(routed_from.inputFiles())
        else:
            routed_from = enriched
            up = int(spark.conf.get("spark.sql.shuffle.partitions"))
        counts["trace.sink_counts"] = span("route.route_stage", lambda: route_stage(
            routed_from, fanout(routes), os.path.join(out, "sinks"),
            Manifest(os.path.join(out, "manifest")), "trace", 64,
            upstream_partitions=up))
        for name, fn in (("agg_hourly", agg_hourly), ("conv_stats", conv_stats),
                         ("conv_outcomes",
                          lambda d: conv_outcomes(d.filter("parse_ok")))):
            span(f"aggregate.{name}", lambda fn=fn: fn(routed_from).write
                 .format("noop").mode("overwrite").save())
    wall = time.perf_counter() - t_start

    counts["parse.merge_row_pieces.rows_out"] = masked.count()
    counts["parse.templates"] = templates.count()
    counts["parse.ok_ratio"] = parsed.filter("parse_ok").count() / max(parsed.count(), 1)
    for df in cached:
        df.unpersist()
    sc.setJobGroup("untagged", "untagged")
    return wall


def trace_leg(spark, args, rows: int):
    """The batch leg of the traced run, in a session with the event log on:
    one cold job, TRACE_REF_JOBS untraced sql jobs (their median is the
    untraced ``job_s_p50`` of this input), the traced sql pass, and the
    Drain parse layers on the same input. Returns (errors, values, layer
    spans, untraced job median, job)."""
    job, n_raw, _parts = prepare(spark, args, "sql", rows, 1)
    errs = list(job.warm_errors)
    walls_u, timings = [], []
    for _ in range(TRACE_REF_JOBS):
        wall, e, res, manifest = job(keep_manifest=True)
        walls_u.append(wall)
        timings.append(res.timings)
        errs += e
    wall_u = median(walls_u)

    def mean_timing(key: str) -> float:
        # the pipeline rounds its route sub-timings to the millisecond; the
        # mean over the untraced jobs keeps the digits the samples carry
        return sum(t[key] for t in timings) / len(timings)

    values: dict = {
        # the pipeline's own route-leg timings, over the untraced jobs
        "route.route_stage.s": mean_timing("route"),
        "route.write_s": mean_timing("route_write"),
        "route.count_s": mean_timing("route_count"),
        "route.commit_s": mean_timing("route_commit"),
        # rows and bytes repeat exactly from job to job: the last job's
        "route.rows": sum(v for k, v in res.sink_counts.items() if k != QUARANTINE),
        "route.quarantine_rows": res.sink_counts.get(QUARANTINE, 0),
        "route.bytes": float(manifest.loc[manifest.stage == "route", "bytes"].sum()),
        "manifest.records": len(manifest),
    }
    out = os.path.join(WORK, "trace")
    spans: dict = {}
    counts: dict = {}
    wall_t = traced_pass(spark, "sql", job.raw, job.dims_dir, out, spans, counts)
    errs += job.check(counts.pop("trace.sink_counts"),
                      os.path.join(out, "sinks", QUARANTINE))
    shutil.rmtree(out, ignore_errors=True)
    values.update(counts)
    values["trace.overhead_s"] = wall_t - wall_u
    # Drain parse on the same input, in the JVM the sql jobs warmed; its
    # Spark jobs carry their own group prefix and stay out of the task
    # metrics of the sql layers
    drain_spans: dict = {}
    traced_pass(spark, "drain", job.raw, job.dims_dir, out, drain_spans,
                {}, parse_only=True, group_prefix="drain:")
    for k in ("parse.drain.mine_templates", "parse.drain.apply"):
        spans[k] = drain_spans[k]
    for layer, sec in spans.items():
        if layer != "route.route_stage":
            values[f"{layer}.s"] = sec
    print(f"batch leg ({n_raw} input rows; untraced job: route and the "
          "aggregates overlap; traced pass: one layer at a time)")
    print(f"    {'untraced job (median)':<34} {wall_u:8.3f} s")
    for layer, sec in spans.items():
        print(f"    {layer:<34} {sec:8.3f} s")
    print(f"    {'traced pass':<34} {wall_t:8.3f} s")
    return errs, values, spans, wall_u, job


def scaling_leg(job, spans: dict, wall_u: float):
    """The same job and traced pass at ``local[1]``, in a session of its
    own, against the ``local[nproc]`` batch leg. Efficiency is
    t1 / (nproc * tn). Returns (errors, values); leaves the session to the
    caller to stop."""
    spark, _ = start_spark("perfbench_local1", master="local[1]")
    job.spark = spark
    wall_1, errs, _res, _man = job()
    spans1: dict = {}
    out = os.path.join(WORK, "trace")
    traced_pass(spark, "sql", job.raw, job.dims_dir, out, spans1, {})
    shutil.rmtree(out, ignore_errors=True)
    n = nproc()
    values = {"scaling.local1_job_s": wall_1,
              "scaling.efficiency": wall_1 / (n * wall_u)}
    for layer, sec in spans1.items():
        values[f"scaling.{layer}.efficiency"] = sec / (n * spans[layer])
    print(f"local[1]: job {wall_1:.3f} s against {wall_u:.3f} s at local[{n}]")
    for layer, sec in spans1.items():
        print(f"    {layer:<34} {sec:8.3f} s   local[{n}] {spans[layer]:8.3f} s")
    return errs, values
