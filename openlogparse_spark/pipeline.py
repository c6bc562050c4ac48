"""End-to-end pipeline: parse → enrich → route → aggregate, manifest-resumable.

The Spark re-expression of the reference's five-thread dataflow
(reader → parser → checkpoint → memory-manager → writer, spawned at
/root/reference/src/OpenLogReplicator.cpp:405,859,1271,1302): each thread
becomes a declarative stage over materialized tables; Spark supplies the
transport (shuffle), backpressure, spill, and parallelism the reference
hand-builds.

Stage materialization strategy (scale rationale): `parsed`+`enriched` are
persisted once as a partitioned parquet table, then every route reads it with
its filter pushed down to the scan — at 100 TB this beats re-parsing per sink
(the reference parses once and fans out in memory; we parse once and fan out
through storage, which also buys idempotent resume per sink).

Each static side has one owner: `parse_stage`'s fit path mines and pins the
template table, and `enrich.read_dim` reads the dims on the driver.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openlogparse_spark.aggregate import agg_hourly, conv_outcomes, conv_stats
from openlogparse_spark.enrich import enrich_stage, read_dim
from openlogparse_spark.manifest import Manifest, atomic_overwrite, _dir_bytes
from openlogparse_spark.parse import parse_stage
from openlogparse_spark.route import route_stage
from openlogparse_spark.route.router import footer_count, read_routes


# input-table contract: column -> acceptable Spark types (the "file header"
# of the batch world; fixture and production tables must match)
INPUT_CONTRACT: dict[str, tuple[str, ...]] = {
    "conv_id": ("string",),
    "turn_idx": ("int", "bigint"),
    "role": ("string",),
    "text": ("string",),
    "tool": ("string",),
    "ts": ("timestamp", "timestamp_ntz"),
}


class SchemaGateError(ValueError):
    """Input table violates the transcript contract."""


def validate_input_schema(df: DataFrame, contract: dict | None = None) -> None:
    """Schema gate before any parsing starts.

    The reference validates every redo file's header block (version/blocksize
    compatibility window, Reader::checkRedoHeader,
    /root/reference/src/reader/Reader.cpp:253-266) and aborts with a coded
    error on drift rather than mis-parsing bytes; the batch analogue is the
    parquet schema vs the transcript contract. Extra columns pass (forward
    compatible); missing or mistyped ones abort with a full drift report."""
    contract = contract or INPUT_CONTRACT
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    problems = []
    for col, ok_types in contract.items():
        if col not in have:
            problems.append(f"missing column {col!r} (want {'/'.join(ok_types)})")
        elif have[col] not in ok_types:
            problems.append(
                f"column {col!r} has type {have[col]}, want {'/'.join(ok_types)}")
    if problems:
        raise SchemaGateError(
            "input schema violates the transcript contract: " + "; ".join(problems))


@dataclass
class PipelineConfig:
    input_path: str                    # transcripts parquet/dir
    dims_dir: str                      # dim_tools/dim_roles/routes parquet dir
    output_root: str                   # where stages + sinks land
    parse_mode: str = "sql"            # 'sql' (pure Catalyst) | 'drain' (pandas UDF)
    min_support: int = 2
    salt_buckets: int = 64
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    stages: tuple = ("parse", "enrich", "route", "aggregate")
    # True: stage `enriched` as a parquet table (per-stage resume; routes read
    # with pushdown). False: keep it as a cached plan feeding route/aggregate
    # directly — skips one full write+read of the widest table (use when the
    # run is one shot and resume granularity per-sink suffices).
    materialize_enriched: bool = True
    # F4 tenant/PDB filter analogue (/root/reference/src/parser/
    # Parser.cpp:839-841 conId skip): a SQL predicate applied AT THE SCAN
    # (pushed down to parquet) — rows outside the tenant never leave storage.
    input_filter: str | None = None
    # F6 cluster-key suppression analogue (/root/reference/src/parser/
    # Transaction.cpp:248-254 FB_K skip at flush): rows matching this
    # predicate are withheld from every REAL route at emit time (quarantine
    # conservation is untouched — suppression is a flush-side policy).
    suppress_condition: str | None = None
    # bucketed-table input (jobs/bucketize.py): a table bucketBy(conv_id)
    # sortBy(conv_id, turn_idx) scans as HashPartitioning(conv_id), so the
    # merge window needs NO exchange — the whole pipeline then runs with
    # zero full-data shuffles. Overrides input_path when set.
    input_table: str | None = None


@dataclass
class PipelineResult:
    run_id: str
    enriched_path: str
    sink_counts: dict
    manifest: Manifest
    timings: dict


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> PipelineResult:
    man = Manifest(os.path.join(cfg.output_root, "manifest"))
    timings: dict[str, float] = {}

    def stage_done(stage: str, sink: str) -> bool:
        return sink in man.done(stage)

    transcripts = (spark.table(cfg.input_table) if cfg.input_table
                   else spark.read.parquet(cfg.input_path))
    validate_input_schema(transcripts)   # header gate: fail fast on drift
    if cfg.input_filter:
        transcripts = transcripts.filter(F.expr(cfg.input_filter))
    routes = read_routes(cfg.dims_dir)

    enriched_path = os.path.join(cfg.output_root, "enriched")
    parse_requested = "parse" in cfg.stages or "enrich" in cfg.stages
    if not parse_requested:
        # route/aggregate-only invocation: the staged table must already exist
        if not (cfg.materialize_enriched and os.path.exists(enriched_path)):
            raise ValueError(
                f"stages={cfg.stages} skips parse/enrich but no staged enriched "
                f"table exists at {enriched_path}; run the parse+enrich stages "
                "first (with materialize_enriched=True) or include them."
            )

    # ---- stage 1+2: parse + enrich -----------------------------------------
    parsed = None
    if parse_requested:
        if not (cfg.materialize_enriched and stage_done("enrich", enriched_path)):
            t0 = time.time()
            parsed = parse_stage(transcripts, mode=cfg.parse_mode,
                                 min_support=cfg.min_support)
            dims = os.path.join(cfg.dims_dir, "{}.parquet")
            enriched = enrich_stage(parsed, read_dim(spark, dims.format("dim_tools")),
                                    read_dim(spark, dims.format("dim_roles")))
            if cfg.materialize_enriched:
                atomic_overwrite(enriched, enriched_path)
                parsed.release_cached_inputs()
                rows = footer_count(enriched_path)
                man.record(cfg.run_id, "enrich", enriched_path, rows,
                           _dir_bytes(enriched_path), started=t0)
            timings["parse_enrich"] = time.time() - t0

    if cfg.materialize_enriched:
        enriched = spark.read.parquet(enriched_path)
    # else: `enriched` is the live plan over parse_stage's cached inputs

    # ---- stages 3+4: route fan-out and aggregates, submitted CONCURRENTLY ---
    # They read independent column subsets of the staged `enriched` table;
    # concurrent job submission lets the scheduler fill the stage gaps one
    # sequential job stream leaves idle (python-worker stages overlap JVM
    # shuffle stages). Same trick a real cluster uses to keep executors busy.
    from concurrent.futures import ThreadPoolExecutor

    # Spark job controls (scheduler pool / job group) are THREAD-LOCAL and —
    # PySpark gotcha — do NOT propagate to plain child threads; without this
    # copy, jobs submitted from the pool below would escape the caller's
    # pool and cancelJobGroup handle (jobs/manager.py relies on both)
    sc = spark.sparkContext
    _props = {k: sc.getLocalProperty(k) for k in (
        "spark.scheduler.pool", "spark.jobGroup.id",
        "spark.job.description", "spark.job.interruptOnCancel")}

    def _inherit(fn):
        def wrapped(*a, **kw):
            for k, v in _props.items():
                if v is not None:
                    sc.setLocalProperty(k, v)
            return fn(*a, **kw)
        return wrapped

    sink_counts: dict[str, int] = {}
    futures = {}
    with ThreadPoolExecutor(max_workers=5) as pool:
        if "route" in cfg.stages:
            t0r = time.time()
            # quarantine rides the SAME single-pass fan-out write as the real
            # routes (one extra array entry, zero extra passes): real routes
            # additionally require parse_ok; the quarantine pseudo-route takes
            # NOT parse_ok — the reference's skip/warn path, conserved, never
            # dropped (count conservation: rows == sum(routes∩ok) + quarantine)
            emit_gate = ("parse_ok" if not cfg.suppress_condition
                         else f"parse_ok AND NOT ({cfg.suppress_condition})")
            fanout = [
                {**r, "condition": (f"({r['condition']}) AND {emit_gate}"
                                    if r.get("condition") and r["condition"].strip()
                                    else emit_gate)}
                for r in routes
            ] + [{"route_id": "quarantine", "sink": "quarantine",
                  "template_pattern": "", "condition": "NOT parse_ok"}]
            # the pipeline KNOWS its upstream partitioning, so the router's
            # auto-reshuffle never has to estimate (much less probe — .rdd
            # would execute the plan under AQE): one-shot plans end at the
            # merge-window exchange (= shuffle partitions); a materialized
            # enriched table scans as its file splits
            if cfg.materialize_enriched:
                up = len(enriched.inputFiles())
            else:
                up = int(spark.conf.get("spark.sql.shuffle.partitions"))
            futures["route"] = pool.submit(
                _inherit(route_stage),
                enriched,
                fanout,
                os.path.join(cfg.output_root, "sinks"),
                man, cfg.run_id, cfg.salt_buckets,
                timings=timings,
                upstream_partitions=up,
            )

        if "aggregate" in cfg.stages:
            t0a = time.time()

            def _write_agg(name, df):
                path = os.path.join(cfg.output_root, name)
                if stage_done("aggregate", path):
                    return
                atomic_overwrite(df, path)
                man.record(cfg.run_id, "aggregate", path,
                           footer_count(path), _dir_bytes(path))

            for name, df in (
                ("agg_hourly", agg_hourly(enriched)),
                ("conv_stats", conv_stats(enriched)),
                ("conv_outcomes", conv_outcomes(enriched.filter("parse_ok"))),
            ):
                futures[name] = pool.submit(_inherit(_write_agg), name, df)

        if "route" in cfg.stages:
            sink_counts = futures["route"].result()
            timings["route"] = time.time() - t0r
        if "aggregate" in cfg.stages:
            for name in ("agg_hourly", "conv_stats", "conv_outcomes"):
                futures[name].result()
            timings["aggregate"] = time.time() - t0a

    if parsed is not None:
        parsed.release_cached_inputs()
    return PipelineResult(cfg.run_id, enriched_path, sink_counts, man, timings)
