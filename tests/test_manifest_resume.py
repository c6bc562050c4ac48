"""Manifest lineage + idempotent kill-and-resume (north-rule resume invariant).

Reference semantics mirrored: confirmed output is never re-sent on restart
(Writer::isNewData, /root/reference/src/writer/Writer.cpp:296-298); metadata
checkpoints restore position (Metadata.cpp:415-460)."""

import glob
import hashlib
import os
import shutil

import pytest

from openlogparse_spark.manifest import Manifest
from openlogparse_spark.pipeline import PipelineConfig, run_pipeline

TMP = "data/tmp/test_resume"


def _sink_digest(root: str) -> dict[str, str]:
    """Per-sink content digest over sorted row bytes (order-insensitive)."""
    import duckdb

    out = {}
    for sink in sorted(os.listdir(root)):
        path = os.path.join(root, sink)
        files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if not files:
            out[sink] = "empty"
            continue
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT md5(string_agg(h, '' ORDER BY h)) FROM ("
            f"SELECT md5(concat_ws('|', conv_id, turn_idx, text)) AS h "
            f"FROM read_parquet({files!r}, union_by_name=true))"
        ).fetchone()[0]
        out[sink] = rows
    return out


@pytest.fixture(scope="module")
def cfg(fx_dir):
    shutil.rmtree(TMP, ignore_errors=True)
    return PipelineConfig(
        input_path=os.path.join(fx_dir, "transcripts.parquet"),
        dims_dir=fx_dir,
        output_root=TMP,
        salt_buckets=8,
        run_id="full1",
    )


def test_kill_and_resume_identical(spark, cfg, fx_dir):
    # 1) "killed" run: parse+enrich done, only 2 of 6 routes written
    partial_cfg = PipelineConfig(
        input_path=cfg.input_path, dims_dir=cfg.dims_dir, output_root=cfg.output_root,
        salt_buckets=8, run_id="partial",
    )
    man = Manifest(os.path.join(TMP, "manifest"))
    import pandas as pd

    from openlogparse_spark.route import route_stage

    # run parse+enrich+first-2-routes manually (simulates a crash mid-route)
    from openlogparse_spark.pipeline import run_pipeline as _rp

    partial_cfg2 = PipelineConfig(
        input_path=cfg.input_path, dims_dir=cfg.dims_dir, output_root=cfg.output_root,
        salt_buckets=8, run_id="partial", stages=("parse", "enrich"),
    )
    _rp(spark, partial_cfg2)
    routes = pd.read_parquet(os.path.join(fx_dir, "routes.parquet")).to_dict("records")
    enriched = spark.read.parquet(os.path.join(TMP, "enriched")).filter("parse_ok")
    route_stage(enriched, routes[:2], os.path.join(TMP, "sinks"),
                manifest=man, run_id="partial", salt_buckets=8)
    assert len(man.done("route")) == 2

    # 2) resume: full pipeline; must skip enrich + the 2 done sinks
    res = run_pipeline(spark, cfg)
    digests_after_resume = _sink_digest(os.path.join(TMP, "sinks"))
    manifest_df = man.load()
    # enrich recorded once (not re-run), the 2 early sinks recorded by "partial"
    assert (manifest_df[manifest_df.stage == "enrich"]).shape[0] == 1
    early = manifest_df[(manifest_df.stage == "route")
                        & (manifest_df.run_id == "partial")]
    assert early.shape[0] == 2

    # 3) re-run from scratch in a different directory -> identical sink bytes
    clean_root = TMP + "_clean"
    shutil.rmtree(clean_root, ignore_errors=True)
    clean_cfg = PipelineConfig(
        input_path=cfg.input_path, dims_dir=cfg.dims_dir, output_root=clean_root,
        salt_buckets=8, run_id="clean",
    )
    run_pipeline(spark, clean_cfg)
    digests_clean = _sink_digest(os.path.join(clean_root, "sinks"))
    assert digests_after_resume == digests_clean

    # 4) routed counts recorded in manifest match across runs
    m2 = Manifest(os.path.join(clean_root, "manifest"))
    c1 = {os.path.basename(k[1]): v for k, v in man.counts_by_sink().items() if k[0] == "route"}
    c2 = {os.path.basename(k[1]): v for k, v in m2.counts_by_sink().items() if k[0] == "route"}
    assert c1 == c2


def test_atomic_overwrite_never_half_visible(spark, cfg):
    """A dangling tmp dir from a crash is invisible to readers and cleaned
    up by the next commit."""
    from openlogparse_spark.manifest import atomic_overwrite

    target = os.path.join(TMP, "atomic_probe")
    df1 = spark.range(10).withColumnRenamed("id", "v")
    atomic_overwrite(df1, target)
    # simulate a crashed writer: stale tmp dir with garbage
    os.makedirs(target + ".__tmp__", exist_ok=True)
    with open(os.path.join(target + ".__tmp__", "junk"), "w") as f:
        f.write("crash leftovers")
    assert spark.read.parquet(target).count() == 10  # old snapshot intact
    df2 = spark.range(20).withColumnRenamed("id", "v")
    atomic_overwrite(df2, target)
    assert spark.read.parquet(target).count() == 20
    assert not os.path.exists(target + ".__tmp__")


def test_schema_gate_rejects_drifted_input(spark, cfg, fx_dir):
    """S4 header gate: a mistyped/missing column aborts before parsing, with
    every drift named (reference Reader::checkRedoHeader parity)."""
    import pyspark.sql.functions as F

    from openlogparse_spark.pipeline import SchemaGateError, validate_input_schema

    good = spark.read.parquet(os.path.join(fx_dir, "transcripts.parquet"))
    validate_input_schema(good)                       # contract holds
    validate_input_schema(good.withColumn("extra", F.lit(1)))  # extras pass
    bad = good.drop("tool").withColumn("turn_idx", F.col("turn_idx").cast("string"))
    with pytest.raises(SchemaGateError) as ei:
        validate_input_schema(bad)
    msg = str(ei.value)
    assert "tool" in msg and "turn_idx" in msg


def test_tenant_filter_and_suppression(spark, fx_dir):
    """F4 tenant filter (scan-side predicate) + F6 suppression (flush-side
    withholding from real routes; quarantine conservation untouched)."""
    root = "data/tmp/test_f4f6"
    shutil.rmtree(root, ignore_errors=True)
    cfg = PipelineConfig(
        input_path=os.path.join(fx_dir, "transcripts.parquet"),
        dims_dir=fx_dir, output_root=root, salt_buckets=4, run_id="f4f6",
        materialize_enriched=False,
        stages=("parse", "enrich", "route"),
        input_filter="conv_id < 'conv00000050'",
        suppress_condition="role = 'system'",
    )
    res = run_pipeline(spark, cfg)
    # suppression: the system route (and only it) is emptied
    assert res.sink_counts["r_system"] == 0
    assert res.sink_counts["r_txn"] > 0
    # tenant filter: only the filtered convs ever reach any sink
    convs = []
    for s in ("events_r_txn", "events_r_errors"):
        routed = spark.read.parquet(os.path.join(root, "sinks", s))
        convs += [r["conv_id"] for r in routed.select("conv_id").distinct().collect()]
    assert convs and all(c < "conv00000050" for c in convs)


def test_manifest_records_sink_watermarks(spark, fx_dir):
    """A4 watermark progression: each routed sink's manifest row carries its
    event-time high-water mark (max committed ts), equal to the actual
    max(ts) in the committed sink — read from footers, zero data scans."""
    import pandas as pd

    root = "data/tmp/test_wm"
    shutil.rmtree(root, ignore_errors=True)
    cfg = PipelineConfig(
        input_path=os.path.join(fx_dir, "transcripts.parquet"),
        dims_dir=fx_dir, output_root=root, salt_buckets=4, run_id="wm",
        materialize_enriched=False, stages=("parse", "enrich", "route"),
    )
    run_pipeline(spark, cfg)
    man = Manifest(os.path.join(root, "manifest")).load()
    routed = man[(man.stage == "route") & (man["rows"] > 0)
                 & (~man.sink.str.endswith("quarantine"))]
    assert routed["watermark"].notna().all()
    row = routed.iloc[0]
    actual = spark.read.parquet(row["sink"]).agg({"ts": "max"}).first()[0]
    assert pd.Timestamp(row["watermark"]) == pd.Timestamp(actual)


def test_manifest_compaction_gc(spark, fx_dir):
    """Checkpoint GC (Metadata::deleteOldCheckpoints analogue): 1,000 records
    fold to ONE file with done()/counts_by_sink() invariant, auto-compaction
    bounds file count, and pipeline resume skips work across a compaction."""
    root = "data/tmp/test_compact"
    shutil.rmtree(root, ignore_errors=True)
    man = Manifest(os.path.join(root, "manifest"), compact_threshold=None)
    sink_dirs = []
    for i in range(10):
        d = os.path.join(root, f"sink{i}")
        os.makedirs(d, exist_ok=True)
        sink_dirs.append(d)
    for n in range(1000):
        man.record("r", "route", sink_dirs[n % 10], rows=n, nbytes=0)
    assert len(man._files()) == 1000
    before_done = man.done("route")
    before_counts = man.counts_by_sink()
    assert man.compact() == 1000
    assert len(man._files()) == 1          # O(keys) -> load()/done() stay flat
    assert man.done("route") == before_done
    assert man.counts_by_sink() == before_counts  # latest-per-sink survived
    assert len(man.load()) == 10

    # auto-compaction: record() keeps the file count bounded at the threshold
    man2 = Manifest(os.path.join(root, "m2"), compact_threshold=50)
    for n in range(300):
        man2.record("r", "stage", "", rows=n, nbytes=0)
    assert len(man2._files()) <= 51
    assert man2.counts_by_sink()[("stage", "")] == 299   # latest still wins

    # resume across a compaction cycle: second run still skips everything
    proot = os.path.join(root, "pipe")
    base = dict(input_path=os.path.join(fx_dir, "transcripts.parquet"),
                dims_dir=fx_dir, output_root=proot, salt_buckets=4)
    run_pipeline(spark, PipelineConfig(run_id="c1", **base))
    pman = Manifest(os.path.join(proot, "manifest"))
    pman.compact()
    n_before = len(pman.load())
    run_pipeline(spark, PipelineConfig(run_id="c2", **base))
    after = pman.load()
    assert len(after) == n_before           # every stage skipped, none re-ran
    assert (after.stage == "enrich").sum() == 1


def test_manifest_concurrent_writers_with_auto_compaction():
    """The pipeline records sink commits from a thread pool against ONE
    Manifest with auto-compaction on — concurrent record() + compact() must
    never lose a key or resurrect a stale count (latest-wins is resolved by
    the finished timestamp, not file order)."""
    import threading

    root = "data/tmp/test_compact_mt"
    shutil.rmtree(root, ignore_errors=True)
    man = Manifest(os.path.join(root, "manifest"), compact_threshold=40)
    n_threads, n_each = 8, 75

    def writer(t):
        for i in range(n_each):
            man.record("r", "route", f"sink{t}", rows=i, nbytes=0)

    threads = [threading.Thread(target=writer, args=(t,))
               for t in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    man.compact()
    counts = man.counts_by_sink()
    assert len(counts) == n_threads                      # no key lost
    for t in range(n_threads):
        # each sink's surviving record is its writer's LAST one
        assert counts[("route", f"sink{t}")] == n_each - 1, t
    assert len(man._files()) <= n_threads + 1            # GC actually ran


def test_hard_kill_mid_route_then_resume(spark, fx_dir):
    """TRUE crash test: SIGKILL a pipeline subprocess while the route write
    is in flight, then resume in-process — every sink completes and matches
    a never-killed run byte-for-byte (the north-rule resume invariant under
    an actual kill, not a simulated partial state)."""
    import signal
    import subprocess
    import sys
    import time as _time

    root = "data/tmp/test_kill9"
    shutil.rmtree(root, ignore_errors=True)
    child_code = f"""
import sys; sys.path.insert(0, {os.getcwd()!r})
from openlogparse_spark.session import get_spark
from openlogparse_spark.pipeline import PipelineConfig, run_pipeline
spark = get_spark('victim', master='local[4]', shuffle_partitions=8)
cfg = PipelineConfig(input_path={os.path.join(fx_dir, 'transcripts.parquet')!r},
                     dims_dir={fx_dir!r}, output_root={root!r},
                     salt_buckets=4, run_id='victim')
print('RUNNING', flush=True)
run_pipeline(spark, cfg)
print('DONE', flush=True)
"""
    p = subprocess.Popen([sys.executable, "-c", child_code],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True)
    # wait until the run is underway, then kill it mid-flight
    assert p.stdout.readline().strip() == "RUNNING"
    deadline = _time.time() + 120
    killed = False
    while _time.time() < deadline:
        staging = os.path.join(root, "sinks", ".__routed_tmp__")
        enr_tmp = os.path.join(root, "enriched.__tmp__")
        if os.path.exists(staging) or os.path.exists(enr_tmp):
            os.kill(p.pid, signal.SIGKILL)   # mid-write, no cleanup
            killed = True
            break
        if p.poll() is not None:
            break
        _time.sleep(0.05)
    p.wait()
    assert killed, "child finished before a mid-write kill window appeared"

    # resume with the SAME output root: skips whatever committed, redoes the rest
    cfg = PipelineConfig(
        input_path=os.path.join(fx_dir, "transcripts.parquet"),
        dims_dir=fx_dir, output_root=root, salt_buckets=4, run_id="resume",
    )
    run_pipeline(spark, cfg)

    clean_root = root + "_clean"
    shutil.rmtree(clean_root, ignore_errors=True)
    run_pipeline(spark, PipelineConfig(
        input_path=os.path.join(fx_dir, "transcripts.parquet"),
        dims_dir=fx_dir, output_root=clean_root, salt_buckets=4, run_id="clean"))
    assert _sink_digest(os.path.join(root, "sinks")) == \
        _sink_digest(os.path.join(clean_root, "sinks"))


# Spark jobs one warm run_pipeline runs on the sf0.01 fixture: 19 when
# measured (21 while dim_tools and dim_roles were Spark parquet scans, each
# with a schema-inference job; 35 while each staged table, aggregate and
# merged sink was counted with a Spark read and the route table was read
# through Spark)
WARM_JOB_BUDGET = 19


def test_warm_pipeline_job_count(spark, fx_dir_big):
    """Fixed cost of a batch job: after a cold run, a warm run_pipeline on
    the sf0.01 fixture runs at most WARM_JOB_BUDGET Spark jobs. Row counts
    come from parquet footers, the route table is read with pandas and the
    dims with pyarrow, so none of them costs a job."""
    sc = spark.sparkContext
    jobs = {}
    for tag in ("cold", "warm"):
        root = f"{TMP}_jobs_{tag}"
        shutil.rmtree(root, ignore_errors=True)
        group = f"job_count_{tag}"
        sc.setJobGroup(group, group)
        try:
            run_pipeline(spark, PipelineConfig(
                input_path=os.path.join(fx_dir_big, "transcripts.parquet"),
                dims_dir=fx_dir_big, output_root=root, run_id=tag))
        finally:
            for k in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(k, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[tag] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs["warm"] <= WARM_JOB_BUDGET, jobs


def test_template_table_over_budget_keeps_plan(spark, fx_dir, monkeypatch, caplog):
    """The template table is pinned driver-side only within the broadcast
    budget (the session's autoBroadcastJoinThreshold). Over it one line says
    why, the mined table stays on the executors and is joined without a
    broadcast, and the sinks are the same."""
    import logging

    from openlogparse_spark import pipeline, session

    parsed, parse_stage = {}, pipeline.parse_stage

    def capture(*args, **kwargs):
        parsed["df"] = out = parse_stage(*args, **kwargs)
        return out

    monkeypatch.setattr(pipeline, "parse_stage", capture)

    def run(tag):
        root = f"{TMP}_budget_{tag}"
        shutil.rmtree(root, ignore_errors=True)
        res = run_pipeline(spark, PipelineConfig(
            input_path=os.path.join(fx_dir, "transcripts.parquet"),
            dims_dir=fx_dir, output_root=root, salt_buckets=4, run_id=tag))
        plan = parsed["df"]._jdf.queryExecution().executedPlan().toString()
        # pre-order tree string: the first join is the template join
        return res, next(ln for ln in plan.splitlines() if "Join" in ln)

    pinned, pinned_join = run("pinned")
    assert "BroadcastHashJoin" in pinned_join
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        assert session.broadcast_budget(spark) == 1024
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            lazy, lazy_join = run("lazy")
    finally:
        spark.conf.set(key, threshold)
    over = [r for r in caplog.records if "broadcast budget" in r.getMessage()]
    assert len(over) == 1, over
    assert "BroadcastHashJoin" not in lazy_join, lazy_join
    assert lazy.sink_counts == pinned.sink_counts


def test_cli_timings_keep_types(spark, fx_dir, capsys):
    """The CLI's JSON line rounds float timings and keeps the boolean
    `route_reshuffle` a JSON boolean. Run inside a caller's session, the CLI
    uses that session as it is and leaves it running."""
    import json

    from openlogparse_spark.jobs.run_pipeline import main

    root = f"{TMP}_cli"
    shutil.rmtree(root, ignore_errors=True)
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    assert main(["--input", os.path.join(fx_dir, "transcripts.parquet"),
                 "--dims", fx_dir, "--output", root,
                 "--salt-buckets", "4"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert isinstance(out["timings"]["route_reshuffle"], bool)
    assert all(isinstance(v, float) for k, v in out["timings"].items()
               if k != "route_reshuffle")
    assert spark.range(3).count() == 3
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions


def test_no_cached_data_left_behind(spark, fx_dir):
    """A staged and a one-shot run_pipeline, and a parse_stage followed by
    release_cached_inputs(), leave the session's persisted RDDs as they
    found them, with the template table within the broadcast budget and
    over it."""
    import gc

    from openlogparse_spark.parse import parse_stage

    jsc = spark.sparkContext._jsc

    def persisted():
        gc.collect()    # run the finalizers of unrelated released results
        return set(jsc.getPersistentRDDs().keys())

    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    raw = spark.read.parquet(os.path.join(fx_dir, "transcripts.parquet"))
    try:
        for budget in ("within", "over"):
            if budget == "over":
                spark.conf.set(key, "1024")
            for staged in (True, False):
                root = f"{TMP}_cache_{budget}_{staged}"
                shutil.rmtree(root, ignore_errors=True)
                before = persisted()
                run_pipeline(spark, PipelineConfig(
                    input_path=os.path.join(fx_dir, "transcripts.parquet"),
                    dims_dir=fx_dir, output_root=root, salt_buckets=4,
                    materialize_enriched=staged))
                assert persisted() == before, (budget, staged)
            before = persisted()
            parsed = parse_stage(raw)
            parsed.write.format("noop").mode("overwrite").save()
            assert persisted() > before, budget    # the fit path did cache
            parsed.release_cached_inputs()
            assert persisted() == before, budget
    finally:
        spark.conf.set(key, threshold)
