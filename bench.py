#!/usr/bin/env python
"""Headline benchmark. Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>, "turns_per_sec": <pipeline throughput>}

Inputs: $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) for the generic
tables; a same-sf synthetic transcripts table (generated once, cached under
data/bench/) for the pipeline throughput number. Parallelism:
local[$SPARK_GRAFT_CPUS] (default 32).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPO = os.path.dirname(os.path.abspath(__file__))

# queries() entries timed against the generic tables
BENCH_QUERIES = [
    "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
    "enrich_parts", "topk_orders_per_customer",
    "parse_events", "events_hourly", "sessionize_events", "cdc_changes",
    "dedup_exact", "jaccard_pairs", "minhash_lsh_pairs", "simhash_near_pairs",
    "ann_cosine_topk", "ann_lsh_topk", "embed_near_pairs_lsh",
]

# queries whose suite timings have historically been contaminated by
# cache/AQE state bleeding across the 20-query same-session suite: ALSO run
# each in a FRESH session (subprocess) and report both numbers, so
# round-over-round deltas are unambiguous (suite = product-context latency,
# isolated = the operator's own cost)
ISOLATED_QUERIES = ["jaccard_pairs", "minhash_lsh_pairs", "simhash_near_pairs",
                    "ann_lsh_topk"]


def run_isolated(queries: list[str]) -> tuple[dict[str, float], dict[str, str]]:
    """Returns (timings, errors). A failed query lands in `errors`, NEVER as
    a sentinel in the timings map — a -1.0 there reads as a (negative)
    latency to anything aggregating the dict (ADVICE r4)."""
    import subprocess

    out: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in queries:
        try:
            p = subprocess.run(
                # runs=3: in a FRESH session run 1 is codegen compile and
                # run 2 still pays JVM JIT warmup (measured 11.2/3.2/2.3s on
                # the same query); best-of-3 is the steady-state number
                [sys.executable, os.path.join(REPO, "scripts", "profile_query.py"),
                 name, "--runs=3"],
                capture_output=True, text=True, timeout=600, check=True)
            res = json.loads(p.stdout.strip().splitlines()[-1])
            out[name] = res[name]["best"]
        except Exception as e:  # noqa: BLE001 — isolated lane is advisory
            errors[name] = str(e)[:200]
            print(f"isolated {name} failed: {e}", file=sys.stderr)
    return out, errors


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    return float(base[2:]) if base.startswith("sf") else 0.1


def ensure_bench_transcripts(sf: float) -> str:
    from openlogparse_spark.fixtures.transcripts import ensure_fixtures

    return ensure_fixtures(sf, base=os.path.join(REPO, "data", "bench"))


def run_pipeline_bench(spark, fx_dir: str, out_root: str) -> tuple[float, int]:
    from openlogparse_spark.pipeline import PipelineConfig, run_pipeline

    shutil.rmtree(out_root, ignore_errors=True)
    t0 = time.time()
    cfg = PipelineConfig(
        input_path=os.path.join(fx_dir, "transcripts.parquet"),
        dims_dir=fx_dir,
        output_root=out_root,
        run_id="bench",
        # one-shot mode by default: enriched stays a cached plan (staging it
        # to parquet is a resume feature, not part of the measured product);
        # set SPARK_GRAFT_MATERIALIZE=1 to bench the resumable layout
        materialize_enriched=os.environ.get("SPARK_GRAFT_MATERIALIZE", "0") == "1",
    )
    run_pipeline(spark, cfg)
    wall = time.time() - t0
    n_turns = spark.read.parquet(os.path.join(fx_dir, "transcripts.parquet")).count()
    return wall, n_turns


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--isolated":
        # fresh-session per-query lane only: bench.py --isolated [q ...]
        names = sys.argv[2:] or ISOLATED_QUERIES
        iso, iso_err = run_isolated(names)
        out = {"isolated": iso, "sf": sf_of(SF_DIR), "cpus": int(CPUS)}
        if iso_err:
            out["isolated_errors"] = iso_err
        print(json.dumps(out))
        return

    import __spark_entry__ as entry_mod
    from openlogparse_spark.session import get_spark

    sf = sf_of(SF_DIR)
    spark = get_spark("bench", master=f"local[{CPUS}]")

    timings: dict[str, float] = {}
    total = 0.0

    # 1) the north-rule number: end-to-end parse→route throughput.
    # Best of 3 runs: the sandbox VM has time-varying neighbor load (measured
    # ±2x swings on identical runs, in multi-minute phases that best-of-2
    # can straddle); the first run also doubles as the codegen/JIT warmup.
    # Only the best run counts toward `value`.
    fx_dir = ensure_bench_transcripts(sf)
    walls = []
    for _ in range(3):
        wall, n_turns = run_pipeline_bench(
            spark, fx_dir, os.path.join(REPO, "data", "bench", "out"))
        walls.append(wall)
    wall = min(walls)
    timings["pipeline_e2e"] = round(wall, 3)
    total += wall
    turns_per_sec = round(n_turns / wall, 1)

    # 1b) streaming drain rate: the same transcripts through the streaming
    # parse+enrich → watermarked hourly rollup (SURVEY §2.11), memory sink
    import shutil as _shutil

    from openlogparse_spark.parse import merge_row_pieces
    from openlogparse_spark.parse.stage import mine_template_table
    from openlogparse_spark.session import to_local_relation
    from openlogparse_spark.streaming import stream_hourly_counts, stream_parse_enrich
    from openlogparse_spark.streaming.jobs import stream_source

    batch = spark.read.parquet(os.path.join(fx_dir, "transcripts.parquet"))
    # pin the mined table as a JVM-local relation: a stream-static join
    # re-runs its static side's plan every micro-batch, so an un-collected
    # mining subtree would re-mine the whole corpus per trigger.
    # The one-time mining pass is timed SEPARATELY (streaming_mine_templates)
    # so streaming_e2e measures the drain rate alone — see BENCH/NOTES.md r5
    # for the lane-definition change vs r3/r4 (which folded mining in).
    t0 = time.time()
    templates = to_local_relation(mine_template_table(merge_row_pieces(batch)))
    timings["streaming_mine_templates"] = round(time.time() - t0, 3)
    total += timings["streaming_mine_templates"]
    # file stream sources take a DIRECTORY; expose the (file or dir) fixture
    # through a scratch dir of symlinks
    sdir = os.path.join(REPO, "data", "bench", "stream_in")
    _shutil.rmtree(sdir, ignore_errors=True)
    os.makedirs(sdir)
    src = os.path.join(fx_dir, "transcripts.parquet")
    if os.path.isdir(src):
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                os.symlink(os.path.join(src, f), os.path.join(sdir, f))
    else:
        os.symlink(src, os.path.join(sdir, "part-0.parquet"))
    dim_tools = spark.read.parquet(os.path.join(fx_dir, "dim_tools.parquet"))

    def run_stream_once() -> float:
        ck = os.path.join(REPO, "data", "bench", "stream_ck")
        _shutil.rmtree(ck, ignore_errors=True)
        t0 = time.time()
        stream = stream_source(spark, sdir)
        parsed = stream_parse_enrich(stream, templates, dim_tools)
        q = (stream_hourly_counts(parsed.filter("parse_ok"))
             .writeStream.outputMode("append").format("noop")
             .option("checkpointLocation", ck).start())
        q.processAllAvailable()
        q.stop()
        return time.time() - t0

    # warm untimed + best-of-3: r4's official 15.46s (vs r3's 9.01) was a
    # cold-compile/noise artifact of timing the very first streaming start —
    # the lane now discards the compile run and takes the best of 3 timed
    # runs (each with a fresh checkpoint, so every run does the same work)
    run_stream_once()
    dt = min(run_stream_once() for _ in range(3))
    timings["streaming_e2e"] = round(dt, 3)
    streaming_tps = round(n_turns / dt, 1)
    total += dt

    # 1c) parse-stage mode comparison: Catalyst mask (sql) vs the pandas
    # Drain tree (SURVEY §4 custom piece #1) on the same transcripts —
    # quantifies the Arrow-stage overhead the drain mode pays for handling
    # non-k=v logs. Warm untimed + best-of-3, full fit+apply each timed run:
    # best-of-2-including-compile recorded r4's false parse_sql regression
    # (official 6.04s vs 2.2-3.0s steady-state) — run 1 is codegen compile
    # and run 2 can land in a host noise spike.
    from openlogparse_spark.parse import parse_stage

    raw = spark.read.parquet(os.path.join(fx_dir, "transcripts.parquet"))
    for mode in ("sql", "drain"):
        def run_parse_once() -> float:
            t0 = time.time()
            parse_stage(raw, mode=mode).write.format("noop").mode("overwrite").save()
            return time.time() - t0

        run_parse_once()   # compile/JIT warmup, untimed
        best = min(run_parse_once() for _ in range(3))
        timings[f"parse_{mode}"] = round(best, 3)
        total += best

    # 2) representative operator queries on the driver tables — best of 2:
    # the first execution of a query compiles its codegen'd expression tree
    # (5-8s for the big higher-order-function plans); steady-state latency is
    # what a pipeline reusing the operator pays, so that is what we record.
    qs = entry_mod.queries()
    for name in BENCH_QUERIES:
        best = None
        for _ in range(2):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        total += best

    spark.stop()

    # 3) isolated lane: flagged operators re-run in fresh sessions (one
    # subprocess each). Not part of `value` — a second, unambiguous signal.
    isolated, isolated_errors = run_isolated(ISOLATED_QUERIES)

    out = {
        "metric": "pipeline e2e + operator suite wall time",
        "value": round(total, 2),
        "unit": "sec",
        "queries": timings,
        "isolated": isolated,
        "sf": sf,
        "turns": n_turns,
        "turns_per_sec": turns_per_sec,
        "streaming_turns_per_sec": streaming_tps,
        "cpus": int(CPUS),
    }
    if isolated_errors:
        out["isolated_errors"] = isolated_errors
    print(json.dumps(out))


if __name__ == "__main__":
    main()
