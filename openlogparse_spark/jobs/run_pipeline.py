"""spark-submit entry point for the batch pipeline.

Usage (local sandbox):
  spark-submit --py-files openlogparse_spark.zip \\
      openlogparse_spark/jobs/run_pipeline.py --config job.json

or plainly:
  python openlogparse_spark/jobs/run_pipeline.py \\
      --input data/transcripts/sf0.01/transcripts.parquet \\
      --dims data/transcripts/sf0.01 --output data/out --cpus 32

The JSON config mirrors the reference's pipeline config file
(/root/reference/src/OpenLogReplicator.cpp:141-168 readConfigFile →
run() validation): source, target(s), filters, parse mode — one pipeline per
config, resumable via the manifest. The HTTP control plane of the reference
(start/stop/update) maps to submitting/killing jobs with updated configs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# allow running as a plain file (spark-submit ships the package via --py-files)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", help="JSON config file (overrides other args)")
    ap.add_argument("--input", default="data/transcripts/sf0.01/transcripts.parquet")
    ap.add_argument("--dims", default="data/transcripts/sf0.01")
    ap.add_argument("--output", default="data/out")
    ap.add_argument("--parse-mode", default="sql", choices=["sql", "drain"])
    ap.add_argument("--salt-buckets", type=int, default=64)
    ap.add_argument("--cpus", default=None,
                    help="local[N]; omit under spark-submit (unused in an active session)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--input-filter", default=None,
                    help="scan-side SQL predicate (tenant/PDB filter analogue)")
    ap.add_argument("--suppress", default=None,
                    help="flush-side SQL predicate withheld from all real routes")
    ap.add_argument("--one-shot", action="store_true",
                    help="keep enriched as a cached plan (no staging table)")
    args = ap.parse_args(argv)

    cfgd = {}
    if args.config:
        with open(args.config) as f:
            cfgd = json.load(f)

    from pyspark.sql import SparkSession

    from openlogparse_spark.pipeline import PipelineConfig, run_pipeline
    from openlogparse_spark.route.router import footer_count
    from openlogparse_spark.session import get_spark

    # a caller's active session is reused as it is: its settings are not
    # re-applied, and only a session started here is stopped here
    spark = SparkSession.getActiveSession()
    own_session = spark is None
    if own_session:
        spark = get_spark("openlogparse_pipeline",
                          master=f"local[{args.cpus}]" if args.cpus else None)
    kw = dict(
        input_path=cfgd.get("input", args.input),
        dims_dir=cfgd.get("dims", args.dims),
        output_root=cfgd.get("output", args.output),
        parse_mode=cfgd.get("parse_mode", args.parse_mode),
        salt_buckets=int(cfgd.get("salt_buckets", args.salt_buckets)),
        input_filter=cfgd.get("input_filter", args.input_filter),
        suppress_condition=cfgd.get("suppress", args.suppress),
        materialize_enriched=not cfgd.get("one_shot", args.one_shot),
    )
    if args.run_id:
        kw["run_id"] = args.run_id
    t0 = time.time()
    res = run_pipeline(spark, PipelineConfig(**kw))
    wall = time.time() - t0
    n = footer_count(kw["input_path"])
    print(json.dumps({
        "run_id": res.run_id,
        "wall_sec": round(wall, 2),
        "turns": n,
        "turns_per_sec": round(n / wall, 1),
        "sink_counts": res.sink_counts,
        # round the float timings only: `route_reshuffle` is a bool
        "timings": {k: round(v, 2) if isinstance(v, float) else v
                    for k, v in res.timings.items()},
    }))
    if own_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
