#!/usr/bin/env python
"""Run ONE queries() entry in a fresh session and print its timing.

Usage: python scripts/profile_query.py <query> [<query> ...] [--runs N]

Each named query runs in THE SAME fresh session, best-of-N (default 2,
first run doubles as codegen warmup), against $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. This is the isolated lane: no cache/AQE state
from 18 other suite queries bleeding in.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 2
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])

    import __spark_entry__ as entry_mod
    from openlogparse_spark.session import get_spark

    spark = get_spark("profile", master=f"local[{CPUS}]")
    qs = entry_mod.queries()
    out = {}
    # Untimed SESSION WARMUP with a query that is NOT the one measured:
    # measured (11 probe sessions, BENCH/NOTES "Round-5 simhash root
    # cause"): a fresh session whose FIRST query is simhash_near_pairs can get
    # stuck at ~10-12 s on every run during some host phases (best-of-3
    # never recovers), while any session that ran jaccard_pairs first stays
    # at steady state (~3 s) — including inside the same hostile window.
    # This lane claims to measure steady-state operator cost, so shared
    # session infrastructure (scan/shuffle/codegen JIT) is warmed first and
    # the warm time is reported, not hidden.
    import time as _t

    _w0 = _t.time()
    qs["jaccard_pairs"](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    out["_session_warm_jaccard"] = {"best": round(_t.time() - _w0, 3)}
    for name in args:
        best, all_runs = None, []
        for _ in range(runs):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            all_runs.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        out[name] = {"best": round(best, 3), "runs": all_runs}
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
