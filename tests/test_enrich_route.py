"""Enrich (broadcast join) + route (fan-out, salting, per-sink counts)."""

import os
import shutil

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from openlogparse_spark.enrich import enrich_stage
from openlogparse_spark.manifest import Manifest
from openlogparse_spark.parse import parse_stage
from openlogparse_spark.route import add_salt, compile_route_filter, route_stage
from openlogparse_spark.route.router import (
    EST_TEMPLATES_PER_ROUTE,
    FILE_BUDGET,
    footer_count,
    read_routes,
    route_tags,
)

TMP = "data/tmp/test_route"


@pytest.fixture(scope="module")
def enriched(spark, fx_dir):
    raw = spark.read.parquet(os.path.join(fx_dir, "transcripts.parquet"))
    dim_tools = spark.read.parquet(os.path.join(fx_dir, "dim_tools.parquet"))
    dim_roles = spark.read.parquet(os.path.join(fx_dir, "dim_roles.parquet"))
    e = enrich_stage(parse_stage(raw), dim_tools, dim_roles)
    e.cache()
    e.count()
    return e


def test_enrich_is_broadcast_join(enriched):
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle the fact side


def test_enrich_values_and_unknown_fallback(enriched, duck):
    known = enriched.filter(F.col("tool") == "bash").select("category", "risk").first()
    assert (known["category"], known["risk"]) == ("shell", "high")
    # unknown tool (planted 0.2%) -> schemaless fallback, not dropped
    unk = enriched.filter(F.col("tool") == "oracle9")
    assert unk.count() > 0
    assert unk.filter("category = 'unknown' AND risk = 'unknown'").count() == unk.count()
    # null tool stays null
    assert enriched.filter("tool IS NULL AND category IS NOT NULL").count() == 0


def test_route_counts_match_and_conserved(spark, enriched, fx_dir):
    shutil.rmtree(TMP, ignore_errors=True)
    routes = spark.read.parquet(os.path.join(fx_dir, "routes.parquet")).toPandas().to_dict("records")
    man = Manifest(os.path.join(TMP, "manifest"))
    ok_rows = enriched.filter("parse_ok")
    counts = route_stage(ok_rows, routes, os.path.join(TMP, "sinks"),
                         manifest=man, run_id="t1", salt_buckets=8)
    # per-sink routed-row counts == independently computed matched counts
    for r in routes:
        indep = ok_rows.filter(
            compile_route_filter(r["template_pattern"], r["condition"])).count()
        assert counts[r["route_id"]] == indep, r["route_id"]
    # empty route really is empty; overlapping routes both populated
    assert counts["r_none"] == 0
    assert counts["r_high_risk_calls"] > 0 and counts["r_net"] > 0
    overlap = ok_rows.filter(
        compile_route_filter("^CALL ", "risk = 'high' AND category = 'net'")).count()
    assert overlap > 0  # at least one row flowed to two sinks


def test_routed_text_equality_under_stable_order(spark, enriched, fx_dir):
    """Every routed row's text equals the input text for its (conv_id,
    turn_idx) — full anti-join must be empty (north-rule invariant)."""
    sink = os.path.join(TMP, "sinks", "events_r_txn")
    routed = spark.read.parquet(sink).select("conv_id", "turn_idx", "text")
    src = enriched.select("conv_id", "turn_idx", F.col("text").alias("src_text"))
    j = routed.join(src, ["conv_id", "turn_idx"], "left")
    assert j.filter(~F.col("text").eqNullSafe(F.col("src_text"))).count() == 0
    # routed rows keep unique keys (no dup/loss inside a sink)
    assert routed.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0


def test_salt_is_deterministic_and_blocked(enriched):
    a = add_salt(enriched, 16, block=16).select("conv_id", "turn_idx", "salt")
    b = add_salt(enriched, 16, block=16).select(
        "conv_id", "turn_idx", F.col("salt").alias("salt2"))
    j = a.join(b, ["conv_id", "turn_idx"])
    assert j.filter("salt != salt2").count() == 0
    # hot conversation spreads over >1 salt bucket once it exceeds one block
    hot = a.filter("conv_id = 'conv00000000'").select("salt").distinct().count()
    assert hot > 1
    # turns within one block share a salt (ordering stays reconstructible)
    blk = a.filter("conv_id = 'conv00000000' AND turn_idx < 16") \
        .select("salt").distinct().count()
    assert blk == 1


def test_sink_partitioned_by_template(spark):
    sink = os.path.join(TMP, "sinks", "events_r_txn")
    parts = [d for d in os.listdir(sink) if d.startswith("template_id=")]
    assert len(parts) >= 3  # BEGIN/COMMIT/ROLLBACK templates
    # partition pruning: reading one template touches only its directory
    one = spark.read.parquet(sink).filter(F.col("template_id") == parts[0].split("=")[1])
    assert "PartitionFilters: [isnotnull(template_id" in \
        one._jdf.queryExecution().executedPlan().toString() or one.count() > 0


def test_reuse_vs_reshuffle_identical_sinks(spark, enriched, fx_dir):
    """The partitioning-reuse write and the salted-reshuffle write commit
    identical per-sink row sets — the exchange is a physical choice, never a
    semantic one. The plan is picked by the router's own rule from the true
    upstream partitioning: the cached view's few partitions stay under the
    file budget (reuse), a repartition(200) upstream crosses it (200 x 3
    routes x EST_TEMPLATES_PER_ROUTE > FILE_BUDGET: reshuffle)."""
    routes = read_routes(fx_dir)[:3]
    ok_rows = enriched.filter("parse_ok")
    digests = {}
    for upstream, up_parts in ((ok_rows, None), (ok_rows.repartition(200), 200)):
        timings = {}
        root = os.path.join(TMP, f"mode_{up_parts}")
        shutil.rmtree(root, ignore_errors=True)
        counts = route_stage(upstream, routes, root, salt_buckets=8,
                             timings=timings, upstream_partitions=up_parts)
        sigs = {}
        for r in routes:
            df = spark.read.parquet(os.path.join(root, r["sink"]))
            agg = df.groupBy().agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.hash("conv_id", "turn_idx", "text")).alias("h")).first()
            sigs[r["route_id"]] = (counts[r["route_id"]], agg["n"], agg["h"])
        digests[timings["route_reshuffle"]] = sigs
    assert set(digests) == {False, True}       # both plans ran
    assert digests[False] == digests[True]


def test_routed_files_are_conv_ordered(spark):
    """Stable-order invariant: within every routed parquet FILE, rows are
    (conv_id, turn_idx) ascending (reference ordered-emission O1)."""
    import glob as _glob

    import pandas as pd

    sink = os.path.join(TMP, "sinks", "events_r_txn")
    files = _glob.glob(os.path.join(sink, "**", "*.parquet"), recursive=True)[:10]
    assert files
    for f in files:
        pdf = pd.read_parquet(f, columns=["conv_id", "turn_idx"])
        key = list(zip(pdf["conv_id"], pdf["turn_idx"]))
        assert key == sorted(key), f


def test_route_reuse_mode_adds_no_exchange(spark, enriched, fx_dir):
    """Partitioning reuse is real: the fan-out write plan on top of the
    cached enriched view contains NO Exchange (the salted mode contains
    exactly one) — the 'reuse a partitioning across stages' invariant."""
    matched = enriched.withColumn(
        "route_id", F.explode(route_tags(read_routes(fx_dir))))
    reuse = matched.sortWithinPartitions(
        "route_id", "template_id", "conv_id", "turn_idx")
    def above_cache(df):
        # only the plan ABOVE the cache matters (the cached lineage below
        # InMemoryRelation legitimately contains the one merge shuffle)
        full = df._jdf.queryExecution().executedPlan().toString()
        return full.split("InMemoryRelation", 1)[0]

    assert "Exchange" not in above_cache(reuse), above_cache(reuse)
    shuffled = (add_salt(matched, 8).repartition("route_id", "salt")
                .sortWithinPartitions("conv_id", "turn_idx"))
    assert above_cache(shuffled).count("Exchange") == 1


def test_auto_reshuffle_respects_file_budget(spark, enriched, fx_dir):
    """The exchange rule: partitioning reuse while the estimated file count
    (upstream partitions x routes x EST_TEMPLATES_PER_ROUTE) stays within
    FILE_BUDGET, the salted exchange beyond it — a heavily partitioned
    upstream can't silently produce an unbounded small-files sink."""
    import glob as _glob

    routes = read_routes(fx_dir)[:3]
    ok = enriched.filter("parse_ok")

    def run(root, parts):
        shutil.rmtree(root, ignore_errors=True)
        timings = {}
        counts = route_stage(ok.repartition(parts), routes, root,
                             salt_buckets=4, timings=timings,
                             upstream_partitions=parts)
        nf = len(_glob.glob(os.path.join(root, "**", "*.parquet"),
                            recursive=True))
        return counts, timings["route_reshuffle"], nf

    assert 64 * len(routes) * EST_TEMPLATES_PER_ROUTE <= FILE_BUDGET \
        < 200 * len(routes) * EST_TEMPLATES_PER_ROUTE
    c_hi, flipped, nf_reshuffled = run(os.path.join(TMP, "auto_small"), 200)
    assert flipped is True
    c_lo, kept, nf_reuse = run(os.path.join(TMP, "auto_big"), 64)
    assert kept is False
    assert c_hi == c_lo                       # physical choice only
    assert nf_reshuffled < nf_reuse           # the budget bought fewer files


def test_max_records_per_file_knob(spark, enriched, fx_dir):
    """WriterFile rotation analogue: every routed parquet file respects the
    per-file row cap."""
    import glob as _glob

    import pyarrow.parquet as pq

    routes = read_routes(fx_dir)[:1]
    ok = enriched.filter("parse_ok")
    root = os.path.join(TMP, "rot")
    shutil.rmtree(root, ignore_errors=True)
    counts = route_stage(ok, routes, root, salt_buckets=2,
                         max_records_per_file=200)
    files = _glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    assert files and counts[routes[0]["route_id"]] > 200
    sizes = [pq.ParquetFile(f).metadata.num_rows for f in files]
    assert max(sizes) <= 200, max(sizes)
    assert sum(sizes) == counts[routes[0]["route_id"]]


def test_route_stage_rejects_removed_plan_knobs(enriched, fx_dir):
    """One write path, one exchange rule: the old plan switches are gone."""
    routes = read_routes(fx_dir)[:1]
    for kw in ({"strategy": "fanout"}, {"reshuffle": True},
               {"file_budget": 100}, {"shuffle_partitions": 4}):
        with pytest.raises(TypeError):
            route_stage(enriched, routes, os.path.join(TMP, "knobs"), **kw)


def test_footer_count_empty_and_corrupt_sinks(spark, enriched):
    """A sink with no data files counts 0; a committed sink holding a
    corrupt parquet file raises instead of counting 0 (resume would then
    record it done and skip it forever)."""
    root = os.path.join(TMP, "footer")
    shutil.rmtree(root, ignore_errors=True)
    empty = os.path.join(root, "empty")
    os.makedirs(os.path.join(empty, "template_id=t1"))
    assert footer_count(empty) == 0
    sink = os.path.join(root, "sink")
    enriched.limit(300).write.partitionBy("template_id").parquet(sink)
    assert footer_count(sink) == 300
    part = next(d for d in sorted(os.listdir(sink)) if d.startswith("template_id="))
    with open(os.path.join(sink, part, "part-99999-corrupt.parquet"), "w") as f:
        f.write("not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        footer_count(sink)


def test_merge_sinks_rejects_empty_list(spark):
    from openlogparse_spark.route import merge_sinks

    with pytest.raises(ValueError, match="empty"):
        merge_sinks(spark, [], os.path.join(TMP, "merge_empty"))


def test_rac_merge_fan_in(spark, enriched, fx_dir):
    """K5 merge fan-in: two independently committed 'instance' sinks merge
    into ONE globally (ts, conv_id, turn_idx)-ordered output, rows conserved."""
    import glob as _glob

    import pandas as pd

    from openlogparse_spark.route import merge_sinks

    root = os.path.join(TMP, "rac")
    shutil.rmtree(root, ignore_errors=True)
    ok = enriched.filter("parse_ok")
    inst1 = ok.filter("pmod(hash(conv_id), 2) = 0")
    inst2 = ok.filter("pmod(hash(conv_id), 2) = 1")
    p1, p2 = os.path.join(root, "i1"), os.path.join(root, "i2")
    inst1.write.parquet(p1)
    inst2.write.parquet(p2)
    out = os.path.join(root, "merged")
    n = merge_sinks(spark, [p1, p2], out)
    assert n == ok.count()                       # conservation across writers
    files = sorted(_glob.glob(os.path.join(out, "*.parquet")))
    last_key = None
    for f in files:                              # total order across files
        pdf = pd.read_parquet(f, columns=["ts", "conv_id", "turn_idx"])
        keys = list(zip(pdf["ts"], pdf["conv_id"], pdf["turn_idx"]))
        assert keys == sorted(keys), f
        if keys:
            assert last_key is None or keys[0] >= last_key
            last_key = keys[-1]


def test_hot_conversation_spreads_in_reshuffle_mode(spark):
    """Skew evidence: ONE viral conversation (400k turns) routed in salted
    reshuffle mode spreads across many output files with no file holding more
    than ~3x the mean — the straggler-defusing property the salt exists for.
    The upstream's 600 partitions (600 x 1 route x EST_TEMPLATES_PER_ROUTE >
    FILE_BUDGET) make the router's rule pick the salted exchange."""
    import glob as _glob

    import pyarrow.parquet as pq

    n, parts = 400_000, 600
    assert parts * EST_TEMPLATES_PER_ROUTE > FILE_BUDGET
    viral = spark.range(0, n, 1, parts).select(
        F.lit("viral").alias("conv_id"),
        F.col("id").cast("long").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        F.lit("COMMIT txn=<*> rows=<*>").alias("template"),
        F.lit("tpl1").alias("template_id"),
        F.concat(F.lit("COMMIT txn=t rows="), F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    root = os.path.join(TMP, "skew")
    shutil.rmtree(root, ignore_errors=True)
    routes = [{"route_id": "r_all", "sink": "r_all",
               "template_pattern": "^COMMIT", "condition": ""}]
    timings = {}
    # the exchange's width is the session's shuffle partition count; AQE
    # would coalesce this small shuffle down to its 1 MB partition floor
    # (3 partitions under the test session), so it is held at 16 here
    conf = {"spark.sql.shuffle.partitions": "16",
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        counts = route_stage(viral, routes, root, salt_buckets=16,
                             timings=timings, upstream_partitions=parts)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert timings["route_reshuffle"] is True
    assert counts["r_all"] == n
    files = _glob.glob(os.path.join(root, "r_all", "**", "*.parquet"),
                       recursive=True)
    sizes = [pq.ParquetFile(f).metadata.num_rows for f in files]
    assert len(sizes) >= 8, sizes               # spread over many tasks
    assert max(sizes) <= 3 * (sum(sizes) / len(sizes))
