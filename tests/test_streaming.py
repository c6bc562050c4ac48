"""Structured Streaming variant: stream-static enrich, watermarked hourly
counts, stateful conversation sessions — drained synchronously on fixtures."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from openlogparse_spark.parse import merge_row_pieces
from openlogparse_spark.parse.stage import mine_template_table
from openlogparse_spark.streaming import (
    stream_conversation_sessions,
    stream_hourly_counts,
    stream_parse_enrich,
)
from openlogparse_spark.streaming.jobs import stream_source

TMP = "data/tmp/test_stream"


@pytest.fixture(scope="module")
def stream_input(spark, fx_dir):
    """Split the fixture into several files so the stream sees >1 trigger."""
    shutil.rmtree(TMP, ignore_errors=True)
    src = os.path.join(TMP, "in")
    df = spark.read.parquet(os.path.join(fx_dir, "transcripts.parquet"))
    df.repartition(8).write.parquet(src)
    return src


@pytest.fixture(scope="module")
def templates(spark, fx_dir):
    batch = spark.read.parquet(os.path.join(fx_dir, "transcripts.parquet"))
    return mine_template_table(merge_row_pieces(batch))


def _drain(q):
    q.processAllAvailable()
    q.stop()


def test_stream_counts_match_batch(spark, stream_input, templates, fx_dir):
    dim_tools = spark.read.parquet(os.path.join(fx_dir, "dim_tools.parquet"))
    stream = stream_source(spark, stream_input)
    parsed = stream_parse_enrich(stream, templates, dim_tools)
    agg = stream_hourly_counts(parsed.filter("parse_ok"))
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("hourly").option("checkpointLocation", os.path.join(TMP, "ck1"))
         .start())
    _drain(q)
    # append mode only emits windows whose end <= final watermark
    # (max event time - 2h); compare the fully-emitted prefix against batch
    batch = spark.read.parquet(stream_input)
    b = stream_parse_enrich(batch, templates, dim_tools).filter("parse_ok")
    max_ts = b.agg(F.max(F.col("ts").cast("timestamp"))).first()[0]
    import datetime

    cutoff = (max_ts - datetime.timedelta(hours=3)).replace(
        minute=0, second=0, microsecond=0)
    got = spark.sql(
        "SELECT template_id, sum(n_turns) AS n FROM hourly "
        f"WHERE hour_bucket < timestamp'{cutoff}' GROUP BY template_id")
    exp = (b.withColumn("hb", F.date_trunc("hour", F.col("ts").cast("timestamp")))
           .filter(F.col("hb") < F.lit(cutoff))
           .groupBy("template_id").agg(F.count(F.lit(1)).alias("n")))
    diff = got.alias("g").join(exp.alias("e"), "template_id", "full") \
        .filter("g.n IS DISTINCT FROM e.n")
    assert got.count() > 0
    assert diff.count() == 0


def test_stream_dictionary_refresh_mid_stream(spark, fx_dir):
    """Per-micro-batch dictionary + route-table re-read: an update to
    dim_tools and to the route table between batches must be visible to
    post-update batches without a query restart (reference:
    SystemTransaction dictionary maintenance)."""
    import pandas as pd

    from openlogparse_spark.streaming.jobs import stream_routed_sink

    root = os.path.join(TMP, "refresh")
    shutil.rmtree(root, ignore_errors=True)
    src, dims, sinks = (os.path.join(root, d) for d in ("in", "dims", "sinks"))
    os.makedirs(src)

    # live dims dir (fixture dims are read-only inputs — copy then mutate)
    df_all = spark.read.parquet(os.path.join(fx_dir, "transcripts.parquet"))
    os.makedirs(dims)
    for name in ("dim_tools", "routes"):
        pd.read_parquet(os.path.join(fx_dir, f"{name}.parquet")).to_parquet(
            os.path.join(dims, f"{name}.parquet"))

    stream = (spark.readStream.schema(df_all.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    masked = stream.withColumn(
        "template", F.expr("array_join(transform(split(text, ' '), t -> "
                           "CASE WHEN instr(t, '=') > 0 THEN "
                           "concat(substring_index(t, '=', 1), '=<*>') "
                           "WHEN translate(t, '0123456789', '') != t THEN '<*>' "
                           "ELSE t END), ' ')"))
    from openlogparse_spark.manifest import Manifest

    man = Manifest(os.path.join(root, "manifest"))
    q = (masked.writeStream
         .foreachBatch(stream_routed_sink(dims, sinks, manifest=man))
         .option("checkpointLocation", os.path.join(root, "ck"))
         .start())

    def feed(tag):
        # file stream sources list flat files: stage the write, move parts in
        stage = os.path.join(root, f"stage_{tag}")
        df_all.limit(2000).coalesce(1).write.mode("overwrite").parquet(stage)
        for i, f in enumerate(sorted(os.listdir(stage))):
            if f.endswith(".parquet"):
                os.rename(os.path.join(stage, f), os.path.join(src, f"{tag}_{i}.parquet"))
        shutil.rmtree(stage)

    feed("f1")
    q.processAllAvailable()
    pre_batches = set(os.listdir(sinks))

    # dictionary update: every tool's category flips to 'UPDATED'
    dim_file = os.path.join(dims, "dim_tools.parquet")
    dt = pd.read_parquet(dim_file)
    dt["category"] = "UPDATED"
    dt.to_parquet(dim_file)
    # route-table update: the r_txn route is dropped
    rt = pd.read_parquet(os.path.join(dims, "routes.parquet"))
    rt[rt.route_id != "r_txn"].to_parquet(os.path.join(dims, "routes.parquet"))

    feed("f2")
    q.processAllAvailable()
    f2_batches = set(os.listdir(sinks)) - pre_batches

    # second rewrite of the now-cached dictionary, of the same byte size
    # ('UPDATED' -> 'RENEWED'): the sink's cache must still see it
    size = os.path.getsize(dim_file)
    dt["category"] = "RENEWED"
    dt.to_parquet(dim_file)
    assert os.path.getsize(dim_file) == size

    feed("f3")
    q.processAllAvailable()
    q.stop()
    f3_batches = set(os.listdir(sinks)) - pre_batches - f2_batches

    def routes_in(batch):
        return {d.split("=", 1)[1] for d in os.listdir(os.path.join(sinks, batch))
                if d.startswith("route_id=")}

    assert pre_batches and f2_batches and f3_batches
    # every batch gets the same 2000 rows: before the update r_txn takes
    # some of them, after it no batch routes to r_txn, the rest still route
    assert all("r_txn" in routes_in(b) for b in pre_batches)
    for b in f2_batches | f3_batches:
        assert "r_txn" not in routes_in(b) and routes_in(b), b

    def cats_in(batches):
        out = spark.read.option("basePath", sinks).parquet(
            *[os.path.join(sinks, b) for b in sorted(batches)])
        return {r["category"] for r in out.filter("tool IS NOT NULL")
                .select("category").distinct().collect()}

    pre_cats = cats_in(pre_batches)
    assert pre_cats and not pre_cats & {"UPDATED", "RENEWED"}
    assert cats_in(f2_batches) == {"UPDATED"}   # the new dict, next batch
    assert cats_in(f3_batches) == {"RENEWED"}   # ... and its same-size rewrite
    # streaming commits carry the same lineage trail as batch routing
    mrows = man.load()
    srows = mrows[mrows.stage == "stream_route"]
    assert len(srows) >= 2                      # one record per micro-batch
    assert (srows["rows"] > 0).all()
    assert srows["watermark"].notna().all()     # event-time progression
    # the watermark comes from parquet footer stats (zero extra Spark jobs);
    # it must equal the true max event time of the committed micro-batch
    row = srows.iloc[0]
    actual = spark.read.parquet(row["sink"]).agg(F.max("ts")).first()[0]
    assert pd.Timestamp(row["watermark"]) == pd.Timestamp(actual)


def _perfbench_static_sides(spark, templates, fx_dir):
    """The static sides as the benchmark harness passes them: a template
    table collected into `createDataFrame(rows)` and a parquet dims scan."""
    rows = spark.createDataFrame(templates.collect(), schema=templates.schema)
    return rows, spark.read.parquet(os.path.join(fx_dir, "dim_tools.parquet"))


def test_stream_static_sides_are_jvm_local(spark, stream_input, templates,
                                           fx_dir, capsys):
    """stream_parse_enrich pins its static sides as JVM-local relations: a
    micro-batch's optimized plan holds no LogicalRDD (the pickled PythonRDD
    behind `createDataFrame(rows)`, re-run in Python workers per batch)."""
    tmpl, dim_tools = _perfbench_static_sides(spark, templates, fx_dir)
    parsed = stream_parse_enrich(stream_source(spark, stream_input), tmpl, dim_tools)
    q = (parsed.writeStream.format("noop")
         .option("checkpointLocation", os.path.join(TMP, "ck_local"))
         .start())
    _drain(q)
    q.explain(extended=True)
    plans = capsys.readouterr().out
    optimized = plans[plans.index("== Optimized Logical Plan =="):
                      plans.index("== Physical Plan ==")]
    assert "LocalRelation" in optimized
    assert "LogicalRDD" not in optimized


# Spark jobs per non-empty routed-sink micro-batch: a template broadcast and
# a dims broadcast in stream_parse_enrich, the sink's dims broadcast and its
# write (5 while the sink scanned dim_tools.parquet with Spark every batch)
ROUTED_BATCH_JOB_BUDGET = 4


def test_stream_routed_sink_jobs_per_batch(spark, templates, fx_dir):
    """Fixed cost of a stream micro-batch: one file per trigger through
    stream_parse_enrich into stream_routed_sink runs at most
    ROUTED_BATCH_JOB_BUDGET Spark jobs per non-empty micro-batch."""
    from openlogparse_spark.streaming.jobs import stream_routed_sink

    root = os.path.join(TMP, "jobs")
    shutil.rmtree(root, ignore_errors=True)
    src, stage = os.path.join(root, "in"), os.path.join(root, "stage")
    os.makedirs(src)
    batch = spark.read.parquet(os.path.join(fx_dir, "transcripts.parquet"))
    batch.repartition(4).write.parquet(stage)
    tmpl, dim_tools = _perfbench_static_sides(spark, templates, fx_dir)
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    # the routed sink joins the refreshable dictionary itself
    routed_in = stream_parse_enrich(stream, tmpl, dim_tools).drop(
        "category", "risk", "side_effects")
    q = (routed_in.writeStream
         .foreachBatch(stream_routed_sink(fx_dir, os.path.join(root, "sinks")))
         .option("checkpointLocation", os.path.join(root, "ck"))
         .start())
    try:
        for f in sorted(os.listdir(stage)):
            if f.endswith(".parquet"):
                os.rename(os.path.join(stage, f), os.path.join(src, f))
                q.processAllAvailable()
    finally:
        q.stop()
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    assert n_batches >= 2
    assert n_jobs / n_batches <= ROUTED_BATCH_JOB_BUDGET, (n_jobs, n_batches)


def test_stream_sessions_close_and_timeout(spark, stream_input):
    stream = stream_source(spark, stream_input)
    sessions = stream_conversation_sessions(stream)
    q = (sessions.writeStream.outputMode("append").format("memory")
         .queryName("sessions").option("checkpointLocation", os.path.join(TMP, "ck2"))
         .start())
    _drain(q)
    out = spark.sql("SELECT * FROM sessions").toPandas()
    # conversations with a SESSION end marker close eagerly
    assert (out["closed_by"] == "close_marker").sum() > 0
    # quiet conversations time out in event time as the watermark advances
    assert (out["closed_by"] == "timeout").sum() > 0
    # counts are plausible: every emitted conv has >=1 turn, ts ordered
    assert (out["n_turns"] >= 1).all()
    assert (out["first_ts"] <= out["last_ts"]).all()
    # a conv re-opened after a mid-conversation close marker may emit twice,
    # but the same (conv, close reason) never repeats
    assert out.duplicated(["conv_id", "closed_by", "first_ts"]).sum() == 0
