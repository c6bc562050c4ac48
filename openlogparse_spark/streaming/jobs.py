"""Structured Streaming variant of the pipeline.

Reference parity (SURVEY.md §2.11): the reference is natively a streaming
system — online redo tailing (Replicator::processOnlineRedoLogs,
/root/reference/src/replicator/Replicator.cpp:826+), watermark = min open-txn
start offset (Parser.cpp:1477-1485), stateful TransactionBuffer keyed by xid,
late/orphaned data parked (Parser.cpp:614), resume from checkpoints.

Spark mapping:
  - tailing           → readStream on the input directory (new files = new log
                        segments; Trigger.AvailableNow for batch-drain tests)
  - LWN watermark     → withWatermark('ts', …)
  - hourly counters   → windowed aggregation, append mode after watermark
  - TransactionBuffer → applyInPandasWithState keyed by conv_id with a
                        processing-time timeout: a conversation's turns are
                        buffered in state and emitted as one summary when the
                        conversation goes quiet (commit-flush analogue)
  - delivery          → per-sink parquet + Spark's own streaming checkpoint
                        (exactly-once file sink)
  - in-memory dictionary → static sides pinned as JVM-local relations: the
                        template table and dims are collected once when the
                        query is built (`stream_parse_enrich`), and the routed
                        sink's refreshable `dim_tools` is `enrich.read_dim`'s
                        driver-side pyarrow read keyed on file mtime, so a
                        micro-batch runs no Python worker and no scan for them
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp_ntz"
)


def stream_source(spark: SparkSession, input_dir: str,
                  schema: str = TRANSCRIPT_SCHEMA,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """File stream over `input_dir`.

    `max_files_per_trigger=None` sizes the micro-batch from the files ALREADY
    in the directory: ~4 triggers to drain the backlog, floor 4 files. A
    constant (the old hard-coded 4) is tuned for one corpus size only — at
    sf1.0 (51 files) it forced 13 micro-batches, each paying planning + a
    state-store load/commit per shuffle partition + a checkpoint write
    (~1.7 s/batch of pure overhead, 60% of the drain wall). Keeping ~4
    triggers preserves multi-batch semantics (watermark advancement,
    event-time timers firing mid-drain) at every scale while batch size
    grows with the backlog."""
    if max_files_per_trigger is None:
        import os as _os

        try:
            n_files = sum(1 for f in _os.listdir(input_dir)
                          if f.endswith(".parquet"))
        except OSError:
            n_files = 0
        max_files_per_trigger = max(4, -(-n_files // 4))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def stream_parse_enrich(stream: DataFrame, templates: DataFrame,
                        dim_tools: DataFrame) -> DataFrame:
    """Template assignment + enrichment on a stream.

    The template table and dims are *static* broadcast sides (stream-static
    join — no state). A stream-static join re-plans its static side in
    every micro-batch, so both are collected here, once, eagerly, and
    pinned as JVM-local relations (`to_local_relation`): each micro-batch
    broadcasts them with JVM tasks only instead of re-running their plans
    (a `createDataFrame(rows)` side is a pickled `PythonRDD`, a parquet
    side a scan). Note: row-piece merge needs cross-row order within a
    conversation and is a batch-stage concern; streaming input is assumed
    pre-framed (one logical turn per row), matching the reference's online
    mode where LWN assembly happens upstream of the transaction layer.
    """
    from openlogparse_spark.parse.stage import _apply_templates_sql
    from openlogparse_spark.session import to_local_relation

    parsed = _apply_templates_sql(stream, to_local_relation(
        templates.select("template", "template_id", "op"))).withColumn(
        "parse_ok", F.col("template_id").isNotNull())
    return parsed.join(F.broadcast(to_local_relation(dim_tools)), "tool", "left")


def stream_hourly_counts(parsed: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked hourly per-template counts (append-mode capable).

    Late rows beyond the watermark are dropped and visible in
    numDroppedRows metrics — the reference's 'transaction with no beginning'
    skip-count analogue."""
    return (
        parsed.withColumn("ts_tz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_tz", watermark)
        .groupBy(F.window("ts_tz", "1 hour").alias("win"), "template_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(F.col("win.start").alias("hour_bucket"), "template_id", "n_turns")
    )


SESSION_OUTPUT_SCHEMA = (
    "conv_id string, n_turns long, n_tool_turns long, first_ts timestamp, "
    "last_ts timestamp, closed_by string"
)
SESSION_STATE_SCHEMA = "n_turns long, n_tool_turns long, first_ts timestamp, last_ts timestamp"


SESSION_GAP_MS = 30 * 60 * 1000  # conversation considered closed after 30 min idle


def _session_fn(key, pdfs, state: GroupState):
    """Conversation session state: buffer counters per conv_id; emit one
    summary row on a close marker or when the conversation goes quiet in
    EVENT time — the commit-flush / partial-transaction analogue.

    Event-time (not processing-time) timeouts: the timer is `last_ts + gap`
    clamped above the watermark, so results are a pure function of the data —
    reproducible across runs and cluster sizes — and an idle query schedules
    no busy-loop micro-batches (processing-time timers re-trigger forever,
    which also makes processAllAvailable() never return)."""
    conv_id = key[0]
    if state.hasTimedOut:
        n, nt, f, l = state.get
        state.remove()
        yield pd.DataFrame([{
            "conv_id": conv_id, "n_turns": n, "n_tool_turns": nt,
            "first_ts": f, "last_ts": l, "closed_by": "timeout",
        }])
        return
    n, nt, f, l = state.get if state.exists else (0, 0, None, None)
    saw_close = False
    for pdf in pdfs:
        n += len(pdf)
        nt += int(pdf["tool"].notna().sum())
        ts = pd.to_datetime(pdf["ts_tz"])
        f = min(ts.min(), f) if f is not None else ts.min()
        l = max(ts.max(), l) if l is not None else ts.max()
        saw_close = saw_close or pdf["text"].str.startswith("SESSION end").any()
    if saw_close:
        state.remove()
        yield pd.DataFrame([{
            "conv_id": conv_id, "n_turns": n, "n_tool_turns": nt,
            "first_ts": f, "last_ts": l, "closed_by": "close_marker",
        }])
    else:
        state.update((n, nt, f, l))
        due = int(pd.Timestamp(l).value // 10**6) + SESSION_GAP_MS
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(due, wm + 1))
        yield pd.DataFrame(columns=[
            "conv_id", "n_turns", "n_tool_turns", "first_ts", "last_ts", "closed_by"])


def stream_routed_sink(dims_dir: str, sinks_root: str,
                       manifest=None, run_id: str = "stream"):
    """Streaming enrich+route with per-micro-batch dictionary refresh and
    control-table re-read.

    Reference parity: the reference maintains its dictionary FROM the stream
    itself (SystemTransaction::processInsert/Update/Delete,
    /root/reference/src/builder/SystemTransaction.cpp:426,524,639) and reloads
    config checkpoints live (Checkpoint.cpp:62-279, HTTP control plane
    ReplicatorHttpServer.cpp:43-111). Spark mapping: a stream-static join
    resolves the static side ONCE at query start — so instead each
    foreachBatch reads `dim_tools.parquet` through `enrich.read_dim` (a
    driver-side pyarrow read cached under the file's path, mtime and size,
    joined as a JVM-local relation: an unchanged dictionary costs no Spark
    job) and re-reads the route table (`read_routes`, a driver-side pandas
    read, uncached); a dictionary or route-table update becomes visible to
    the NEXT micro-batch with no query restart.

    Returns a function for `writeStream.foreachBatch(...)`; the caller owns
    trigger/checkpoint (exactly-once via Spark's sink commit log + the
    idempotent per-batch overwrite into batch-scoped subdirs).
    """
    import os

    from openlogparse_spark.enrich import read_dim
    from openlogparse_spark.route.router import read_routes, route_tags

    dim_path = os.path.join(dims_dir, "dim_tools.parquet")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        dim_tools = read_dim(batch_df.sparkSession, dim_path)
        enriched = batch_df.join(F.broadcast(dim_tools), "tool", "left")
        routed = enriched.withColumn(
            "route_id", F.explode(route_tags(read_routes(dims_dir))))
        # batch-scoped subdir => re-processing a batch after a crash simply
        # overwrites the same dir (idempotent, the file-sink commit analogue)
        batch_dir = os.path.join(sinks_root, f"batch={batch_id}")
        (routed.write.mode("overwrite")
         .partitionBy("route_id")
         .parquet(batch_dir))
        if manifest is not None:
            # same lineage trail as the batch router: rows + event-time
            # watermark per committed micro-batch (confirmedScn progression).
            # Both come from the parquet FOOTERS of the files just written —
            # driver-side metadata reads, zero extra Spark jobs (the round-2
            # version re-scanned each micro-batch twice: a count job plus an
            # agg(max(ts)) job)
            from openlogparse_spark.route.router import _footer_counts

            counts, marks = _footer_counts(batch_dir)
            n = sum(counts.values())
            wm = max(marks.values()) if marks else None
            manifest.record(run_id, "stream_route", batch_dir, n, 0,
                            watermark=wm)

    return process_batch


def stream_conversation_sessions(stream: DataFrame,
                                 watermark: str = "10 minutes") -> DataFrame:
    """Stateful conversation tracking via applyInPandasWithState
    (event-time timeout; requires a watermark on the stream)."""
    return (
        stream.withColumn("ts_tz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_tz", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
