"""Route stage: the one owner of routing and of sink row counts.

One scan tags every row with the ids of the routes it matches, and one
partitioned write lands every parquet sink; the exchange under that write is
picked by one cost rule (see `route_stage`). Row counts of every committed
sink — routes, the staged `enriched` table, aggregates, merged outputs — come
from parquet footers (`footer_count`), never from a Spark job.

Reference parity:
  - table filter (owner/table regex dropping rows at parse time):
    reference src/OpenLogReplicator.cpp:775-826 and
    src/parser/Parser.cpp:666-674 → here a regex over the mined template
    string, pushed into the scan of the staged `enriched` table;
  - row condition DSL (==/!=/&&/||/! over op + session attributes, evaluated
    per row pre-emit): reference src/common/expression/Expression.cpp:27-279,
    DbTable::matchesCondition src/common/DbTable.cpp:145-154 → here the
    condition is a **Spark SQL boolean expression**; Catalyst is the
    evaluation engine (constant-folded, codegen'd, pushed down);
  - fan-out sinks with per-sink counters and confirm watermarks:
    src/writer/Writer*.cpp, Metrics.h; counts taken from what was committed
    and recorded in the manifest replace the confirmedScn/idx protocol
    (atomic rename commit = snapshot commit);
  - tag/routing key (per-table `tag` config used as partition key):
    src/metadata/SchemaElement.h:63-82 → `route_id` + salt become the
    repartition key when the write takes the exchange.

Skew handling (reference has none — single host; SURVEY.md §4): one viral
conversation can dominate a sink write. We salt deterministically by
`(conv_id, turn_idx div block)` so each hot conversation spreads over many
tasks while per-turn ordering stays reconstructible within a block — never a
random salt (breaks resume determinism).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import pandas as pd

from openlogparse_spark.manifest import Manifest, atomic_overwrite, _dir_bytes
from openlogparse_spark.route.committer import DEFAULT_COMMITTER

SALT_BLOCK_TURNS = 256   # turns per salt block within one conversation
DEFAULT_SALT_BUCKETS = 64
# exchange rule: the partitioning-reuse write makes ~upstream_partitions x
# live (route,template) files; live templates per route aren't knowable
# without a scan, so the estimate uses this heuristic (the fixture domain
# averages ~5; 8 errs toward reshuffling early). Above FILE_BUDGET estimated
# files the write takes the salted exchange instead.
EST_TEMPLATES_PER_ROUTE = 8
FILE_BUDGET = 4096


def read_routes(dims_dir: str) -> list[dict]:
    """The route table (`routes.parquet` under `dims_dir`) as one dict per
    route. A driver-side pandas read — no Spark job — and never cached, so
    an edited table is seen by the next caller (the next micro-batch of a
    stream)."""
    return pd.read_parquet(os.path.join(dims_dir, "routes.parquet")).to_dict("records")


def _footers(files: list[str], ts_col: str | None = "ts"
             ) -> list[tuple[int, object]]:
    """(rows, max `ts_col` value) per parquet file, from its footer alone —
    driver-side metadata reads (~0.3 ms/file), threaded. The max comes from
    row-group column statistics, so the per-sink event-time watermark
    (reference confirmedScn progression) costs zero data reads. A file whose
    footer cannot be read raises."""
    import pyarrow.parquet as pq

    def one(f: str):
        md = pq.ParquetFile(f).metadata
        wm = None
        if ts_col in md.schema.names:
            ci = md.schema.names.index(ts_col)
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                if st is not None and st.has_min_max:
                    wm = st.max if wm is None else max(wm, st.max)
        return md.num_rows, wm

    if not files:
        return []
    with ThreadPoolExecutor(max_workers=min(16, len(files))) as pool:
        return list(pool.map(one, files))


def footer_count(path: str) -> int:
    """Row count of a committed parquet table (a file or a directory tree)
    from its file footers — no Spark job.

    Only the no-data-files case maps to 0 (an empty sink). A data file that
    fails to read is a real error and propagates, so the stage re-runs
    instead of being recorded done with rows=0 (resume would then skip a
    corrupt sink forever)."""
    files = ([path] if os.path.isfile(path) else
             glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return sum(n for n, _wm in _footers(files, ts_col=None))


def add_salt(df: DataFrame, buckets: int = DEFAULT_SALT_BUCKETS,
             block: int = SALT_BLOCK_TURNS) -> DataFrame:
    """Deterministic skew salt: hash(conv_id, turn_idx // block) % buckets."""
    return df.withColumn(
        "salt",
        F.pmod(F.hash("conv_id", F.floor(F.col("turn_idx") / block)), F.lit(buckets)),
    )


_PREFIX_ALT = re.compile(r"^\^\(([A-Za-z |]+)\)([A-Za-z ]*)$|^\^([A-Za-z ]+)$")


def _pattern_expr(template_pattern: str):
    """Template-pattern predicate, de-regexed where possible.

    Route patterns are overwhelmingly anchored prefix alternations
    ("^CALL ", "^(ERROR|WARN) ") — exactly expressible as startsWith ORs.
    java.util.regex is a measured scaling bottleneck on this box (saturates
    ~4 threads/JVM; see MASK_SQL_EXPR note), while startsWith is a codegen'd
    byte compare; ".*" and "" mean match-anything. Anything else falls back
    to rlike unchanged."""
    if not template_pattern or template_pattern == ".*":
        return F.lit(True)
    m = _PREFIX_ALT.match(template_pattern)
    if m:
        if m.group(3) is not None:
            prefixes = [m.group(3)]
        else:
            prefixes = [alt + m.group(2) for alt in m.group(1).split("|")]
        pred = F.col("template").startswith(prefixes[0])
        for p in prefixes[1:]:
            pred = pred | F.col("template").startswith(p)
        return pred
    return F.col("template").rlike(template_pattern)


def compile_route_filter(template_pattern: str, condition: str):
    """Route predicate as Catalyst expressions (template prefix-match/regex +
    SQL condition).

    An empty/None pattern means "any row" (null-safe — used by pseudo-routes
    like the quarantine fan-out leg, where template may be anything)."""
    cond = F.expr(condition if condition and condition.strip() else "true")
    if not template_pattern:
        return cond
    return _pattern_expr(template_pattern) & cond


def route_tags(routes: list[dict]):
    """Array column of the ids of every route a row matches (one Catalyst
    expression per route); explode it to fan a row out to all its routes."""
    tags = F.array(*[
        F.when(compile_route_filter(r["template_pattern"], r["condition"]),
               F.lit(r["route_id"]))
        for r in routes
    ])
    return F.filter(tags, lambda x: x.isNotNull())


def route_stage(
    enriched: DataFrame,
    routes: list[dict],
    sinks_root: str,
    manifest: Manifest | None = None,
    run_id: str = "run0",
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    *,
    committer=None,
    timings: dict | None = None,
    max_records_per_file: int | None = None,
    upstream_partitions: int | None = None,
) -> dict[str, int]:
    """Fan out `enriched` to one sink per route; returns {route_id: rows}.

    ONE scan computes every route's match set (array of matching route ids
    → explode) and ONE write lands partitionBy(route_id, template_id); each
    route_id=… directory is then atomically moved into place as that
    route's sink — byte-layout identical to per-sink writes, at 1/N_routes
    the scan cost. (The reference writes each message once into one writer
    per pipeline; this is the multi-sink generalization.) Non-parquet routes
    (`format` json/kafka) get their own writer each.

    The exchange is chosen by one cost rule: the write REUSES the upstream
    conv-clustered partitioning (zero extra exchanges) while the estimated
    file count — upstream partitions x routes x EST_TEMPLATES_PER_ROUTE —
    stays within FILE_BUDGET; beyond it a salted repartition bounds the file
    count and spreads hot conversations, so a caller with a 10k-task
    upstream can't silently produce millions of small files.
    `upstream_partitions`: callers that KNOW their plan's final-stage
    partition count (the pipeline does) pass it so the rule decides on the
    real number instead of a conservative estimate.

    `max_records_per_file` caps rows per output file on every parquet sink
    (the reference WriterFile max-file-size / rotation-mode analogue,
    src/writer/WriterFile.cpp:59-197) — Spark splits a task's output into
    multiple files at the cap.

    Rows are sorted per partition [stable-order invariant: (conv_id,
    turn_idx) ascending within every file] → atomic commit per sink;
    per-sink counts come from parquet footers (metadata-only); sinks the
    manifest records done are skipped (resume), so re-running a subset of
    sinks works.
    """
    committer = committer or DEFAULT_COMMITTER
    done = manifest.done("route") if manifest else set()
    recorded = manifest.counts_by_sink() if done else {}
    counts: dict[str, int] = {}
    t0 = time.time()

    todo, special = [], []
    for r in routes:
        sink_path = os.path.join(sinks_root, r["sink"])
        if sink_path in done:
            counts[r["route_id"]] = recorded.get(("route", sink_path), 0)
        elif r.get("format", "parquet") != "parquet":
            special.append(r)   # json/kafka sinks: own writer per route
        else:
            todo.append(r)
    for r in special:
        counts[r["route_id"]] = _route_special_format(
            enriched, r, sinks_root, manifest, run_id, committer, t0)
    if not todo:
        return counts

    # one expression per route; a row fans out to every matching route
    matched = enriched.withColumn("route_id", F.explode(route_tags(todo)))
    # partitioning reuse writes ~upstream_partitions x live (route,template)
    # files; beyond the budget that's a small-files problem, so flip to the
    # explicit exchange automatically.
    # Upstream partitions are ESTIMATED, never probed via .rdd — with
    # AQE enabled, DataFrame.rdd materializes the adaptive plan, i.e.
    # EXECUTES the upstream shuffle stages (measured 52s on the sf2.0
    # pipeline plan — it silently re-ran parse+mining). The estimate is
    # a conservative upper bound: final-stage partitioning is the
    # shuffle-partition count for shuffled plans, ~input file splits for
    # scan-only plans; max() of both over-counts shuffled many-file
    # plans, which errs toward reshuffling (bounded files, one extra
    # exchange) — the safe direction.
    up = upstream_partitions
    if up is None:
        sess = enriched.sparkSession
        try:
            n_files = len(enriched.inputFiles())
        except Exception:
            n_files = 0
        up = max(int(sess.conf.get("spark.sql.shuffle.partitions")),
                 sess.sparkContext.defaultParallelism, n_files)
    reshuffle = up * len(todo) * EST_TEMPLATES_PER_ROUTE > FILE_BUDGET
    if timings is not None:
        timings["route_reshuffle"] = reshuffle
    if reshuffle:
        # explicit exchange: clusters each sink's rows into few partitions
        # (files ~ salt_buckets x templates, independent of upstream task
        # count) and salts hot conversations across tasks
        ready = (add_salt(matched, salt_buckets)
                 .repartition("route_id", "salt")
                 .sortWithinPartitions("conv_id", "turn_idx").drop("salt"))
    else:
        # partitioning REUSE: the enriched view arrives clustered by conv_id
        # from the merge-window shuffle — fan-out + write need no second
        # full-data exchange (a partitioning reused across stages).
        # Rows are locally sorted so each (route, template) run is
        # contiguous and conv-ordered within its file
        ready = matched.sortWithinPartitions(
            "route_id", "template_id", "conv_id", "turn_idx")

    staging = os.path.join(sinks_root, ".__routed_tmp__")
    if os.path.exists(staging):
        shutil.rmtree(staging)
    os.makedirs(sinks_root, exist_ok=True)
    w = ready.write.mode("overwrite").partitionBy("route_id", "template_id")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(staging)
    t_write = time.time()

    # per-sink row counts straight from parquet footers on the driver —
    # metadata-only, threaded; replaces a full Spark job over the staging
    # dir (which re-lists and re-plans thousands of files)
    staged_counts, staged_marks = _footer_counts(staging)
    t_count = time.time()

    # per-sink commits + manifest records are independent → run them off the
    # serial tail (driver-side os.walk byte sums dominate otherwise)
    def _commit_one(r: dict) -> tuple[str, int]:
        sink_path = os.path.join(sinks_root, r["sink"])
        part_dir = os.path.join(staging, f"route_id={r['route_id']}")
        if os.path.exists(part_dir):
            committer.commit(part_dir, sink_path)   # snapshot commit per sink
        else:
            if os.path.exists(sink_path):
                shutil.rmtree(sink_path)
            os.makedirs(sink_path)                  # route matched nothing
        rows = int(staged_counts.get(r["route_id"], 0))
        if manifest:
            manifest.record(run_id, "route", sink_path, rows,
                            _dir_bytes(sink_path), started=t0,
                            watermark=staged_marks.get(r["route_id"]))
        return r["route_id"], rows

    with ThreadPoolExecutor(max_workers=min(8, len(todo))) as pool:
        for route_id, rows in pool.map(_commit_one, todo):
            counts[route_id] = rows
    shutil.rmtree(staging, ignore_errors=True)
    if timings is not None:
        now = time.time()
        timings["route_write"] = round(t_write - t0, 3)
        timings["route_count"] = round(t_count - t_write, 3)
        timings["route_commit"] = round(now - t_count, 3)
    return counts


def _route_special_format(enriched: DataFrame, r: dict, sinks_root: str,
                          manifest: Manifest | None, run_id: str,
                          committer, t0: float) -> int:
    """Non-parquet route sinks (config-selected, reference Writer* family):

      format='json'  — one JSON message per line (BuilderJson shape, see
                       functions/serialize.py), committed like any sink;
      format='kafka' — kafka_frame (key,value[,topic]) rows; with
                       r['kafka_servers'] set they go straight to
                       `df.write.format("kafka")` (WriterKafka.cpp:86-142);
                       without a broker (this sandbox) the frame is staged as
                       parquet so the contract stays testable end-to-end.
    """
    from openlogparse_spark.functions.serialize import kafka_frame, to_message_json

    spark = enriched.sparkSession
    sink_path = os.path.join(sinks_root, r["sink"])
    matched = enriched.filter(
        compile_route_filter(r.get("template_pattern", ""), r.get("condition", "")))
    fmt = r["format"]
    tag_cols = tuple(r["tag_cols"]) if r.get("tag_cols") is not None and len(r["tag_cols"]) else ("conv_id",)
    if fmt == "json":
        out = (to_message_json(matched, include_text=r.get("include_text", True))
               .select("value")
               .sortWithinPartitions("value"))  # deterministic file contents
        tmp = sink_path + ".__tmp__"
        committer.sweep(sink_path)
        out.write.mode("overwrite").text(tmp)
        committer.commit(tmp, sink_path)
        rows = spark.read.text(sink_path).count()
    elif fmt == "kafka":
        # the route's tag projection IS the message key (reference: per-table
        # `tag` config becomes the Kafka routing key, SchemaElement.h:63-82)
        frame = kafka_frame(matched, key_cols=tuple(r.get("key_cols", tag_cols)),
                            topic=r.get("topic"))
        if r.get("kafka_servers"):
            # 'kafka_format' is a contract-test seam: the name 'kafka' is
            # reserved by Spark even without the kafka jar, so the
            # broker-less test registers a Python Data Source under another
            # name and drives THIS exact branch (options, frame, save)
            (frame.write.format(r.get("kafka_format", "kafka"))
             .mode("append")   # a topic is append-only by nature
             .option("kafka.bootstrap.servers", r["kafka_servers"])
             .option("topic", r.get("topic", r["route_id"])).save())
            rows = -1  # broker-side; no readable sink dir to count
        else:
            tmp = sink_path + ".__tmp__"
            committer.sweep(sink_path)
            frame.write.mode("overwrite").parquet(tmp)
            committer.commit(tmp, sink_path)
            rows = footer_count(sink_path)
    else:
        raise ValueError(f"unknown route format {fmt!r} for {r['route_id']}")
    if manifest:
        manifest.record(run_id, "route", sink_path, rows,
                        _dir_bytes(sink_path) if rows >= 0 else 0, started=t0)
    return rows


def merge_sinks(spark, sink_paths: list[str], out_path: str,
                order_cols: tuple[str, ...] = ("ts", "conv_id", "turn_idx"),
                committer=None) -> int:
    """RAC merge fan-in (reference: RacMergeWriterFile merges per-instance
    writer outputs into one globally ordered stream by scn,
    /root/reference/src/writer/RacMergeWriterFile.cpp): union N independently
    committed sinks and emit ONE output in global (ts, conv_id, turn_idx)
    order — a range-partitioned sort, so every output file holds a
    contiguous, internally sorted key range (total order across files by
    file order). Returns rows merged."""
    if not sink_paths:
        raise ValueError("merge_sinks: the sink list is empty")
    dfs = [spark.read.parquet(p) for p in sink_paths]
    merged = dfs[0]
    for d in dfs[1:]:
        merged = merged.unionByName(d, allowMissingColumns=True)
    ordered = merged.orderBy(*order_cols)
    atomic_overwrite(ordered, out_path, committer=committer)
    return footer_count(out_path)


def _footer_counts(staging: str) -> tuple[dict[str, int], dict[str, object]]:
    """({route_id: rows}, {route_id: max event ts}) from the parquet footers
    under staging/route_id=*/ (see `_footers`)."""
    files = glob.glob(os.path.join(staging, "route_id=*", "**", "*.parquet"),
                      recursive=True)
    counts: dict[str, int] = {}
    marks: dict[str, object] = {}
    for f, (n, wm) in zip(files, _footers(files)):
        rid = next(p.split("=", 1)[1] for p in f.split(os.sep)
                   if p.startswith("route_id="))
        counts[rid] = counts.get(rid, 0) + n
        if wm is not None:
            marks[rid] = wm if rid not in marks else max(marks[rid], wm)
    return counts, marks
