"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
  - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  - shuffle partitions ~ cores (overridable; on a 1000-executor cluster this
    would be ~2-3x total cores)
  - Arrow enabled for every pandas-UDF stage
  - UTC session timezone so DuckDB-oracle comparisons are exact
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "openlogparse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # one BLAS thread per python worker: kernel stages run one worker per
    # task slot, so BLAS-internal threading (OpenBLAS defaults to nproc)
    # would oversubscribe 32 tasks x 32 threads. Set in the DRIVER env
    # before the JVM forks the python daemon (local mode inherits it);
    # spark.executorEnv covers real clusters below.
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # match parallelism of the master; "local[N]" -> N, "local[*]" -> nproc
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = (os.cpu_count() or 32) if inner == "*" else int(inner)

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # multi-JVM local-cluster executors need the package importable in
        # their python workers (a real cluster ships it via --py-files)
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # local-cluster[] executors take spark.executor.memory (default 1g!),
        # NOT the worker-memory bracket param; plain local[] ignores this
        .config("spark.executor.memory",
                os.environ.get("SPARK_GRAFT_EXECUTOR_MEMORY", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # fair scheduling: route + aggregate jobs are submitted concurrently
        .config("spark.scheduler.mode", "FAIR")
        # text parsing is CPU-heavy: smaller scan splits keep every core busy
        # (default 128MB gives a 200MB input only 2 tasks); AQE re-coalesces
        # downstream so small splits cost nothing after the first shuffle
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)))
        # commit task outputs task-side (v2): the v1 default moves every task
        # file serially on the driver at commitJob — a non-scaling tail that
        # grows with file count; v2 is the standard choice for object-store
        # and multi-sink writes (idempotence is supplied by our Committer
        # rename layer above the job, not by the in-job protocol)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Arrow batch sizing for the vectorized kernels: the 10k-row default
        # makes narrow-row stages batch-overhead-bound — measured on the
        # 184M-row LSH scoring stage: 18.4k batches cost ~11 ms each in
        # Python (pandas wrap + conversions) vs 2.6 ms of actual compute,
        # plus matching per-batch cost JVM-side. 128k-row batches amortize
        # the fixed cost ~13x; maxBytesPerBatch caps the rare wide-row case
        # (payload columns) so big batches can't balloon worker memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", str(128 * 1024)))
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(64 * 1024 * 1024))
    )
    # co-hosted multi-executor benches share ONE local disk for shuffle — a
    # sandbox artifact (real cluster nodes have their own disks). Point
    # shuffle/spill at a RAM-backed dir to restore per-node-disk semantics.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def broadcast_budget(spark: SparkSession) -> int:
    """Bytes a driver-side static table may hold: the session's
    `spark.sql.autoBroadcastJoinThreshold`, the size up to which the planner
    broadcasts a join side on its own (<= 0 turns that off)."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


def to_local_relation(df: DataFrame) -> DataFrame:
    """Pin a small table as a JVM-local relation.

    Collects `df` once with Arrow and rebuilds it with
    `createDataFrame(arrow_table)`, whose plan is a `LocalRelation`: a
    broadcast of it runs JVM tasks only (no Python worker, no pickling) and
    never re-runs `df`'s plan. `createDataFrame(collected_rows)` instead
    plans a `LogicalRDD` over a pickled `PythonRDD` that every action, and
    every micro-batch of a stream-static join, executes again.

    Byte guard: at most `budget // row_width + 1` rows reach the driver,
    with the row width from Spark's per-type default sizes, and the Arrow
    table must fit `broadcast_budget`. Over budget, `df` is returned
    unchanged and one line is logged; the caller then owns the join (an
    explicit `F.broadcast` hint on it would ignore the budget).
    """
    spark = df.sparkSession
    budget = broadcast_budget(spark)
    max_rows = budget // max(1, df._jdf.schema().defaultSize())
    table = df.limit(max_rows + 1).toArrow() if budget > 0 else None
    if table is None or table.num_rows > max_rows or table.nbytes > budget:
        logging.getLogger(__name__).warning(
            "to_local_relation: table kept as a Spark plan, over the %d-byte "
            "broadcast budget (%s)", budget,
            "broadcast off" if table is None else
            f"{table.num_rows} rows, {table.nbytes} bytes collected")
        return df
    return spark.createDataFrame(table, schema=df.schema)
