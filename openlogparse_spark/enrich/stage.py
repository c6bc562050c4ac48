"""Enrich stage: broadcast lookup joins against small dimensions.

Reference parity: every parsed record resolves its object id against the
in-memory dictionary under a mutex (Schema::checkTableDict,
/root/reference/src/metadata/Schema.h:123; call sites
src/parser/Parser.cpp:562,666,724) — a hash lookup join. Here the dictionary
is a DataFrame and the lookup is an explicit **broadcast hash join** (the dims
are KBs; no shuffle of the fact side, plan shows BroadcastHashJoin).

Unknown keys follow the reference's schemaless fallback
(/root/reference/src/builder/Builder.cpp:96-99): instead of dropping the row,
emit it with 'unknown' dictionary attributes so downstream routing can still
see it (left join + coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# path -> ((st_mtime_ns, st_size), pyarrow table): the last version read
_DIMS: dict = {}


def read_dim(spark: SparkSession, path: str) -> DataFrame:
    """A KB-scale dictionary parquet file as a JVM-local relation, read with
    pyarrow on the driver and kept under its (mtime, size): an unchanged file
    costs no Spark job. With coarse file timestamps, a same-size rewrite
    within one tick of a cached read stays unseen until the next write."""
    import pyarrow.parquet as pq

    st = os.stat(path)
    stamp = (st.st_mtime_ns, st.st_size)
    # held locally: another thread may replace the entry in the meantime
    entry = _DIMS.get(path)
    if entry is None or entry[0] != stamp:
        entry = _DIMS[path] = (stamp, pq.read_table(path))
    return spark.createDataFrame(entry[1])


def enrich_stage(
    parsed: DataFrame, dim_tools: DataFrame, dim_roles: DataFrame
) -> DataFrame:
    out = (
        parsed.join(F.broadcast(dim_tools), "tool", "left")
        .join(F.broadcast(dim_roles), "role", "left")
        .withColumn(
            "category",
            F.when(F.col("tool").isNull(), None).otherwise(
                F.coalesce("category", F.lit("unknown"))
            ),
        )
        .withColumn(
            "risk",
            F.when(F.col("tool").isNull(), None).otherwise(
                F.coalesce("risk", F.lit("unknown"))
            ),
        )
    )
    return out.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "template_id", "template", "op", "params", "parse_ok",
        "category", "risk", "side_effects", "is_model", "weight",
    )
