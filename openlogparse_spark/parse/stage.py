"""Parse stage: row-piece merge → template assignment → param extraction.

Reference parity:
  - row-piece merge  = chained-row reassembly (FB_P/FB_N flags), ref
    /root/reference/src/builder/Builder.h:238-284 and Builder.cpp:1276-1360.
    Here: a window over stable (conv_id, turn_idx) order finds continuation
    chains (trailing ``\\``), then one groupBy concatenates pieces in order —
    pure column expressions, one shuffle on conv_id.
  - template dispatch = opcode dispatch, ref src/parser/Parser.cpp:282-460.
    Two interchangeable implementations:
      mode='sql'   : masking via regexp_replace entirely JVM-side
                     (whole-stage codegen; zero Python in the hot path);
      mode='drain' : vectorized pandas/Arrow UDF applying the mined Drain
                     tree (the north-star stage) — memoized per distinct
                     masked string per batch.
  - fit = template mining (`parse_stage` given no table): building the stage
    runs one bounded collect that pins the mined table (see parse_stage).
  - quarantine = unknown-opcode warn path, ref src/parser/Parser.cpp:476-478:
    rows whose template has support < min_support get parse_ok=false and a
    null template_id; they are counted, never dropped silently (count
    conservation: rows_in == rows_ok + rows_quarantined).
  - params map = per-opcode field extraction, ref src/parser/OpCode.h
    field-walks: here ``k=v`` tokens split into a map<string,string> with
    non-regex string intrinsics (see MASK_SQL_EXPR note on why not regex).

Output schema (FIXTURES.md §5 `parsed`):
  conv_id, turn_idx, role, text, tool, ts,
  template_id string, template string, op string,
  params map<string,string>, parse_ok boolean
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openlogparse_spark.parse import drain as drain_mod
from openlogparse_spark.parse.templates import (
    PARAM_TYPES,
    all_masked_templates,
    template_id_of,
)

# Masking, as a SQL expression over a column named `text` (Spark dialect).
# Token rule: `k=v…` -> `k=<*>` (everything after the FIRST '='); any other
# digit-bearing token -> `<*>`; all else unchanged.
#
# Deliberately NON-REGEX (split/instr/substring_index/translate): on this
# box java.util.regex throughput saturates at ~4 threads per JVM
# (~1M rows/s flat from 4 to 32 cores, measured), while plain string
# intrinsics scale with cores like any codegen'd expression. Same rule is
# exactly expressible in DuckDB for the oracle.
MASK_SQL_EXPR = (
    "array_join(transform(split(text, ' '), t -> "
    "CASE WHEN instr(t, '=') > 0 THEN concat(substring_index(t, '=', 1), '=<*>') "
    "WHEN translate(t, '0123456789', '') != t THEN '<*>' "
    "ELSE t END), ' ')"
)

# Same masking in DuckDB dialect (for oracle SQL strings).
MASK_DUCKDB_EXPR = (
    "array_to_string(list_transform(string_split(text, ' '), t -> "
    "CASE WHEN strpos(t, '=') > 0 THEN split_part(t, '=', 1) || '=<*>' "
    "WHEN translate(t, '0123456789', '') != t THEN '<*>' "
    "ELSE t END), ' ')"
)


def merge_row_pieces(df: DataFrame) -> DataFrame:
    """Reassemble rows split across consecutive turns (trailing ``\\``).

    Keeps the head piece's (turn_idx, role, tool, ts); concatenates piece
    texts in turn order with the continuation markers stripped. Handles
    arbitrary-length chains. One shuffle (hash on conv_id); the subsequent
    groupBy reuses the same partitioning (no second shuffle).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    cont_mark = F.col("text").endswith("\\")  # non-regex: hot path
    prev_cont = F.lag(cont_mark.cast("int"), 1, 0).over(w)
    strip_cont = F.when(
        cont_mark, F.rtrim(F.expr("substring(text, 1, length(text) - 1)"))
    ).otherwise(F.col("text"))
    df2 = (
        df.withColumn("_head", (prev_cont == 0).cast("int"))
        .withColumn("_grp", F.sum("_head").over(w))
        .withColumn("_clean", strip_cont)
    )
    pieces = F.array_sort(F.collect_list(F.struct("turn_idx", "_clean", "role", "tool", "ts")))
    merged = (
        df2.groupBy("conv_id", "_grp")
        .agg(
            F.min("turn_idx").alias("turn_idx"),
            pieces.alias("_pieces"),
        )
        .select(
            "conv_id",
            "turn_idx",
            F.col("_pieces")[0]["role"].alias("role"),
            F.array_join(F.transform("_pieces", lambda s: s["_clean"]), " ").alias("text"),
            F.col("_pieces")[0]["tool"].alias("tool"),
            F.col("_pieces")[0]["ts"].alias("ts"),
        )
    )
    return merged


def registry_template_df(spark) -> DataFrame:
    """The known 24-template registry as a tiny DataFrame (template_id,
    template, op) — the analogue of the reference's compiled-in opcode table.
    Built from pandas (Arrow), so it plans as a JVM-local relation, not a
    pickled PythonRDD."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(all_masked_templates(), columns=["template_id", "template", "op"]),
        schema="template_id string, template string, op string",
    )


def mine_template_table(
    df: DataFrame, min_support: int = 2, mode: str = "sql"
) -> DataFrame:
    """Fit: discover the template table from the data.

    mode='sql'  : distinct masked strings + support counts — one tiny
                  map-side-combined groupBy (distinct templates ≪ rows).
    mode='drain': distributed Drain fit (prefix-tree clustering of similar
                  sequences; handles non-k=v logs).

    Returns DataFrame(template_id, template, op, support); op comes from the
    registry where the template is known, else 'other'.
    """
    spark = df.sparkSession
    if mode == "drain":
        import pandas as pd

        mined = drain_mod.mine_templates(df, "text", min_support=min_support)
        mined_df = spark.createDataFrame(
            pd.DataFrame(mined, columns=["template_id", "template", "support"]),
            schema="template_id string, template string, support long",
        )
    else:
        # a pre-masked input (column `template` present) is counted directly —
        # parse_stage's fit path persists the masked view so the mask runs
        # once, not once for fit and again for apply
        masked = (df.select("template") if "template" in df.columns
                  else df.select(F.expr(MASK_SQL_EXPR).alias("template")))
        mined_df = (
            masked
            .groupBy("template")
            .count()
            .filter(F.col("count") >= min_support)
            .select(
                F.substring(F.md5("template"), 1, 12).alias("template_id"),
                "template",
                F.col("count").alias("support"),
            )
        )
    reg = registry_template_df(spark).select("template", F.col("op").alias("_op"))
    return (
        mined_df.join(F.broadcast(reg), "template", "left")
        .select(
            "template_id",
            "template",
            F.coalesce("_op", F.lit("other")).alias("op"),
            "support",
        )
    )


def _apply_templates_sql(df: DataFrame, templates: DataFrame) -> DataFrame:
    masked = (df if "template" in df.columns
              else df.withColumn("template", F.expr(MASK_SQL_EXPR)))
    t = templates.select("template", "template_id", "op")
    # a lazy side is hinted, as its size estimate is the corpus it
    # aggregates; a persisted one (parse_stage's fit path persists a table
    # over the broadcast budget) is left to the planner, which sizes it from
    # its cache
    if not templates.is_cached:
        t = F.broadcast(t)
    return masked.join(t, "template", "left")


def _apply_templates_drain(df: DataFrame, templates: DataFrame) -> DataFrame:
    """Vectorized pandas/Arrow stage: match each row's masked tokens against
    the broadcast Drain tree. Memoized per distinct masked string within each
    Arrow batch — no per-row Python beyond the first sight of each template."""
    import pandas as pd

    collected = templates.collect()
    # canonical insertion order (support desc, template asc — the same order
    # merge_candidates uses) so the rebuilt tree is identical regardless of
    # collect() row order; without it two >=sim_th-similar templates could
    # merge differently run-to-run (determinism requirement, SURVEY §7.3)
    tmpl_rows = sorted(
        [(r["template_id"], r["template"], r["op"],
          r["support"] if "support" in r.__fields__ else 0)
         for r in collected],
        key=lambda r: (-r[3], r[1]))
    spark = df.sparkSession
    b = spark.sparkContext.broadcast(tmpl_rows)
    cols = df.columns

    def match_batches(batches):
        miner = drain_mod.DrainMiner()
        by_tmpl = {}
        for tid, tmpl, op, _sup in b.value:
            live = miner.add(tmpl.split(" "))
            # register the cluster's LIVE representative too: add() may have
            # generalized this template into an existing cluster, and match()
            # returns the merged rep — which must still resolve to an id
            by_tmpl.setdefault(" ".join(live), (tid, op))
            by_tmpl.setdefault(tmpl, (tid, op))
        memo: dict[str, tuple] = {}

        def lookup(text):
            toks = drain_mod.pre_mask(text)
            key = " ".join(toks)
            if key not in memo:
                m = miner.match(toks)
                memo[key] = (key, *by_tmpl.get(m, (None, None))) if m else (key, None, None)
            return memo[key]

        for pdf in batches:
            res = [lookup(t) for t in pdf["text"]]
            out = pdf.copy()
            out["template"] = [r[0] for r in res]
            out["template_id"] = [r[1] for r in res]
            out["op"] = [r[2] for r in res]
            yield out

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    schema += ", template string, template_id string, op string"
    return df.mapInPandas(match_batches, schema=schema)


def parse_stage(
    df: DataFrame,
    templates: DataFrame | None = None,
    mode: str = "sql",
    min_support: int = 2,
    merge_pieces: bool = True,
) -> DataFrame:
    """Full parse stage: merge pieces → assign template → extract params.

    If `templates` is None the table is mined from `df` first (fit+apply, one
    bounded collect when built); the result then holds its cached inputs
    until `release_cached_inputs()` or garbage collection.
    """
    if merge_pieces:
        df = merge_row_pieces(df)
    cached = ()
    if templates is None:
        # fit+apply in one call: the mining aggregation and the apply side
        # both read the merged (and, for sql mode, masked) rows, so they are
        # persisted once; without it the merge window + mask run twice per
        # action (the mask's transform() lambda is interpreted: measured 2x
        # at sf1.0).
        from pyspark import StorageLevel

        from openlogparse_spark.session import to_local_relation

        if mode == "sql" and "template" not in df.columns:
            df = df.withColumn("template", F.expr(MASK_SQL_EXPR))
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        # The mined table is pinned as a JVM-local relation (one bounded
        # Arrow collect). Left lazy, the mining aggregation is a broadcast
        # subtree of every consumer's plan, and broadcast reuse holds within
        # one query only: a route write plus each aggregate would re-mine
        # the corpus (measured at sf1.0). The collect doubles as the cache
        # fill above (fusing the cache store into the big fan-out write
        # measured ~25% slower end to end, from memory pressure). Past the
        # broadcast budget (distinct templates ~ rows) the plan is persisted
        # after the probe (before it, the common path would pay a Spark
        # job): it stays on the executors and `_apply_templates_sql` joins
        # it without a broadcast hint. Drain mode is not bounded so: its
        # miner returns the table to the driver, and its apply ships the
        # whole tree to every worker.
        plan = mine_template_table(df, min_support=min_support, mode=mode)
        templates = to_local_relation(plan)
        if templates is plan:
            templates = plan.persist(StorageLevel.MEMORY_AND_DISK)
        cached = (df, templates)    # unpersisting a LocalRelation is a no-op
    if mode == "drain":
        out = _apply_templates_drain(df, templates)
    else:
        out = _apply_templates_sql(df, templates)
    kv = "filter(split(text, ' '), t -> instr(t, '=') > 0)"
    out = out.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "template_id", "template", "op",
        F.map_from_arrays(
            F.expr(f"transform({kv}, t -> substring_index(t, '=', 1))"),
            F.expr(f"transform({kv}, t -> substring(t, instr(t, '=') + 1))"),
        ).alias("params"),
        F.col("template_id").isNotNull().alias("parse_ok"),
    )
    if cached:
        from openlogparse_spark.functions.cache import release_on_gc

        out = release_on_gc(out, *cached)
    return out


def typed_params(df: DataFrame, spec: dict[str, str] | None = None,
                 col: str = "p") -> DataFrame:
    """Decode the string `params` map into a typed struct column.

    The Spark form of the reference's typed column emit
    (Builder::processValue switch over SysCol type ids,
    /root/reference/src/builder/Builder.cpp:89-615): each known k=v key gets
    its declared type (PARAM_TYPES); absent keys and malformed values decode
    to NULL (the schemaless/unknown-value fallback, Builder.cpp:96-99).
    Downstream numeric/time analysis then reads native-typed columns instead
    of paying a per-query cast on map<string,string> lookups. Pure Catalyst
    casts — codegen'd, no UDF."""
    spec = spec or PARAM_TYPES
    # try_cast, not cast: ANSI mode (Spark 4 default) aborts the job on the
    # first malformed value; the reference logs-and-continues instead
    fields = [F.col("params").getItem(k).try_cast(t).alias(k)
              for k, t in spec.items()]
    return df.withColumn(col, F.struct(*fields))
