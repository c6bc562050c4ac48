"""Parse stage: merge equality, quarantine conservation, template parity,
DuckDB oracle for the masked-template counts (north-rule per-template counts)."""

import os

import pyspark.sql.functions as F
import pytest

from openlogparse_spark.parse import merge_row_pieces, parse_stage
from openlogparse_spark.parse.stage import MASK_DUCKDB_EXPR, mine_template_table
from openlogparse_spark.parse.templates import BY_NAME, all_masked_templates


@pytest.fixture(scope="module")
def raw(spark, fx_dir):
    return spark.read.parquet(os.path.join(fx_dir, "transcripts.parquet"))


@pytest.fixture(scope="module")
def logical(spark, fx_dir):
    return spark.read.parquet(os.path.join(fx_dir, "transcripts_logical.parquet"))


@pytest.fixture(scope="module")
def parsed(raw):
    p = parse_stage(raw, mode="sql")
    p.cache()
    p.count()
    return p


def test_merge_exact_text_equality(raw, logical):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the north-rule per-row invariant."""
    m = merge_row_pieces(raw).alias("m")
    l = logical.alias("l")
    joined = m.join(l, ["conv_id", "turn_idx"], "full")
    mismatches = joined.filter(~F.col("m.text").eqNullSafe(F.col("l.text"))).count()
    assert mismatches == 0
    assert m.count() == logical.count()


def test_count_conservation(raw, parsed):
    """rows_in == rows_parse_ok + rows_quarantined (out/skip counter
    conservation, ref Metrics.h:74-85)."""
    merged_total = merge_row_pieces(raw).count()
    ok = parsed.filter("parse_ok").count()
    quarantined = parsed.filter("NOT parse_ok").count()
    assert merged_total == ok + quarantined
    assert quarantined > 0  # fixture plants ~0.5% corrupt rows


def test_template_registry_recovered(raw):
    """Mining recovers every generatable registry template with the right op."""
    tt = {r["template"]: r["op"] for r in mine_template_table(merge_row_pieces(raw)).collect()}
    for tid, masked, op in all_masked_templates():
        if masked.startswith("NOTE "):
            continue  # individual sentences may fall under min_support at sf0.001
        assert masked in tt, masked
        assert tt[masked] == op


def test_template_counts_match_duckdb_oracle(parsed, duck):
    """Per-template counts: Spark parse vs an independent DuckDB computation
    over the same masked-template expression — the per-template count equality
    of the north rule."""
    spark_counts = {
        r["template"]: r["cnt"]
        for r in parsed.filter("parse_ok").groupBy("template").agg(
            F.count(F.lit(1)).alias("cnt")).collect()
    }
    # oracle: merge pieces + mask in SQL, count per template, keep support>=2
    oracle = duck.execute(f"""
        WITH ordered AS (
          SELECT conv_id, turn_idx, text,
                 CASE WHEN lag(text) OVER w LIKE '%\\' THEN 0 ELSE 1 END AS head
          FROM transcripts WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        ), grp AS (
          SELECT conv_id, turn_idx, text,
                 sum(head) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS g
          FROM ordered
        ), merged AS (
          SELECT string_agg(regexp_replace(text, '\\s*\\\\$', ''), ' ' ORDER BY turn_idx) AS text
          FROM grp GROUP BY conv_id, g
        ), masked AS (
          SELECT {MASK_DUCKDB_EXPR} AS template FROM merged
        )
        SELECT template, count(*) AS cnt FROM masked GROUP BY template
        HAVING count(*) >= 2
    """).fetchall()
    oracle_counts = dict(oracle)
    assert spark_counts == oracle_counts


def test_params_extraction(parsed):
    row = parsed.filter(F.col("template") == BY_NAME["result"].masked).first()
    assert set(row["params"].keys()) == {"tool", "rc", "bytes"}
    assert row["params"]["tool"] == row["tool"]


def test_drain_parity_on_structured_rows(spark, fx_dir):
    """mode='drain' (pandas UDF tree) and mode='sql' (Catalyst masking) agree
    on every structured row; they may differ only on corrupted garbage, which
    Drain clusters by design."""
    raw = spark.read.parquet(os.path.join(fx_dir, "transcripts.parquet"))
    known = {m for _t, m, _o in all_masked_templates()}
    a = parse_stage(raw, mode="sql").select("conv_id", "turn_idx", "template", "template_id")
    b = parse_stage(raw, mode="drain").select(
        "conv_id", "turn_idx", F.col("template_id").alias("tid_drain"))
    j = a.join(b, ["conv_id", "turn_idx"]).filter(F.col("template").isin(list(known)))
    mism = j.filter(~F.col("template_id").eqNullSafe(F.col("tid_drain"))).count()
    assert mism == 0


def test_fit_path_template_table_over_budget(spark, raw, caplog):
    """parse_stage's fit path pins the mined template table driver-side only
    within the broadcast budget (autoBroadcastJoinThreshold). Over it one
    line says why, the template join is not a broadcast, and every row gets
    the same template id."""
    import logging

    from openlogparse_spark import session

    def fit():
        out = parse_stage(raw, mode="sql")
        plan = out._jdf.queryExecution().executedPlan().toString()
        rows = {tuple(r) for r in out.select(
            "conv_id", "turn_idx", "template_id").collect()}
        out.release_cached_inputs()
        # pre-order tree string: the first join is the template join
        return rows, next(ln for ln in plan.splitlines() if "Join" in ln)

    pinned, pinned_join = fit()
    assert "BroadcastHashJoin" in pinned_join
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        with caplog.at_level(logging.WARNING, logger=session.__name__):
            lazy, lazy_join = fit()
    finally:
        spark.conf.set(key, threshold)
    over = [r for r in caplog.records if "broadcast budget" in r.getMessage()]
    assert len(over) == 1, over
    assert "BroadcastHashJoin" not in lazy_join, lazy_join
    assert lazy == pinned


def test_quarantined_rows_are_the_corrupt_ones(parsed):
    """Quarantined rows carry no k=v structure (the planted garbage)."""
    bad = parsed.filter("NOT parse_ok")
    assert bad.filter(F.col("text").contains("=")).count() == 0


def test_drain_mining_partition_invariant(spark, fx_dir):
    """Determinism requirement (SURVEY §7.3): the mined drain template table
    is identical whatever the input partitioning — 1 partition vs 8 must
    produce byte-identical (id, template, support) triples."""
    import os as _os

    from openlogparse_spark.parse import merge_row_pieces
    from openlogparse_spark.parse.drain import mine_templates

    raw = spark.read.parquet(_os.path.join(fx_dir, "transcripts.parquet"))
    merged = merge_row_pieces(raw)
    t1 = mine_templates(merged.repartition(1))
    t8 = mine_templates(merged.repartition(8))
    assert t1 == t8
    assert len(t1) > 10


def test_drain_apply_resolves_merged_reps(spark):
    """Order-independence of the drain apply stage: templates similar enough
    to merge in the rebuilt tree must still resolve to an id (the live-rep
    registration path), never silently to parse_ok=false."""
    from openlogparse_spark.parse import parse_stage

    rows = []
    for i in range(10):
        rows.append((1, i * 3 + 0, "assistant", f"SYNC alpha beta tail{i} x=1", None,
                     "2026-01-01 00:00:00"))
        rows.append((1, i * 3 + 1, "assistant", f"SYNC alpha gamma tail{i} y=2", None,
                     "2026-01-01 00:00:01"))
        rows.append((1, i * 3 + 2, "assistant", "COMMIT txn=t1 rows=5", None,
                     "2026-01-01 00:00:02"))
    df = spark.createDataFrame(
        rows,
        "conv_id long, turn_idx long, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = parse_stage(df, mode="drain", min_support=2)
    assert out.filter("NOT parse_ok").count() == 0
    # and the assignment is stable across partitionings
    a = {(r["turn_idx"], r["template_id"]) for r in out.collect()}
    b = {(r["turn_idx"], r["template_id"])
         for r in parse_stage(df.repartition(7), mode="drain", min_support=2).collect()}
    assert a == b


def test_bucketed_input_elides_merge_exchange(spark, fx_dir):
    """Bucketed-table input (jobs/bucketize.py): the merge window's required
    distribution is satisfied by the scan itself — NO Exchange in the plan —
    and the merged output is byte-identical to the parquet-path plan."""
    import os as _os

    from openlogparse_spark.jobs.bucketize import bucketize
    from openlogparse_spark.parse import merge_row_pieces

    src = _os.path.join(fx_dir, "transcripts.parquet")
    bucketize(spark, src, "t_bkt_test", buckets=8)
    try:
        bucketed = spark.table("t_bkt_test")
        plan = merge_row_pieces(bucketed)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan, plan
        plain_plan = merge_row_pieces(spark.read.parquet(src)) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning(conv_id" in plain_plan
        # identical results either way
        a = merge_row_pieces(bucketed).selectExpr(
            "sum(hash(conv_id, turn_idx, text)) AS h", "count(*) AS n").first()
        b = merge_row_pieces(spark.read.parquet(src)).selectExpr(
            "sum(hash(conv_id, turn_idx, text)) AS h", "count(*) AS n").first()
        assert (a["h"], a["n"]) == (b["h"], b["n"])
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_test")


@pytest.mark.parametrize("fmt", ["json", "csv"])
def test_multi_format_sources_roundtrip(spark, fx_dir, fmt):
    """json/csv transcript sources parse to the same rows as the parquet
    source (schema enforced, never inferred), so the pipeline is
    encoding-agnostic."""
    import os as _os

    from openlogparse_spark.sources import read_transcripts, write_transcripts

    src = read_transcripts(spark, _os.path.join(fx_dir, "transcripts.parquet"))
    path = f"data/tmp/test_src_{fmt}"
    # csv cannot carry embedded newlines/quotes robustly in this simple
    # profile; the fixture texts are single-line, which is the contract
    write_transcripts(src, path, fmt)
    back = read_transcripts(spark, path, fmt)
    expr = ("sum(hash(conv_id, cast(turn_idx as long), role, text, tool, "
            "cast(ts as string))) AS h")
    a = src.selectExpr(expr, "count(*) AS n").first()
    b = back.selectExpr(expr, "count(*) AS n").first()
    assert (a["h"], a["n"]) == (b["h"], b["n"])
