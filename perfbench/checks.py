"""Output checks, computed independently of Spark with DuckDB.

Route membership is re-derived from the generator's logical rows with the
DuckDB twin of the parse mask (``parse.stage.MASK_DUCKDB_EXPR``), the
route table and the tool dimension; the program's outputs are then
compared with it row by row or count by count.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pandas as pd

QUARANTINE = "quarantine"


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class RouteOracle:
    """One DuckDB table ``rows`` with, per logical row: its masked template,
    sql-mode ``parse_ok`` (template support >= min_support) and one boolean
    column per route saying whether the route's pattern and condition hold
    (before any parse_ok gate)."""

    def __init__(self, logical_path: str, dims_dir: str,
                 coalesce_unknown: bool, min_support: int = 2):
        from openlogparse_spark.parse.stage import MASK_DUCKDB_EXPR

        self.con = duckdb.connect()
        self.routes = pd.read_parquet(
            os.path.join(dims_dir, "routes.parquet")).to_dict("records")
        tools = os.path.join(dims_dir, "dim_tools.parquet")
        # batch enrich maps a tool missing from the dimension to 'unknown';
        # the streaming sink's plain left join leaves it NULL
        cat, risk = (("CASE WHEN l.tool IS NULL THEN NULL "
                      "ELSE coalesce(t.category, 'unknown') END",
                      "CASE WHEN l.tool IS NULL THEN NULL "
                      "ELSE coalesce(t.risk, 'unknown') END")
                     if coalesce_unknown else ("t.category", "t.risk"))
        self.con.execute(f"""
            CREATE TABLE base AS
            SELECT conv_id, turn_idx, role, tool, category, risk,
                   {MASK_DUCKDB_EXPR} AS template
            FROM (SELECT l.conv_id, l.turn_idx, l.role, l.tool, l.text,
                         {cat} AS category, {risk} AS risk
                  FROM read_parquet({_q(logical_path)}) l
                  LEFT JOIN read_parquet({_q(tools)}) t ON l.tool = t.tool)""")
        members = ", ".join(
            f"coalesce({self._route_pred(r)}, false) AS m_{i}"
            for i, r in enumerate(self.routes))
        self.con.execute(f"""
            CREATE TABLE rows AS
            SELECT conv_id, turn_idx,
                   count(*) OVER (PARTITION BY template) >= {min_support} AS parse_ok,
                   {members}
            FROM base""")
        self.n_rows = self.con.execute("SELECT count(*) FROM rows").fetchone()[0]

    @staticmethod
    def _route_pred(r: dict) -> str:
        pat = r.get("template_pattern") or ""
        cond = (r.get("condition") or "").strip() or "true"
        pat_sql = ("true" if pat in ("", ".*")
                   else f"regexp_matches(template, {_q(pat)})")
        return f"({pat_sql}) AND ({cond})"

    def expected_sql_counts(self) -> dict[str, int]:
        """Per-sink counts of a sql-mode batch job: real routes take the
        parse_ok rows, quarantine takes the rest."""
        cols = ", ".join(f"count(*) FILTER (WHERE parse_ok AND m_{i})"
                         for i in range(len(self.routes)))
        got = self.con.execute(
            f"SELECT {cols}, count(*) FILTER (WHERE NOT parse_ok) FROM rows"
        ).fetchone()
        out = {r["route_id"]: int(n) for r, n in zip(self.routes, got)}
        out[QUARANTINE] = int(got[-1])
        return out

    def check_conservation(self, sink_counts: dict, quarantine_dir: str) -> list[str]:
        """rows = sum(routes ∩ parse_ok) + quarantine, per route: the rows
        the job quarantined, read back from its quarantine sink, plus the
        route's count must equal every input row the route matches.
        Returns a list of violations (empty when the job conserved rows)."""
        errs = []
        files = os.path.join(quarantine_dir, "**", "*.parquet")
        has_files = bool(glob.glob(files, recursive=True))
        self.con.execute(
            "CREATE OR REPLACE TEMP TABLE q AS "
            + (f"SELECT conv_id, turn_idx FROM read_parquet({_q(files)}, "
               "hive_partitioning = false)" if has_files
               else "SELECT NULL::VARCHAR AS conv_id, NULL::INT AS turn_idx WHERE false"))
        n_q, n_known, n_distinct = self.con.execute("""
            SELECT (SELECT count(*) FROM q),
                   (SELECT count(*) FROM q JOIN rows USING (conv_id, turn_idx)),
                   (SELECT count(*) FROM (SELECT DISTINCT * FROM q))""").fetchone()
        if n_q != sink_counts.get(QUARANTINE):
            errs.append(f"quarantine sink holds {n_q} rows, job reported "
                        f"{sink_counts.get(QUARANTINE)}")
        if n_known != n_q or n_distinct != n_q:
            errs.append(f"quarantine rows: {n_q} written, {n_known} are input "
                        f"rows, {n_distinct} distinct")
        cols = ", ".join(
            f"count(*) FILTER (WHERE m_{i} AND q.conv_id IS NULL)"
            for i in range(len(self.routes)))
        ok_counts = self.con.execute(
            f"SELECT {cols} FROM rows LEFT JOIN q USING (conv_id, turn_idx)"
        ).fetchone()
        for r, n in zip(self.routes, ok_counts):
            if sink_counts.get(r["route_id"]) != n:
                errs.append(f"route {r['route_id']}: {sink_counts.get(r['route_id'])} "
                            f"routed, {n} input rows match it outside quarantine")
        return errs

    def check_stream_delivery(self, sinks_root: str) -> tuple[int, int]:
        """Exactly-once delivery of a streaming run: every offered row must
        appear once in the sink of every route it matches and nowhere else.
        Returns (rows delivered correctly, rows in error); rows written that
        were never offered count as errors."""
        files = os.path.join(sinks_root, "batch=*", "route_id=*", "*.parquet")
        has_files = bool(glob.glob(files))
        exp = " UNION ALL ".join(
            f"SELECT conv_id, turn_idx, {_q(r['route_id'])} AS route_id "
            f"FROM rows WHERE m_{i}" for i, r in enumerate(self.routes))
        got = (f"SELECT conv_id, turn_idx, route_id, count(*) AS n FROM "
               f"read_parquet({_q(files)}, hive_partitioning = true) "
               "GROUP BY ALL" if has_files else
               "SELECT NULL::VARCHAR AS conv_id, NULL::INT AS turn_idx, "
               "NULL::VARCHAR AS route_id, 0 AS n WHERE false")
        bad, stray = self.con.execute(f"""
            WITH exp AS ({exp}), got AS ({got}),
            diff AS (
              SELECT coalesce(e.conv_id, g.conv_id) AS conv_id,
                     coalesce(e.turn_idx, g.turn_idx) AS turn_idx
              FROM exp e FULL OUTER JOIN got g
                ON e.conv_id = g.conv_id AND e.turn_idx = g.turn_idx
               AND e.route_id = g.route_id
              WHERE e.conv_id IS NULL OR g.conv_id IS NULL OR g.n != 1),
            bad AS (SELECT DISTINCT conv_id, turn_idx FROM diff)
            SELECT (SELECT count(*) FROM bad JOIN rows USING (conv_id, turn_idx)),
                   (SELECT count(*) FROM bad ANTI JOIN rows USING (conv_id, turn_idx))
            """).fetchone()
        return self.n_rows - bad, bad + stray


def curation_funnel_oracle(documents_path: str) -> list[tuple[str, int]]:
    """The operator suite's own DuckDB twin of ``curation_funnel``."""
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({_q(documents_path)})")
    return sorted((s, int(n)) for s, n in con.execute(entry._CURATION_FUNNEL_SQL).fetchall())
