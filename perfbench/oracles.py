"""Independent DuckDB computations that the benchmark's outputs must equal.

Rows are compared order-insensitively under sorted column names, with
every value stringified (``None`` as "NULL"), the same rule the repository's
oracle harness applies.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json

import duckdb


def _norm_value(v) -> str:
    if v is None or v != v:  # None / NaN / NaT
        return "NULL"
    if isinstance(v, dt.datetime):  # pandas Timestamp is a datetime too
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def normalize_records(records: list[dict]) -> tuple[list[str], list[tuple]]:
    cols = sorted(records[0]) if records else []
    rows = sorted(tuple(_norm_value(r[c]) for c in cols) for r in records)
    return cols, rows


def duckdb_records(con: duckdb.DuckDBPyConnection, sql: str) -> list[dict]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, row)) for row in cur.fetchall()]


def compare(name: str, got: list[dict], want: list[dict]) -> str | None:
    """None when equal, else a one-line description of the first mismatch."""
    gc, gr = normalize_records(got)
    wc, wr = normalize_records(want)
    if got and want and gc != wc:
        return f"{name}: columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{name}: {len(gr)} rows != {len(wr)}"
    for a, b in zip(gr, wr):
        if a != b:
            return f"{name}: row {a} != {b}"
    return None


def digest(records: list[dict]) -> str:
    """SHA-256 of the normalized rows: columns, then rows in sorted order."""
    cols, rows = normalize_records(records)
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def sql_list(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def pipeline_oracle_sql(input_glob: str) -> str:
    """The repository's ``pipeline_per_sink_aggregates`` oracle, pointed at
    this run's input instead of its fixed corpus."""
    from oplog_analyzer_spark import entry_queries as EQ

    sql = EQ.all_oracles()["pipeline_per_sink_aggregates"]
    fixed = f"{EQ._CORPUS_ROOT}/pipeline_v1/*.parquet"
    if fixed not in sql:
        raise RuntimeError("pipeline oracle no longer reads its fixed corpus path")
    return sql.replace(fixed, input_glob)


def routed_rows_sql(pipeline_sql: str) -> str:
    """Row count of the oracle's ``routed`` CTE (the routed-row total)."""
    head = pipeline_sql[: pipeline_sql.rindex("SELECT category, ns, count(*)")]
    return head + "SELECT count(*) AS n FROM routed"


def tail_report_sql(files: list[str], buckets: tuple[int, ...]) -> str:
    """Batch twin of ``TailStream(buckets=…).report()``: the same grok
    extraction as the repository's tail oracle, system namespaces
    excluded, one aggregate over every landed file."""
    gt = "".join(
        f",\n       CAST(sum(CASE WHEN size > {b} THEN 1 ELSE 0 END) AS BIGINT) AS gt_{b}"
        for b in buckets
    )
    return rf"""
WITH parsed AS (
  SELECT regexp_extract(text, 'ns=([a-zA-Z0-9_.$]+)', 1) AS ns,
         regexp_extract(text, 'op:([iudcn])', 1) AS op,
         CAST(strlen(text) AS BIGINT) AS size, ts
  FROM read_parquet({sql_list(files)})
), f AS (
  SELECT * FROM parsed WHERE ns NOT LIKE 'config.%'
)
SELECT ns, op, count(*) AS count, CAST(sum(size) AS BIGINT) AS total_size,
       min(size) AS min_size, max(size) AS max_size,
       CAST(max(ts) AS TIMESTAMP) AS latest_ts{gt},
       CAST(floor(sum(size) / count(*)) AS BIGINT) AS avg_size
FROM f GROUP BY ns, op
"""
