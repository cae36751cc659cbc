"""Run DuckDB-dialect SQL files (the reference's third entry point).

The reference's analytical layer is plain ``.sql`` files executed by DuckDB
(``datasets/snowset/*.sql``) with two non-Spark constructs:

  COPY ( <query> ) TO 'out.csv' (FORMAT CSV, HEADER);   -- CSV sink wrapper
  FROM 'path/glob.parquet'                               -- path-literal table

``run_sql_file`` rewrites both — path literals become registered temp views,
the COPY wrapper becomes a header-CSV write — and hands the body to
``spark.sql``. A reference user's existing query files run unmodified.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from parquet_near_storage_compute_spark.sources.io import write_csv
from parquet_near_storage_compute_spark.tables import resolve_parquet

_COPY_RE = re.compile(
    r"^\s*COPY\s*\(\s*(?P<body>.*)\s*\)\s*TO\s*'(?P<out>[^']+)'"
    r"\s*\(\s*FORMAT\s+CSV\s*(?:,\s*HEADER\s*)?\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_PATH_TABLE_RE = re.compile(r"'(?P<path>[^']+\.parquet(?:/\*\.parquet)?)'")


def _is_table_ref(sql: str, start: int) -> bool:
    """A quoted parquet path is a table ref when preceded by FROM/JOIN."""
    prefix = sql[:start].rstrip()
    return bool(re.search(r"(?:\bFROM\b|\bJOIN\b)\s*$", prefix, re.IGNORECASE))


def translate_sql(
    spark: SparkSession, sql: str, base_dir: str = "."
) -> tuple[str, str | None]:
    """Rewrite DuckDB-isms → (spark-sql text, optional csv output path)."""
    out_csv = None
    m = _COPY_RE.match(sql)
    if m:
        sql = m.group("body")
        out_csv = m.group("out")

    # path-literal tables → temp views named view_0, view_1, ...
    views: dict[str, str] = {}

    def _sub(match: re.Match) -> str:
        if not _is_table_ref(match.string, match.start()):
            return match.group(0)
        path = match.group("path")
        if path not in views:
            views[path] = f"sql_file_view_{len(views)}"
            resolved = path if os.path.isabs(path) else os.path.join(base_dir, path)
            resolve_parquet(spark, resolved).createOrReplaceTempView(views[path])
        return views[path]

    sql = _PATH_TABLE_RE.sub(_sub, sql)
    return sql, out_csv


def run_sql(
    spark: SparkSession, sql: str, base_dir: str = ".", out_dir: str | None = None
) -> DataFrame:
    """Execute one DuckDB-dialect statement; write CSV if it was a COPY."""
    body, out_csv = translate_sql(spark, sql, base_dir)
    df = spark.sql(body)
    if out_csv is not None:
        target = out_csv if os.path.isabs(out_csv) else os.path.join(
            out_dir or base_dir, out_csv
        )
        write_csv(df, target, single_file=True)
    return df


def run_sql_file(
    spark: SparkSession, path: str, out_dir: str | None = None
) -> DataFrame:
    """Run a reference-style .sql file; returns the (last) result frame."""
    with open(path) as fh:
        text = fh.read()
    return run_sql(spark, text, base_dir=os.path.dirname(path) or ".", out_dir=out_dir)
