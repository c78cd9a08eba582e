"""Sampled column reader — the server's dataset-upload ingest (SURVEY §2.1).

Reference: ``DataSetInterface.readColumns`` reads only the first ``4*n`` rows
of an uploaded CSV, transposes to columns, and keeps a seeded random sample
of ``n = 15`` values per column for the API's column preview
(core/.../drivers/DataSetInterface.scala:39-41,214-235, seed 1234).

Deterministic-hash rebuild (SURVEY §7 risk 2 convention): "first 4n rows" is
defined by key order (a distributed scan has no file order), and the
15-value sample ranks the window by ``md5(column|key)`` — a pure function of
the data, reproducible on both engines and any partitioning. The head window
is one ordered LIMIT (driver-side at 60 rows regardless of table size); the
per-column sample is a window rank over the melted head — tiny by
construction, never a full-table shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import COLUMNS, bound_sql, load_table
from serene_spark.functions.melt import melt, melt_sql
from serene_spark.functions.sqlgen import DUCKDB, SPARK
from serene_spark.registry import register

SAMPLE_N = 15
HEAD_ROWS = 4 * SAMPLE_N


def column_sample_sql(head_long: str, dialect: str) -> str:
    return f"""
WITH ranked AS (
  SELECT column_name, value,
         ROW_NUMBER() OVER (
           PARTITION BY column_name
           ORDER BY md5(column_name || '|' || value), value
         ) AS rk
  FROM {head_long} AS hl
)
SELECT column_name, value, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {SAMPLE_N}
"""


def _head_melt_duckdb(table: str) -> str:
    key = COLUMNS[table][0]
    head = f"(SELECT * FROM {table} ORDER BY {key} LIMIT {HEAD_ROWS})"
    return melt_sql(f"{head} AS h", COLUMNS[table])


def sample_columns_df(df) -> "DataFrame":
    """Server-ingest preview for an arbitrary DataFrame: first 4n rows,
    deterministic 15-value sample per column (DataSetInterface.scala:39-41,
    214-235; the service layer's GET /dataset/:id sample)."""
    view = "__serene_ingest_any"
    return bound_sql(df.sparkSession, column_sample_sql(view, SPARK),
                     {view: melt(df.limit(HEAD_ROWS))})


@register(
    "ingest_column_sample",
    oracle=column_sample_sql(_head_melt_duckdb("customer"), DUCKDB),
    doc="SURVEY §2.1 sampled column reader: first 60 rows by key, deterministic "
    "15-value sample per column (server ingest preview semantics)",
)
def ingest_column_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = COLUMNS["customer"][0]
    head = load_table(spark, sf_dir, "customer").orderBy(key).limit(HEAD_ROWS)
    view = "__serene_ingest_head"
    return bound_sql(spark, column_sample_sql(view, SPARK), {view: melt(head)})
