"""Regex data transformations (SURVEY §2.7).

Reference: ``DataModelTransformation`` applies per-class sed-style
``s/pattern/format/`` rewrites to column values, driven by a transformations
table of (class, source_pattern, output_format) rows
(matcher/.../matcher/transformation/DataModelTransformation.scala:18-68;
HOWTO "TRANSFORMATION" section).

Spark-first shape: the transformations table is DATA, not code — an inline
relation joined (left) to the long-format melt on ``column_name``, with
column-driven ``regexp_replace`` applied where a rule matches and identity
elsewhere. Adding a rule is an INSERT, not a deploy; at scale the rules side
is broadcast (a handful of rows) and the melt side streams through one
narrow projection, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import COLUMNS, bound_sql
from serene_spark.functions.melt import melt_sql
from serene_spark.functions.sqlgen import DUCKDB, SPARK, rr_col
from serene_spark.registry import register

# (class = column_name, source_pattern, output_format) — patterns follow the
# sqlgen portability rules (no backslash escapes).
TRANSFORM_RULES: tuple[tuple[str, str, str], ...] = (
    ("c_name", "Customer#0+", "Customer#"),      # strip zero-padding
    ("c_acctbal", "[.][0-9]+$", ""),             # drop cents
    ("c_mktsegment", "[^A-Z]", "_"),             # mask non-uppercase chars
)


def _rules_values() -> str:
    return ", ".join(f"('{c}', '{p}', '{f}')" for c, p, f in TRANSFORM_RULES)


def transform_sql(long_rel: str, dialect: str) -> str:
    applied = rr_col(dialect, "m.value", "r.pattern", "r.fmt")
    return f"""
WITH rules(cls, pattern, fmt) AS (VALUES {_rules_values()})
SELECT m.column_name, m.value,
       CASE WHEN r.cls IS NULL THEN m.value ELSE {applied} END AS transformed
FROM {long_rel} m LEFT JOIN rules r ON m.column_name = r.cls
"""


@register(
    "transform_rules",
    oracle=transform_sql(melt_sql("customer", COLUMNS["customer"]), DUCKDB),
    doc="SURVEY §2.7 sed-style per-column regex rewrite driven by a transformations table",
)
def transform_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serene_spark.catalog import load_table
    from serene_spark.functions.melt import melt

    view = "__serene_transform_long"
    return bound_sql(spark, transform_sql(view, SPARK),
                     {view: melt(load_table(spark, sf_dir, "customer"))})
