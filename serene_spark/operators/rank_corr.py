"""Rank correlation — Spearman's ρ with exact tie midranks, the robust
sibling of the Pearson correlation matrix (operators/stats_extra.py):
monotone-but-nonlinear dependence that Pearson understates, with no
distributional assumption and full tie correctness.

``spearman_qty_price``: Spearman ρ between lineitem quantity and
extendedprice.  Midranks come from the value HISTOGRAM — for a distinct
value with c occurrences after `before` smaller rows, the midrank is
(2·before + c + 1)/2, an exact half-integer computed in integer
arithmetic — then joined back to the rows, and ρ is the Pearson formula
over the exact DECIMAL(19,1) midranks (all moment sums exact; the one
division and sqrt happen at the edge).  NTILE/RANK tie conventions never
enter.

Scale: two histogram aggs (distinct-value cardinality), two hash joins
back to the fact rows (the quantity side is 50 distinct values —
broadcast), one moment agg.  No global sort, no window over row-scale
data.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.registry import register


def _spearman_bases(dialect: str) -> list[tuple[str, str]]:
    """rows_xy is referenced THREE times (both histograms + the rank
    join-back); materialized so the fact scan happens once instead of
    being inlined per reference."""
    x = "CAST(l_quantity AS DECIMAL(18,2))"
    y = "CAST(l_extendedprice AS DECIMAL(18,2))"
    return [("rows_xy", f"""rows_xy AS {mat(dialect)}(
  SELECT {x} AS x, {y} AS y FROM lineitem
)""")]


def _spearman_sql(dialect: str) -> str:
    return f"""
WITH hx AS (
  SELECT x, COUNT(*) AS c FROM rows_xy GROUP BY x
),
rx AS (
  SELECT x,
         CAST(2 * (SUM(c) OVER (ORDER BY x) - c) + c + 1 AS DECIMAL(19,1)) / 2
           AS r
  FROM hx
),
hy AS (
  SELECT y, COUNT(*) AS c FROM rows_xy GROUP BY y
),
ry AS (
  SELECT y,
         CAST(2 * (SUM(c) OVER (ORDER BY y) - c) + c + 1 AS DECIMAL(19,1)) / 2
           AS r
  FROM hy
),
ranked AS (
  SELECT rx.r AS a, ry.r AS b
  FROM rows_xy t JOIN rx ON t.x = rx.x JOIN ry ON t.y = ry.y
),
m AS {mat(dialect)}(
  SELECT COUNT(*) AS n, SUM(a) AS sa, SUM(b) AS sb,
         SUM(a * b) AS sab, SUM(a * a) AS saa, SUM(b * b) AS sbb
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND((n * CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             / sqrt((n * CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                    * (n * CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))),
             6) AS spearman_rho
FROM m
"""


register(
    "spearman_qty_price",
    oracle=compose_with(_spearman_bases(DUCKDB), _spearman_sql(DUCKDB)),
    doc="Spearman rank correlation of quantity vs extendedprice with exact "
    "integer-arithmetic tie midranks from value histograms (never "
    "RANK/NTILE tie conventions); exact decimal rank moments",
)(sql_runner(_spearman_sql, ("lineitem",), stages=cte_stages(_spearman_bases)))
