"""Grouped simple regression — per-segment price elasticity of demand.

``elasticity_loglog_parts``: the classic log-log demand model
ln(quantity) = α + β·ln(unit price), fitted INDEPENDENTLY per part type
with the UNIT price l_extendedprice / l_quantity as the regressor —
extendedprice itself mechanically contains quantity, so regressing on it
would measure the built-in qty-in-revenue identity, not price response —
the closed-form simple-regression solution
β = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²).  β is the price elasticity (a 1 %
price increase moves demand β %).  Where ``ols_revenue_drivers`` fits one
global multivariate model via the 3×3 solve, this is the GROUPED
univariate family: one scan reduces lineitem⋈part to per-type
(n, Σx, Σy, Σxy, Σx², Σy²) — six 9-dp-quantized decimal sums each — and
the per-group closed forms (slope, intercept, Pearson r²) read off that
constant-size relation.  Grouped regression is the shape dashboards
actually ask for ("slope per segment"), and it needs no iteration and no
matrix solve — only exact moment algebra.

Scale: one fact-scan with a broadcast part dim, map-side-combinable sums
keyed on p_type (constant cardinality).  Nothing else shuffles.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.registry import register


def _elasticity_sql(dialect: str) -> str:
    x = ("CAST(ROUND(ln(CAST(l_extendedprice AS DOUBLE) "
         "/ CAST(l_quantity AS DOUBLE)), 9) AS DECIMAL(18,9))")
    y = "CAST(ROUND(ln(CAST(l_quantity AS DOUBLE)), 9) AS DECIMAL(18,9))"
    sxy = "(m.n * CAST(m.qxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE))"
    sxx = "(m.n * CAST(m.qxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE))"
    syy = "(m.n * CAST(m.qyy AS DOUBLE) - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE))"
    return f"""
WITH m AS {mat(dialect)}(
  SELECT p.p_type, COUNT(*) AS n,
         SUM({x}) AS sx, SUM({y}) AS sy,
         SUM({x} * {y}) AS qxy, SUM({x} * {x}) AS qxx, SUM({y} * {y}) AS qyy
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_type
)
SELECT m.p_type,
       CAST(m.n AS BIGINT) AS n,
       ROUND({sxy} / {sxx}, 6) AS elasticity,
       ROUND((CAST(m.sy AS DOUBLE) - {sxy} / {sxx} * CAST(m.sx AS DOUBLE)) / m.n, 6)
         AS intercept,
       ROUND({sxy} * {sxy} / ({sxx} * {syy}), 6) AS r2
FROM m
ORDER BY m.p_type
"""


register(
    "elasticity_loglog_parts",
    oracle=_elasticity_sql(DUCKDB),
    doc="Per-part-type log-log price elasticity: grouped closed-form simple "
    "regression over six 9-dp-quantized decimal moment sums per group; "
    "slope = elasticity, with intercept and Pearson r^2",
)(sql_runner(_elasticity_sql, ("lineitem", "part")))
