"""Panel econometrics — the one-way fixed-effects (within) estimator,
the standard answer to "is the pooled slope an artifact of entity-level
heterogeneity?".

``fe_within_discount``: lineitem revenue regressed on discount WITH PART
FIXED EFFECTS, via the within transformation: demean x and y inside each
part, then the simple-regression slope on the demeaned data.  The whole
estimator reduces to exact-decimal algebra WITHOUT materializing any
demeaned row:

    Sxy_within = Σxy − Σ_i (Σx_i · Σy_i / n_i)
    Sxx_within = Σx² − Σ_i (Σx_i² / n_i)

i.e. one (part)-keyed agg for the per-entity sums + one global agg —
the per-entity correction terms are the only division, quantized to 9 dp
and DECIMAL-summed.  The POOLED slope is emitted beside the FE slope:
their gap is the measured entity-heterogeneity bias (what a fixed-effect
panel regression exists to remove), and the R²-within completes the
readout.  Degrees of freedom account for the absorbed entity effects
(n − n_parts − 1).

Scale: one fact scan → part-keyed partial sums (map-side combinable) →
constant-size closed form.  No demeaned intermediate, no join back.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.registry import register

_X = "CAST(l_discount AS DECIMAL(18,2))"
_Y = ("CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))"
      " * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DECIMAL(18,2))")


def _fe_sql(dialect: str) -> str:
    return f"""
WITH per AS {mat(dialect)}(
  SELECT l_partkey, COUNT(*) AS n,
         SUM({_X}) AS sx, SUM({_Y}) AS sy,
         SUM({_X} * {_Y}) AS sxy, SUM({_X} * {_X}) AS sxx,
         SUM({_Y} * {_Y}) AS syy
  FROM lineitem GROUP BY l_partkey
),
tot AS (
  SELECT COUNT(*) AS n_parts, SUM(n) AS n,
         SUM(sx) AS sx, SUM(sy) AS sy,
         SUM(sxy) AS sxy, SUM(sxx) AS sxx, SUM(syy) AS syy,
         -- within-correction terms: per-entity mean products, 9-dp decimal
         SUM(CAST(ROUND(CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n, 9)
                  AS DECIMAL(28,9))) AS cxy,
         SUM(CAST(ROUND(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n, 9)
                  AS DECIMAL(28,9))) AS cxx,
         SUM(CAST(ROUND(CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n, 9)
                  AS DECIMAL(28,9))) AS cyy
  FROM per
),
est AS (
  SELECT n, n_parts,
         (CAST(sxy AS DOUBLE) - CAST(cxy AS DOUBLE)) AS sxy_w,
         (CAST(sxx AS DOUBLE) - CAST(cxx AS DOUBLE)) AS sxx_w,
         (CAST(syy AS DOUBLE) - CAST(cyy AS DOUBLE)) AS syy_w,
         (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           AS beta_pooled
  FROM tot
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(n_parts AS BIGINT) AS n_entities,
       ROUND(sxy_w / sxx_w, 6) AS beta_within,
       ROUND(beta_pooled, 6) AS beta_pooled,
       ROUND(sxy_w / sxx_w - beta_pooled, 6) AS heterogeneity_bias,
       ROUND(sxy_w * sxy_w / (sxx_w * syy_w), 6) AS r2_within,
       CAST(n - n_parts - 1 AS BIGINT) AS df_within
FROM est
"""


register(
    "fe_within_discount",
    oracle=_fe_sql(DUCKDB),
    doc="One-way fixed-effects (within) estimator: revenue ~ discount with "
    "part fixed effects, computed from per-entity exact-decimal sums "
    "without materializing demeaned rows; pooled slope emitted beside it "
    "(the gap = measured entity-heterogeneity bias)",
)(sql_runner(_fe_sql, ("lineitem",)))
