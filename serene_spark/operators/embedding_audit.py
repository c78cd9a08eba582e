"""Embedding separability audit — per-dimension Fisher (one-way ANOVA F)
ratio across the label classes, the "which dimensions carry the signal"
check run before training a classifier head or choosing PQ sub-spaces.

``embedding_fisher_ratio``: for each embedding dimension d,
F_d = MS_between / MS_within over the ``label`` classes, where
MS_between = Σ_c n_c(μ_cd − μ_d)²/(C−1), MS_within = SSW/(N−C) — exactly
the one-way ANOVA F (operators/regression.anova_value_by_type is the
scalar sibling; this is its vectorized per-dimension family).  Values
quantize to integer micro-units via FLOOR of the exact double — the
embedding_dim_stats convention (float→DECIMAL casts round differently
across engines at the last digit; double-multiply + FLOOR is
IEEE-identical) — so every moment is an exact integer sum.  Output: the
top ``TOP_DIMS`` most separable dimensions with their F, η², and class
count; ranked on (ROUND(F,6) DESC, dim).

Scale: ONE scan of the embedding corpus explodes to (dim, label) keyed
partial sums — map-side combine reduces each partition to
dims × classes rows before the shuffle; the F algebra runs on that
constant-size relation.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.operators.vocab import emb_dims_rel
from serene_spark.registry import register

TOP_DIMS = 16


def _fisher_sql(dialect: str) -> str:
    return f"""
WITH {emb_dims_rel(dialect, with_label=True)},
cell AS {mat(dialect)}(
  SELECT i, label, COUNT(*) AS n, SUM(x) AS s,
         SUM(CAST(x AS DECIMAL(19,0)) * x) AS q
  FROM dims GROUP BY i, label
),
per_dim AS (
  SELECT i, COUNT(*) AS c, SUM(n) AS n_tot, SUM(s) AS s_tot,
         SUM(q) AS q_tot,
         -- SSW = Sigma_c (q_c - s_c^2/n_c); each cell term is 6-dp-quantized
         -- and DECIMAL-summed so partial-aggregation order cannot move it
         CAST(SUM(CAST(ROUND(
           CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 6)
         AS DECIMAL(38,6))) AS DOUBLE) AS ssw
  FROM cell GROUP BY i
),
f AS (
  SELECT i, c, n_tot,
         (CAST(q_tot AS DOUBLE)
          - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n_tot - ssw) AS ssb,
         ssw
  FROM per_dim
)
SELECT CAST(i AS BIGINT) AS dim,
       CAST(c AS BIGINT) AS n_classes,
       ROUND((ssb / (c - 1)) / (ssw / (n_tot - c)), 6) AS fisher_f,
       ROUND(ssb / (ssb + ssw), 6) AS eta_sq
FROM f
ORDER BY fisher_f DESC, dim
LIMIT {TOP_DIMS}
"""


register(
    "embedding_fisher_ratio",
    oracle=_fisher_sql(DUCKDB),
    doc=f"Per-dimension Fisher/ANOVA-F separability of embeddings across "
    f"label classes: micro-unit-quantized exact integer moments from one "
    f"scan, top-{TOP_DIMS} most separable dimensions with eta^2",
)(sql_runner(_fisher_sql, ("embeddings",), spread=True))
