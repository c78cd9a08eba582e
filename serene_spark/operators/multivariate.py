"""Multivariate statistics — Mahalanobis outlier scoring and closed-form
2-D PCA, both fully declarative and oracle-exact.

* ``mahalanobis_outliers`` — multivariate outlier screen over lineitem
  (quantity, extendedprice, discount).  ONE scan reduces the fact table to
  the nine exact-decimal second-moment sums + three first moments (the same
  convention as ``ols_revenue_drivers``); the 3×3 covariance inverse is the
  explicit cofactor solve shared with the regression family
  (regression._inv3); a second map-only pass scores every row's squared
  Mahalanobis distance against the broadcast 1-row stats relation and keeps
  the top TOP_K by (ROUND(d²,6) DESC, orderkey, linenumber).  This is the
  classic covariance-aware anomaly screen — on correlated columns it ranks a
  jointly-consistent extreme row below an inconsistent one where independent
  z-scores cannot.  (The synthetic corpus's three columns happen to be nearly
  uncorrelated, so there the score reduces to a calibrated z-norm; the plan
  and the algebra are the general ones.)
* ``pca_user_activity`` — principal components of the per-user
  (ln(1+clicks), ln(1+views)) activity cloud.  The 2×2 symmetric eigenproblem
  is CLOSED FORM (λ = m ± sqrt(((a−c)/2)² + b²)), so the whole PCA — moments,
  covariance, eigenvalues, variance-explained, normalized sign-fixed PC1
  loadings — is one SQL expression over decimal-exact moment sums
  (per-user ln values quantized to 9 dp before summation, the engine-wide
  convention that makes double sums aggregation-order independent).

Scale: both are map-side-combinable aggregations; the Mahalanobis scoring
pass is map-only with a broadcast constant — at 100 TB each operator is one
shuffle-free scan plus one tiny agg exchange.  The numpy pins live in
tests/test_multivariate.py.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.operators.regression import _inv3
from serene_spark.registry import register

TOP_K = 20

_X1 = "CAST(l_quantity AS DECIMAL(18,2))"
_X2 = "CAST(l_extendedprice AS DECIMAL(18,2))"
_X3 = "CAST(l_discount AS DECIMAL(18,2))"


def _maha_sql(dialect: str) -> str:
    cov = {}
    for i, j, qn in (("1", "1", "q11"), ("1", "2", "q12"), ("1", "3", "q13"),
                     ("2", "2", "q22"), ("2", "3", "q23"), ("3", "3", "q33")):
        cov[f"{int(i)-1}{int(j)-1}"] = (
            f"((CAST(m.{qn} AS DOUBLE)"
            f" - CAST(m.s{i} AS DOUBLE) * CAST(m.s{j} AS DOUBLE) / m.n)"
            f" / (m.n - 1))"
        )
    det, adj = _inv3(cov)
    dx = [f"(CAST(l.x{i} AS DOUBLE) - CAST(m.s{i} AS DOUBLE) / m.n)" for i in (1, 2, 3)]
    terms = []
    for j in range(3):
        for k in range(3):
            a = adj[(min(j, k), max(j, k))]
            terms.append(f"{a} * {dx[j]} * {dx[k]}")
    d2 = f"(({' + '.join(terms)}) / {det})"
    return f"""
WITH m AS {mat(dialect)}(
  SELECT COUNT(*) AS n,
         SUM({_X1}) AS s1, SUM({_X2}) AS s2, SUM({_X3}) AS s3,
         SUM({_X1} * {_X1}) AS q11, SUM({_X1} * {_X2}) AS q12,
         SUM({_X1} * {_X3}) AS q13, SUM({_X2} * {_X2}) AS q22,
         SUM({_X2} * {_X3}) AS q23, SUM({_X3} * {_X3}) AS q33
  FROM lineitem
),
scored AS (
  SELECT l.l_orderkey, l.l_linenumber, l.x1, l.x2, l.x3,
         ROUND({d2}, 6) AS maha_sq
  FROM (SELECT l_orderkey, l_linenumber, {_X1} AS x1, {_X2} AS x2, {_X3} AS x3
        FROM lineitem) l
  JOIN m ON 1 = 1
)
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       ROUND(CAST(x1 AS DOUBLE), 2) AS quantity,
       ROUND(CAST(x2 AS DOUBLE), 2) AS extendedprice,
       ROUND(CAST(x3 AS DOUBLE), 2) AS discount,
       maha_sq
FROM scored
ORDER BY maha_sq DESC, l_orderkey, l_linenumber
LIMIT {TOP_K}
"""


register(
    "mahalanobis_outliers",
    oracle=_maha_sql(DUCKDB),
    doc="Covariance-aware multivariate outlier screen on lineitem "
    "(quantity, extendedprice, discount): decimal-exact moment sums from "
    "one scan, explicit 3x3 cofactor inverse, map-only scoring pass "
    "against the broadcast 1-row stats relation, deterministic top-k",
)(sql_runner(_maha_sql, ("lineitem",)))


# ------------------------------------------------------------- 2-D PCA


def _pca_sql(dialect: str) -> str:
    qx = "CAST(ROUND(ln(1.0 + clicks), 9) AS DECIMAL(18,9))"
    qy = "CAST(ROUND(ln(1.0 + views), 9) AS DECIMAL(18,9))"
    a = "(CAST(m.qxx AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sx AS DOUBLE) / m.n) / (m.n - 1)"
    b = "(CAST(m.qxy AS DOUBLE) - CAST(m.sx AS DOUBLE) * CAST(m.sy AS DOUBLE) / m.n) / (m.n - 1)"
    c = "(CAST(m.qyy AS DOUBLE) - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE) / m.n) / (m.n - 1)"
    return f"""
WITH per_user AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS views
  FROM events GROUP BY user_id
),
m AS {mat(dialect)}(
  SELECT COUNT(*) AS n,
         SUM({qx}) AS sx, SUM({qy}) AS sy,
         SUM({qx} * {qx}) AS qxx, SUM({qx} * {qy}) AS qxy,
         SUM({qy} * {qy}) AS qyy
  FROM per_user
),
cov AS (
  SELECT m.n, {a} AS a, {b} AS b, {c} AS c FROM m
),
eig AS (
  SELECT n, a, b, c,
         (a + c) / 2 + sqrt((a - c) * (a - c) / 4 + b * b) AS l1,
         (a + c) / 2 - sqrt((a - c) * (a - c) / 4 + b * b) AS l2
  FROM cov
),
vec AS (
  -- PC1 eigenvector (b, l1 - a); degenerate b=0 falls back to an axis
  SELECT n, a, b, c, l1, l2,
         CASE WHEN abs(b) < 1e-12 AND a >= c THEN 1.0
              WHEN abs(b) < 1e-12 THEN 0.0
              ELSE b / sqrt(b * b + (l1 - a) * (l1 - a)) END AS vx,
         CASE WHEN abs(b) < 1e-12 AND a >= c THEN 0.0
              WHEN abs(b) < 1e-12 THEN 1.0
              ELSE (l1 - a) / sqrt(b * b + (l1 - a) * (l1 - a)) END AS vy
  FROM eig
)
SELECT CAST(n AS BIGINT) AS n_users,
       ROUND(a, 6) AS var_x,
       ROUND(c, 6) AS var_y,
       ROUND(b, 6) AS cov_xy,
       ROUND(l1, 6) AS lambda1,
       ROUND(l2, 6) AS lambda2,
       ROUND(l1 / (l1 + l2), 6) AS var_explained_pc1,
       -- sign-fix: loading_x >= 0 (loading_y >= 0 when loading_x = 0)
       ROUND(CASE WHEN vx < 0 OR (vx = 0 AND vy < 0) THEN -vx ELSE vx END, 6)
         AS loading_x,
       ROUND(CASE WHEN vx < 0 OR (vx = 0 AND vy < 0) THEN -vy ELSE vy END, 6)
         AS loading_y
FROM vec
"""


register(
    "pca_user_activity",
    oracle=_pca_sql(DUCKDB),
    doc="Closed-form 2x2 PCA of per-user (ln(1+clicks), ln(1+views)): "
    "9-dp-quantized decimal moment sums, eigenvalues/variance-explained/"
    "sign-fixed PC1 loadings as one SQL expression",
)(sql_runner(_pca_sql, ("events",)))
