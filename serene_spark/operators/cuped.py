"""Experiment-efficiency statistics — CUPED variance reduction and the
intraclass correlation / design effect for clustered designs.

* ``ab_cuped_adjusted`` — CUPED (Controlled-experiment Using Pre-Existing
  Data; Deng et al., WSDM 2013): per user, the experiment metric is the
  SECOND-half-of-window purchase value and the covariate is the
  FIRST-half value; the adjusted metric y − θ(x − x̄) with
  θ = cov(x,y)/var(x) provably minimizes variance among linear
  adjustments.  The operator fits θ pooled, adjusts, and emits the A/B
  difference BEFORE and AFTER adjustment with both variances — the
  variance-reduction ratio (≈ 1 − ρ²) is the whole point and it is
  measured, not assumed.  All moments are 9-dp-quantized decimal sums.
* ``icc_design_effect`` — one-way intraclass correlation of order value
  within customer-nation clusters (ICC(1) from the ANOVA mean squares,
  Fisher): ICC = (MSB − MSW)/(MSB + (m̄−1)·MSW) with m̄ the average
  cluster size, and the Kish design effect DEFF = 1 + (m̄−1)·ICC — how
  many times more samples a cluster-randomized readout needs than an
  independent one.  The cluster-sampling counterpart of
  ``neyman_allocation``'s stratified design.

Scale: both reduce facts to per-user / per-cluster exact-decimal moments
in one pass; the estimator algebra runs on constants.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import variant_expr, DUCKDB, epoch_us, idiv, mat
from serene_spark.registry import register


def _cuped_bases(dialect: str) -> list[tuple[str, str]]:
    m = mat(dialect)
    us = epoch_us(dialect, "ts")
    variant = variant_expr(dialect)
    z = "CAST(0 AS DECIMAL(18,2))"
    # integer floor midpoint: a fractional /2 and the tests' // disagree
    # for an event landing exactly on the floored midpoint of an odd span
    half_span = idiv(dialect, "(b.t1 - b.t0)", 2)
    body = f"""b AS (
  SELECT MIN({us}) AS t0, MAX({us}) AS t1 FROM events
),
per_user AS {m}(
  SELECT user_id, {variant} AS arm,
         SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                   AND {us} - b.t0 < {half_span}
             THEN CAST(value AS DECIMAL(18,2)) ELSE {z} END) AS x,
         SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
                   AND {us} - b.t0 >= {half_span}
             THEN CAST(value AS DECIMAL(18,2)) ELSE {z} END) AS y
  FROM events JOIN b ON 1 = 1
  GROUP BY user_id, {variant}
)"""
    return [("per_user", body)]


def _cuped_tail(dialect: str) -> str:
    qx = "CAST(ROUND(CAST(x AS DOUBLE), 9) AS DECIMAL(24,9))"
    qy = "CAST(ROUND(CAST(y AS DOUBLE), 9) AS DECIMAL(24,9))"
    return f"""
WITH mom AS (
  SELECT COUNT(*) AS n, SUM({qx}) AS sx, SUM({qy}) AS sy,
         SUM({qx} * {qy}) AS sxy, SUM({qx} * {qx}) AS sxx
  FROM per_user
),
theta AS (
  SELECT n,
         CAST(sx AS DOUBLE) / n AS xbar,
         (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           AS th
  FROM mom
),
adj AS (
  SELECT p.arm,
         COUNT(*) AS n,
         SUM({qy}) AS sy, SUM({qy} * {qy}) AS syy,
         SUM(CAST(ROUND(CAST(p.y AS DOUBLE)
                        - t.th * (CAST(p.x AS DOUBLE) - t.xbar), 9)
             AS DECIMAL(24,9))) AS sa,
         SUM(CAST(ROUND((CAST(p.y AS DOUBLE)
                         - t.th * (CAST(p.x AS DOUBLE) - t.xbar))
                        * (CAST(p.y AS DOUBLE)
                           - t.th * (CAST(p.x AS DOUBLE) - t.xbar)), 9)
             AS DECIMAL(28,9))) AS saa
  FROM per_user p JOIN theta t ON 1 = 1
  GROUP BY p.arm
),
sides AS (
  SELECT
    MAX(CASE WHEN arm = 0 THEN n END) AS n0,
    MAX(CASE WHEN arm = 1 THEN n END) AS n1,
    MAX(CASE WHEN arm = 0 THEN CAST(sy AS DOUBLE) / n END) AS y0,
    MAX(CASE WHEN arm = 1 THEN CAST(sy AS DOUBLE) / n END) AS y1,
    MAX(CASE WHEN arm = 0 THEN
      (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        / (n - 1) END) AS vy0,
    MAX(CASE WHEN arm = 1 THEN
      (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        / (n - 1) END) AS vy1,
    MAX(CASE WHEN arm = 0 THEN CAST(sa AS DOUBLE) / n END) AS a0,
    MAX(CASE WHEN arm = 1 THEN CAST(sa AS DOUBLE) / n END) AS a1,
    MAX(CASE WHEN arm = 0 THEN
      (CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / n)
        / (n - 1) END) AS va0,
    MAX(CASE WHEN arm = 1 THEN
      (CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / n)
        / (n - 1) END) AS va1
  FROM adj
)
SELECT CAST(n0 AS BIGINT) AS n_arm0,
       CAST(n1 AS BIGINT) AS n_arm1,
       ROUND((SELECT th FROM theta), 6) AS theta,
       ROUND(y1 - y0, 6) AS diff_raw,
       ROUND(a1 - a0, 6) AS diff_cuped,
       ROUND(vy0 / n0 + vy1 / n1, 6) AS var_diff_raw,
       ROUND(va0 / n0 + va1 / n1, 6) AS var_diff_cuped,
       ROUND(1 - (va0 / n0 + va1 / n1) / (vy0 / n0 + vy1 / n1), 6)
         AS variance_reduction
FROM sides
"""


register(
    "ab_cuped_adjusted",
    oracle=compose_with(_cuped_bases(DUCKDB), _cuped_tail(DUCKDB)),
    doc="CUPED variance reduction (Deng et al. 2013): pre-period covariate "
    "theta-adjustment of the A/B metric with the raw and adjusted "
    "differences AND variances emitted — the reduction is measured, not "
    "assumed",
)(sql_runner(_cuped_tail, ("events",), stages=cte_stages(_cuped_bases)))


def _icc_sql(dialect: str) -> str:
    v = "CAST(o_totalprice AS DECIMAL(18,2))"
    return f"""
WITH cl AS (
  SELECT c.c_nationkey AS cluster, COUNT(*) AS m,
         SUM({v}) AS s, SUM({v} * {v}) AS q
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_nationkey
),
tot AS {mat(dialect)}(
  SELECT COUNT(*) AS k, SUM(m) AS n, SUM(s) AS s_tot, SUM(q) AS q_tot,
         SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / m, 6)
                  AS DECIMAL(28,6))) AS ssb_part
  FROM cl
),
ms AS (
  SELECT k, n,
         -- SSB = Sigma s_i^2/m_i - S^2/N ; SSW = Sigma q - Sigma s_i^2/m_i
         (CAST(ssb_part AS DOUBLE)
          - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n) / (k - 1) AS msb,
         (CAST(q_tot AS DOUBLE) - CAST(ssb_part AS DOUBLE)) / (n - k) AS msw,
         CAST(n AS DOUBLE) / k AS m_bar
  FROM tot
)
SELECT CAST(k AS BIGINT) AS n_clusters,
       CAST(n AS BIGINT) AS n_orders,
       ROUND(m_bar, 6) AS avg_cluster_size,
       ROUND(msb, 6) AS ms_between,
       ROUND(msw, 6) AS ms_within,
       ROUND((msb - msw) / (msb + (m_bar - 1) * msw), 6) AS icc,
       ROUND(1 + (m_bar - 1)
             * ((msb - msw) / (msb + (m_bar - 1) * msw)), 6) AS design_effect
FROM ms
"""


register(
    "icc_design_effect",
    oracle=_icc_sql(DUCKDB),
    doc="ICC(1) of order value within nation clusters from the ANOVA mean "
    "squares + the Kish design effect 1+(m-1)ICC — the cluster-sampling "
    "counterpart of neyman_allocation",
)(sql_runner(_icc_sql, ("orders", "customer")))
