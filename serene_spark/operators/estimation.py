"""Resampling-free statistical estimation — grouped jackknife and
capture-recapture population estimation.  Siblings of the Poisson
bootstrap (operators/bootstrap.py): where the bootstrap needs seeded
randomness, these two are fully deterministic, so they are oracle-exact.

* ``jackknife_mean_order`` — delete-one-GROUP (nation) jackknife of the
  mean order totalprice.  The whole estimator works off the per-nation
  (n, Σ) relation — one scan, one small keyed agg; every leave-one-out
  mean is (S_tot − S_i)/(n_tot − n_i) in exact decimals, and the jackknife
  SE over the g=25 group estimates is sqrt((g−1)/g · Σ(θ_i − θ̄)²)
  (Efron & Stein's grouped form).  Output: one row per nation with its
  leave-one-out mean + the shared point estimate and SE — reading the
  spread of theta_loo IS the influence diagnostic (which nation moves the
  global mean most).
* ``capture_recapture_users`` — Chapman's bias-corrected Lincoln-Petersen
  estimate of the user population from two behavioral "captures": users
  seen clicking (capture 1) and users seen viewing (capture 2).
  N̂ = (n1+1)(n2+1)/(m+1) − 1, with Seber's variance estimate.  The corpus
  also yields the TRUE distinct-user count, emitted beside the estimate —
  the query self-reports its own estimation error, the sketch-audit
  convention (operators/corpus_stats.py).

Scale: both reduce the fact table to a constant-size relation in one
map-side-combinable pass (per-nation sums; three COUNT(DISTINCT) branches
over user_id).  The estimator algebra runs on constants.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.registry import register


def _jackknife_sql(dialect: str) -> str:
    v = "CAST(o_totalprice AS DECIMAL(18,2))"
    return f"""
WITH per AS {mat(dialect)}(
  SELECT n.n_name AS nation, COUNT(*) AS n, SUM({v}) AS s
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
),
tot AS {mat(dialect)}(
  SELECT COUNT(*) AS g, SUM(n) AS n_tot, SUM(s) AS s_tot FROM per
),
loo AS (
  SELECT p.nation,
         (CAST(t.s_tot AS DOUBLE) - CAST(p.s AS DOUBLE))
           / (t.n_tot - p.n) AS theta_loo,
         CAST(t.s_tot AS DOUBLE) / t.n_tot AS theta_hat,
         t.g
  FROM per p JOIN tot t ON 1 = 1
),
mean_loo AS (
  SELECT SUM(CAST(ROUND(theta_loo, 9) AS DECIMAL(20,9))) AS s_loo, COUNT(*) AS g
  FROM loo
),
se AS (
  SELECT sqrt((l.g - 1.0) / l.g * SUM(
           CAST(ROUND(
             (l.theta_loo - CAST(m.s_loo AS DOUBLE) / m.g)
             * (l.theta_loo - CAST(m.s_loo AS DOUBLE) / m.g), 9)
           AS DECIMAL(24,9))))
           AS jk_se
  FROM loo l JOIN mean_loo m ON 1 = 1
  GROUP BY l.g
)
SELECT l.nation,
       ROUND(l.theta_loo, 6) AS theta_loo,
       ROUND(l.theta_hat, 6) AS theta_hat,
       ROUND(s.jk_se, 6) AS jackknife_se,
       CAST(l.g AS BIGINT) AS n_groups
FROM loo l JOIN se s ON 1 = 1
ORDER BY l.nation
"""


register(
    "jackknife_mean_order",
    oracle=_jackknife_sql(DUCKDB),
    doc="Delete-one-nation grouped jackknife of mean order totalprice: "
    "exact decimal leave-one-out means off the per-nation (n, sum) "
    "relation, (g-1)/g grouped SE; theta_loo spread is the influence "
    "diagnostic",
)(sql_runner(_jackknife_sql, ("orders", "customer", "nation")))


def _capture_sql(dialect: str) -> str:
    return f"""
WITH caps AS {mat(dialect)}(
  SELECT COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS n1,
         COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END) AS n2,
         COUNT(DISTINCT user_id) AS n_true
  FROM events
),
recap AS {mat(dialect)}(
  SELECT COUNT(*) AS m FROM (
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'view'
  ) i
)
SELECT CAST(c.n1 AS BIGINT) AS n_capture1,
       CAST(c.n2 AS BIGINT) AS n_capture2,
       CAST(b.m AS BIGINT) AS n_both,
       ROUND((CAST(c.n1 AS DOUBLE) + 1) * (c.n2 + 1) / (b.m + 1) - 1, 6)
         AS n_hat_chapman,
       ROUND(sqrt((CAST(c.n1 AS DOUBLE) + 1) * (c.n2 + 1)
                  * (c.n1 - b.m) * (c.n2 - b.m)
                  / ((CAST(b.m AS DOUBLE) + 1) * (b.m + 1) * (b.m + 2))), 6)
         AS se_seber,
       CAST(c.n_true AS BIGINT) AS n_true_users
FROM caps c JOIN recap b ON 1 = 1
"""


register(
    "capture_recapture_users",
    oracle=_capture_sql(DUCKDB),
    doc="Chapman bias-corrected Lincoln-Petersen estimate of the user "
    "population from click/view captures + Seber SE; emits the true "
    "distinct-user count beside the estimate (self-reported error)",
)(sql_runner(_capture_sql, ("events",)))
