"""Flow and growth accounting — Little's law over the order pipeline and
the weekly revenue growth-accounting decomposition.

* ``littles_law_orders`` — the queueing identity L = λ·W (Little 1961)
  CHECKED on the order flow: L = time-averaged work-in-progress computed
  via the sweep-line +1/−1 daily WIP series (order_backlog_daily's shape
  — an INDEPENDENT path from the duration sums), λ = arrivals per day,
  W = mean time in system from per-order durations.  For a complete
  observation window the identity holds exactly, and because the two
  sides come from different computations the emitted gap is a real
  consistency check (a broken sweep or corrupted intervals would surface
  here), not an algebraic tautology.
* ``growth_accounting_weekly`` — the SaaS growth-accounting ledger over
  user purchase revenue by week: NEW (first-ever week), RESURRECTED
  (returned after an absent week), EXPANSION/CONTRACTION (same users
  spending more/less than last week), CHURNED (last week's spenders
  gone).  Conservation law: MRR(t) = MRR(t−1) + new + resurrected +
  expansion − contraction − churned, which the output carries as an
  emitted residual (exact decimals — the residual is exactly zero).

Scale: Little's law is two keyed aggs + a 2-row-per-order sweep;
growth accounting is one (user, week) agg then a user-keyed LAG window
over the user-week relation, then a week agg.  No data-scale windows.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_s, idiv, mat
from serene_spark.registry import register


def _little_bases(dialect: str) -> list[tuple[str, str]]:
    od = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    sd = idiv(dialect, f"({epoch_s(dialect, 'l_shipdate')})", 86400)
    m = mat(dialect)
    return [("iv", f"""iv AS {m}(
  SELECT o.o_orderkey, MAX({od}) AS s, MAX({sd}) AS e
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey
)""")]


def _little_tail(dialect: str) -> str:
    """L is computed INDEPENDENTLY of lambda*W: the sweep-line +1/-1 daily
    WIP series (two delta rows per order, cumulative over the day index,
    day-weighted mean) — so the identity gap is a real consistency check
    between two different computations of the same quantity, not an
    algebraic tautology.  For a complete observation window the two agree
    exactly; corrupted intervals or a broken sweep would surface here."""
    return """
WITH bounds AS (
  SELECT MIN(s) AS d0, MAX(e) AS d1, COUNT(*) AS n_orders,
         SUM(CAST(e - s + 1 AS DECIMAL(18,0))) AS total_days_in_system
  FROM iv
),
deltas AS (
  SELECT s AS day, 1 AS delta FROM iv
  UNION ALL
  SELECT e + 1 AS day, -1 AS delta FROM iv
),
daily AS (
  SELECT day, SUM(delta) AS d FROM deltas GROUP BY day
),
wip AS (
  -- WIP level holds from this day until the NEXT delta day
  SELECT day,
         SUM(d) OVER (ORDER BY day) AS level,
         LEAD(day) OVER (ORDER BY day) AS next_day
  FROM daily
),
l_sweep AS (
  SELECT SUM(CAST(level AS DECIMAL(18,0))
             * (COALESCE(next_day, day + 1) - day)) AS wip_days
  FROM wip
)
SELECT CAST(b.n_orders AS BIGINT) AS n_orders,
       CAST(b.d1 - b.d0 + 1 AS BIGINT) AS window_days,
       -- L via the sweep-line WIP series (independent computation)
       ROUND(CAST(l.wip_days AS DOUBLE) / (b.d1 - b.d0 + 1), 6) AS l_avg_wip,
       ROUND(CAST(b.n_orders AS DOUBLE) / (b.d1 - b.d0 + 1), 6) AS lambda_per_day,
       ROUND(CAST(b.total_days_in_system AS DOUBLE) / b.n_orders, 6) AS w_mean_days,
       -- lambda * W via the per-order duration sums
       ROUND(CAST(b.n_orders AS DOUBLE) / (b.d1 - b.d0 + 1)
             * CAST(b.total_days_in_system AS DOUBLE) / b.n_orders, 6) AS lambda_w,
       ROUND(CAST(l.wip_days AS DOUBLE) / (b.d1 - b.d0 + 1)
             - CAST(b.n_orders AS DOUBLE) / (b.d1 - b.d0 + 1)
               * CAST(b.total_days_in_system AS DOUBLE) / b.n_orders, 6)
         AS identity_gap
FROM bounds b JOIN l_sweep l ON 1 = 1
"""


register(
    "littles_law_orders",
    oracle=compose_with(_little_bases(DUCKDB), _little_tail(DUCKDB)),
    doc="Little's law L = lambda*W checked on the order pipeline: "
    "time-averaged WIP, arrival rate, mean time-in-system and the "
    "identity gap emitted (exactly zero for the complete window)",
)(sql_runner(_little_tail, ("orders", "lineitem"), stages=cte_stages(_little_bases)))


def _growth_sql(dialect: str) -> str:
    # the event corpus spans ~1 calendar month -> the monthly ledger is a
    # single degenerate row; WEEKS give a real multi-period ledger
    wk = idiv(dialect, f"({epoch_s(dialect, 'ts')})", 86400 * 7)
    z = "CAST(0 AS DECIMAL(18,2))"
    return f"""
WITH um AS (
  SELECT user_id, {wk} AS m,
         SUM(CAST(value AS DECIMAL(18,2))) AS rev
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY user_id, {wk}
),
lagged AS (
  SELECT user_id, m, rev,
         LAG(m) OVER (PARTITION BY user_id ORDER BY m) AS prev_m,
         LAG(rev) OVER (PARTITION BY user_id ORDER BY m) AS prev_rev
  FROM um
),
-- churn rows: a user's revenue VANISHING in week m+1 (one synthetic row
-- per user-week with no successor week)
flows AS (
  SELECT m,
         CASE WHEN prev_m IS NULL THEN rev ELSE {z} END AS new_rev,
         CASE WHEN prev_m IS NOT NULL AND prev_m < m - 1 THEN rev
              ELSE {z} END AS resurrected_rev,
         CASE WHEN prev_m = m - 1 AND rev > prev_rev THEN rev - prev_rev
              ELSE {z} END AS expansion_rev,
         CASE WHEN prev_m = m - 1 AND rev < prev_rev THEN prev_rev - rev
              ELSE {z} END AS contraction_rev,
         {z} AS churned_rev
  FROM lagged
  UNION ALL
  SELECT l.m + 1,
         {z}, {z}, {z}, {z}, l.rev
  FROM (
    SELECT m, rev,
           LEAD(m) OVER (PARTITION BY user_id ORDER BY m) AS next_m
    FROM um
  ) l
  WHERE (l.next_m IS NULL OR l.next_m > l.m + 1)
    AND l.m + 1 <= (SELECT MAX(m) FROM um)
),
ledger AS (
  SELECT m,
         SUM(new_rev) AS new_rev,
         SUM(resurrected_rev) AS resurrected_rev,
         SUM(expansion_rev) AS expansion_rev,
         SUM(contraction_rev) AS contraction_rev,
         SUM(churned_rev) AS churned_rev
  FROM flows GROUP BY m
),
mrr AS (
  SELECT m, SUM(rev) AS mrr FROM um GROUP BY m
)
SELECT CAST(l.m AS BIGINT) AS week_idx,
       ROUND(CAST(COALESCE(r1.mrr, {z}) AS DOUBLE), 2) AS mrr,
       ROUND(CAST(COALESCE(r0.mrr, {z}) AS DOUBLE), 2) AS mrr_prev,
       ROUND(CAST(l.new_rev AS DOUBLE), 2) AS new_rev,
       ROUND(CAST(l.resurrected_rev AS DOUBLE), 2) AS resurrected_rev,
       ROUND(CAST(l.expansion_rev AS DOUBLE), 2) AS expansion_rev,
       ROUND(CAST(l.contraction_rev AS DOUBLE), 2) AS contraction_rev,
       ROUND(CAST(l.churned_rev AS DOUBLE), 2) AS churned_rev,
       -- conservation: MRR(t) - MRR(t-1) - (new + res + exp - con - churn) = 0
       ROUND(CAST(COALESCE(r1.mrr, {z}) - COALESCE(r0.mrr, {z})
             - (l.new_rev + l.resurrected_rev + l.expansion_rev
                - l.contraction_rev - l.churned_rev) AS DOUBLE), 2)
         AS conservation_residual
FROM ledger l
LEFT JOIN mrr r1 ON r1.m = l.m
LEFT JOIN mrr r0 ON r0.m = l.m - 1
ORDER BY week_idx
"""


register(
    "growth_accounting_weekly",
    oracle=_growth_sql(DUCKDB),
    doc="SaaS growth-accounting ledger over weekly purchase revenue: "
    "new / resurrected / expansion / contraction / churned flows with "
    "the conservation residual emitted (exact decimals - zero)",
)(sql_runner(_growth_sql, ("events",)))
