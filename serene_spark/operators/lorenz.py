"""Lorenz curve — the decile-level concentration relation behind the
scalar Gini readout (operators/stats_extra.py's spend-concentration op).

``lorenz_customers``: customers ranked by total order revenue
(deterministic (revenue, custkey) order), cut into 10 equal-count decile
buckets via integer rank arithmetic — ``ceil(10·rank/n)``, never NTILE
(whose tie placement diverges across engines) — each decile reporting its
customer share, revenue share, cumulative revenue share (the Lorenz
ordinate), and the gap to the equality diagonal.  The curve is what the
Gini coefficient integrates; emitting the 10 points makes the
concentration SHAPE readable (is inequality driven by a long tail or one
decile?).

Scale: one orders scan → per-customer keyed agg → rank window over the
CUSTOMER-cardinality relation (never the fact table) → 10-row decile agg.
Exact decimal revenue sums everywhere; the only doubles are the final
share divisions.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.registry import register

N_BUCKETS = 10


def _lorenz_sql(dialect: str) -> str:
    return f"""
WITH per_cust AS {mat(dialect)}(
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT rev,
         ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rk,
         COUNT(*) OVER () AS n
  FROM per_cust
),
deciles AS (
  SELECT CAST(CEIL({N_BUCKETS}.0 * rk / n) AS INT) AS decile,
         COUNT(*) AS n_cust, SUM(rev) AS rev, MAX(n) AS n_tot
  FROM ranked GROUP BY CAST(CEIL({N_BUCKETS}.0 * rk / n) AS INT)
),
tot AS (
  SELECT SUM(rev) AS rev_tot FROM deciles
),
cum AS (
  SELECT d.decile, d.n_cust, d.rev, d.n_tot, t.rev_tot,
         SUM(d.rev) OVER (ORDER BY d.decile) AS rev_cum,
         SUM(d.n_cust) OVER (ORDER BY d.decile) AS cust_cum
  FROM deciles d JOIN tot t ON 1 = 1
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(n_cust AS BIGINT) AS n_customers,
       ROUND(CAST(cust_cum AS DOUBLE) / n_tot, 6) AS cum_customer_share,
       ROUND(CAST(rev AS DOUBLE) / CAST(rev_tot AS DOUBLE), 6) AS revenue_share,
       ROUND(CAST(rev_cum AS DOUBLE) / CAST(rev_tot AS DOUBLE), 6)
         AS cum_revenue_share,
       -- equality-diagonal gap: the Lorenz deficit at this decile
       ROUND(CAST(cust_cum AS DOUBLE) / n_tot
             - CAST(rev_cum AS DOUBLE) / CAST(rev_tot AS DOUBLE), 6)
         AS equality_gap
FROM cum
ORDER BY decile
"""


register(
    "lorenz_customers",
    oracle=_lorenz_sql(DUCKDB),
    doc="Lorenz concentration curve of customer revenue: deterministic "
    "integer-rank deciles (never NTILE), exact decimal sums, cumulative "
    "revenue share + equality-diagonal gap per decile",
)(sql_runner(_lorenz_sql, ("orders",)))
