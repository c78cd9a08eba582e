"""Operations-research staples — the newsvendor quantile and
uncertainty-aware retention readouts.

* ``newsvendor_stock_level`` — the classic single-period stocking rule:
  with underage cost cu (lost margin) and overage cost co (holding),
  the optimal stock is the CRITICAL FRACTILE F⁻¹(cu/(cu+co)) of demand
  (Arrow-Harris-Marschak 1951).  Demand = daily total order quantity;
  the quantile comes from the engine-wide histogram + cumulative-window
  rank selection (never a global sort), and the operator also emits the
  EXPECTED per-day underage/overage units at that level — the cost the
  rule claims to minimize, evaluated on the demand distribution itself.
* ``retention_wilson`` — weekly first-PURCHASE cohorts' 1-week repeat
  rate with the Wilson score interval (Wilson 1927): the binomial CI
  that behaves at small n and extreme rates where the normal interval
  collapses.  Closed form — exact integer counts, z-algebra at the edge.
  (Cohorting on any activity is degenerate on this corpus — every user
  is active from week 0; first purchase varies.)

Scale: newsvendor is one orders scan → day agg → distinct-demand
histogram; retention is one events scan → (cohort, user) reduction →
cohort-keyed counts.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_s, idiv, mat
from serene_spark.registry import register

CU = 3.0  # underage (lost margin) per unit
CO = 1.0  # overage (holding) per unit
Z95 = 1.959964


def _newsvendor_sql(dialect: str) -> str:
    day = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    frac = CU / (CU + CO)
    return f"""
WITH daily AS (
  SELECT {day} AS d, COUNT(*) AS demand FROM orders GROUP BY {day}
),
hist AS (
  SELECT demand, COUNT(*) AS c FROM daily GROUP BY demand
),
cum AS (
  SELECT demand, c, SUM(c) OVER (ORDER BY demand) AS cum FROM hist
),
nn AS {mat(dialect)}(SELECT SUM(c) AS n FROM hist),
q AS {mat(dialect)}(
  SELECT MIN(demand) AS stock
  FROM cum JOIN nn ON cum.cum >= CEIL({frac} * nn.n)
),
cost AS (
  SELECT
    SUM(CASE WHEN h.demand > q.stock
        THEN CAST((h.demand - q.stock) AS DECIMAL(18,0)) * h.c
        ELSE CAST(0 AS DECIMAL(18,0)) END) AS under_units,
    SUM(CASE WHEN h.demand < q.stock
        THEN CAST((q.stock - h.demand) AS DECIMAL(18,0)) * h.c
        ELSE CAST(0 AS DECIMAL(18,0)) END) AS over_units
  FROM hist h JOIN q ON 1 = 1
)
SELECT CAST(nn.n AS BIGINT) AS n_days,
       ROUND({frac}, 6) AS critical_fractile,
       CAST(q.stock AS BIGINT) AS stock_level,
       ROUND(CAST(c.under_units AS DOUBLE) / nn.n, 6) AS exp_underage_units,
       ROUND(CAST(c.over_units AS DOUBLE) / nn.n, 6) AS exp_overage_units,
       ROUND(({CU} * CAST(c.under_units AS DOUBLE)
              + {CO} * CAST(c.over_units AS DOUBLE)) / nn.n, 6)
         AS exp_daily_cost
FROM nn JOIN q ON 1 = 1 JOIN cost c ON 1 = 1
"""


register(
    "newsvendor_stock_level",
    oracle=_newsvendor_sql(DUCKDB),
    doc=f"Newsvendor critical-fractile stocking (cu={CU}, co={CO}): exact "
    "demand-quantile via histogram rank selection, with the expected "
    "under/overage units and daily cost at that level evaluated on the "
    "demand distribution itself",
)(sql_runner(_newsvendor_sql, ("orders",)))


def _wilson(p_hat: str, n: str) -> tuple[str, str, str]:
    """Wilson score interval bound generator: center ± half-width over the
    adjusted denominator; z = Z95."""
    z2 = Z95 * Z95
    center = f"(({p_hat}) + {z2} / (2 * ({n})))"
    half = (f"({Z95} * sqrt((({p_hat}) * (1 - ({p_hat})) + {z2} / (4 * ({n})))"
            f" / ({n})))")
    denom = f"(1 + {z2} / ({n}))"
    return center, half, denom


def _retention_sql(dialect: str) -> str:
    week = idiv(dialect, f"({epoch_s(dialect, 'ts')})", 86400 * 7)
    p = "CAST(retained AS DOUBLE) / n_cohort"
    center, half, denom = _wilson(p, "n_cohort")
    return f"""
WITH uw AS (
  -- purchase-activity weeks: cohorting on ANY activity is degenerate here
  -- (every user is active from week 0); first-PURCHASE week varies
  SELECT user_id, {week} AS w FROM events
  WHERE event_type = 'purchase'
  GROUP BY user_id, {week}
),
cohort AS (
  SELECT user_id, MIN(w) AS c FROM uw GROUP BY user_id
),
ret AS (
  SELECT c.c AS cohort_week, COUNT(*) AS n_cohort,
         SUM(CASE WHEN r.user_id IS NOT NULL THEN 1 ELSE 0 END) AS retained
  FROM cohort c
  LEFT JOIN uw r ON r.user_id = c.user_id AND r.w = c.c + 1
  GROUP BY c.c
),
bounded AS (
  SELECT cohort_week, n_cohort, retained
  FROM ret
  WHERE cohort_week < (SELECT MAX(w) FROM uw)  -- last cohort can't retain yet
)
SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
       CAST(n_cohort AS BIGINT) AS n_cohort,
       CAST(retained AS BIGINT) AS retained,
       ROUND({p}, 6) AS retention_rate,
       ROUND(({center} - {half}) / {denom}, 6) AS wilson_lo,
       ROUND(({center} + {half}) / {denom}, 6) AS wilson_hi
FROM bounded
ORDER BY cohort_week
"""


register(
    "retention_wilson",
    oracle=_retention_sql(DUCKDB),
    doc="Weekly first-purchase cohort repeat rate with Wilson score intervals "
    "(the binomial CI that survives small cohorts and extreme rates); "
    "exact integer counts, closed-form z-algebra at the edge",
)(sql_runner(_retention_sql, ("events",)))
