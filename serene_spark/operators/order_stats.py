"""Distribution-free confidence interval for the median — the order-
statistic CI every robust-reporting layer wants next to its point
estimates (the exact-median machinery lives in profile_textstats /
events_value_quantiles; this adds the UNCERTAINTY around it without any
distributional assumption).

``median_ci_orderstat``: for the n order totalprices, the classic
binomial order-statistic interval [x_(l), x_(u)] with
l = max(1, ⌊n/2 − z·√n/2⌋), u = min(n, ⌈n/2 + z·√n/2⌉ + 1), z = 1.959964
(the large-n normal approximation to Binomial(n, ½); Conover,
"Practical Nonparametric Statistics" §3.2).  Coverage is ≥ 95 % for any
continuous distribution — no variance estimate, no normality of the DATA
assumed.

Scale: the engine-wide exact-quantile shape — reduce to the
(value → count) histogram in one scan, one cumulative window over the
DISTINCT-value relation, then each of the three target ranks (lo, median
⌈n/2⌉, hi) is the first value whose cumulative count reaches it.  Never
a global row sort.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.registry import register

Z_975 = 1.959964


def _median_ci_sql(dialect: str) -> str:
    return f"""
WITH hist AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS val, COUNT(*) AS c
  FROM orders GROUP BY CAST(o_totalprice AS DECIMAL(18,2))
),
cum AS (
  SELECT val, SUM(c) OVER (ORDER BY val) AS cum FROM hist
),
nn AS {mat(dialect)}(SELECT SUM(c) AS n FROM hist),
ranks AS (
  SELECT 'lo' AS which,
         GREATEST(1, CAST(FLOOR(n / 2.0 - {Z_975} * sqrt(n) / 2.0) AS BIGINT))
           AS r, n
  FROM nn
  UNION ALL
  SELECT 'median', CAST(CEIL(n / 2.0) AS BIGINT), n FROM nn
  UNION ALL
  SELECT 'hi',
         LEAST(n, CAST(CEIL(n / 2.0 + {Z_975} * sqrt(n) / 2.0) AS BIGINT) + 1),
         n
  FROM nn
),
picked AS (
  SELECT r.which, r.r, r.n, MIN(c.val) AS val
  FROM ranks r JOIN cum c ON c.cum >= r.r
  GROUP BY r.which, r.r, r.n
)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       ROUND(CAST(MAX(CASE WHEN which = 'median' THEN val END) AS DOUBLE), 2)
         AS median,
       ROUND(CAST(MAX(CASE WHEN which = 'lo' THEN val END) AS DOUBLE), 2)
         AS ci_lo,
       ROUND(CAST(MAX(CASE WHEN which = 'hi' THEN val END) AS DOUBLE), 2)
         AS ci_hi,
       CAST(MAX(CASE WHEN which = 'lo' THEN r END) AS BIGINT) AS rank_lo,
       CAST(MAX(CASE WHEN which = 'hi' THEN r END) AS BIGINT) AS rank_hi
FROM picked
"""


register(
    "median_ci_orderstat",
    oracle=_median_ci_sql(DUCKDB),
    doc="Distribution-free 95% order-statistic CI for the median order "
    "value (binomial ranks, large-n z form): one histogram scan + one "
    "cumulative window over distinct values, rank-targeted selection — "
    "never a global sort",
)(sql_runner(_median_ci_sql, ("orders",)))


def _wmedian_sql(dialect: str) -> str:
    """Quantity-weighted median unit price: the 'typical price a unit was
    bought at' (each row weighted by its quantity), vs the row-median that
    over-represents small orders.  Engine-wide histogram shape: per-price
    WEIGHT sums, cumulative window over distinct prices, first price whose
    cumulative weight reaches half the total.  Both medians emitted — the
    gap is the small-order bias made visible."""
    price = "CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) / CAST(l_quantity AS DECIMAL(18,2)), 2) AS DECIMAL(18,2))"
    return f"""
WITH hist AS (
  SELECT {price} AS p,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w,
         COUNT(*) AS c
  FROM lineitem GROUP BY {price}
),
tot AS {mat(dialect)}(SELECT SUM(w) AS w_tot, SUM(c) AS n FROM hist),
cum AS (
  SELECT p, SUM(w) OVER (ORDER BY p) AS cw, SUM(c) OVER (ORDER BY p) AS cc
  FROM hist
),
wmed AS (
  SELECT MIN(p) AS v FROM cum JOIN tot ON CAST(cw AS DOUBLE) * 2 >= CAST(w_tot AS DOUBLE)
),
rmed AS (
  SELECT MIN(p) AS v FROM cum JOIN tot ON cc * 2 >= n
)
SELECT CAST(t.n AS BIGINT) AS n_rows,
       ROUND(CAST(w.v AS DOUBLE), 2) AS weighted_median_price,
       ROUND(CAST(r.v AS DOUBLE), 2) AS row_median_price,
       ROUND(CAST(w.v AS DOUBLE) - CAST(r.v AS DOUBLE), 2) AS weighting_gap
FROM tot t JOIN wmed w ON 1 = 1 JOIN rmed r ON 1 = 1
"""


register(
    "weighted_median_price",
    oracle=_wmedian_sql(DUCKDB),
    doc="Quantity-weighted median unit price via the histogram + cumulative-"
    "weight rank selection (no global sort), emitted beside the row median "
    "- the small-order bias made visible",
)(sql_runner(_wmedian_sql, ("lineitem",)))
