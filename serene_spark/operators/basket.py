"""Market-basket association rules and conversion-latency quantiles.

* ``basket_part_lift`` — association-rule mining over order baskets
  (Agrawal & Srikant, "Fast Algorithms for Mining Association Rules",
  VLDB 1994): for part pairs co-occurring in at least ``MIN_SUPPORT``
  orders, support, confidence and lift.  Candidate pairs are generated
  INSIDE each basket (self-join keyed on the order — pair count bounded by
  Σ basket_size², never catalog²), and the statistics derive from one
  basket-pair agg + the per-part support relation (broadcast-sized).
* ``conversion_lag_quantiles`` — exact p50/p90 of the view→purchase lag
  per user (first view to first subsequent purchase), via the engine's
  count-histogram quantile pattern over the per-user lag relation — the
  latency readout behind the windowed funnel's 24h cutoff choice.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_us, idiv
from serene_spark.registry import register

MIN_SUPPORT = 3  # orders containing the pair (63 pairs at sf0.01, 433 at sf0.001)


def basket_lift_sql(dialect: str) -> str:
    return f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets
),
part_support AS (
  SELECT l_partkey, COUNT(*) AS s FROM baskets GROUP BY l_partkey
),
pair_support AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS s_ab
  FROM baskets a
  JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {MIN_SUPPORT}
)
SELECT p.part_a, p.part_b,
       CAST(p.s_ab AS BIGINT) AS n_orders_both,
       ROUND(CAST(p.s_ab AS DOUBLE) / (SELECT n FROM n_orders), 6) AS support,
       ROUND(CAST(p.s_ab AS DOUBLE) / sa.s, 6) AS confidence_a_to_b,
       ROUND(CAST(p.s_ab AS DOUBLE) * (SELECT n FROM n_orders)
             / (CAST(sa.s AS DOUBLE) * sb.s), 6) AS lift
FROM pair_support p
JOIN part_support sa ON p.part_a = sa.l_partkey
JOIN part_support sb ON p.part_b = sb.l_partkey
"""


def conversion_lag_sql(dialect: str) -> str:
    us = epoch_us(dialect, "ts")
    lag_s = idiv(dialect, "(first_purchase_us - first_view_us)", "1000000")
    return f"""
WITH with_view AS (
  SELECT user_id, event_type, {us} AS ts_us,
         MIN(CASE WHEN event_type = 'view' THEN {us} END)
           OVER (PARTITION BY user_id) AS first_view_us
  FROM events
),
per_user AS (
  SELECT user_id,
         MIN(first_view_us) AS first_view_us,
         MIN(CASE WHEN event_type = 'purchase' AND ts_us > first_view_us
                  THEN ts_us END) AS first_purchase_us
  FROM with_view
  GROUP BY user_id
),
lags AS (
  SELECT CAST({lag_s} AS BIGINT) AS lag_s
  FROM per_user
  WHERE first_view_us IS NOT NULL AND first_purchase_us IS NOT NULL
),
hist AS (
  SELECT lag_s, COUNT(*) AS c FROM lags GROUP BY lag_s
),
cum AS (
  SELECT lag_s,
         SUM(c) OVER (ORDER BY lag_s) AS cc,
         SUM(c) OVER () AS n
  FROM hist
)
SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
       CAST(MIN(CASE WHEN cc >= ceil(0.50 * n) THEN lag_s END) AS BIGINT) AS p50_lag_s,
       CAST(MIN(CASE WHEN cc >= ceil(0.90 * n) THEN lag_s END) AS BIGINT) AS p90_lag_s
FROM cum
"""


register(
    "basket_part_lift",
    oracle=basket_lift_sql(DUCKDB),
    doc=f"association rules over order baskets: support/confidence/lift "
    f"for part pairs co-ordered >= {MIN_SUPPORT} times; in-basket "
    "candidate generation, never catalog-squared",
)(sql_runner(basket_lift_sql, ("lineitem",)))

register(
    "conversion_lag_quantiles",
    oracle=conversion_lag_sql(DUCKDB),
    doc="exact p50/p90 view->purchase latency via the count-histogram "
    "quantile over per-user first-conversion lags",
)(sql_runner(conversion_lag_sql, ("events",)))
