"""Relational analytics operators — joins, aggregations, windows, rollups.

The reference has NO general relational operators (SURVEY §2.12: no SQL, no
joins/windows/set-ops — confirmed by exhaustive file walk); these queries are
the engine's general-analytics surface and the benchmark headliners, expressed
declaratively so Catalyst provides pushdown, pruning, join reordering and AQE.

Parity conventions: money math goes through DECIMAL casts (exact, order-
independent sums) and is only converted to DOUBLE at the end; date outputs are
rendered as strings; top-k uses rounded-score + key tie-breaks.

Scale notes (100 TB): q1/rollup are partial-agg friendly single shuffles;
q3/q5 join fact tables on their keys (sort-merge + AQE skew splitting) with
dimension sides (region/nation/customer-filter) broadcast by Catalyst since
they fall under the autoBroadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import load_table, register_views
from serene_spark.functions.sqlgen import DUCKDB, SPARK, epoch_s, explode_seq, idiv
from serene_spark.registry import register

DISC = "(1 - CAST(l_discount AS DECIMAL(8,2)))"
EPRICE = "CAST(l_extendedprice AS DECIMAL(18,2))"

Q1_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM({EPRICE}) AS DOUBLE) AS sum_base_price,
  CAST(SUM({EPRICE} * {DISC}) AS DOUBLE) AS sum_disc_price,
  CAST(SUM({EPRICE} * {DISC} * (1 + CAST(l_tax AS DECIMAL(8,2)))) AS DOUBLE) AS sum_charge,
  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  round(CAST(SUM({EPRICE}) AS DOUBLE) / COUNT(*), 6) AS avg_price,
  round(CAST(SUM(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
  CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

Q3_SQL = f"""
SELECT
  l_orderkey,
  CAST(SUM({EPRICE} * {DISC}) AS DOUBLE) AS revenue,
  CAST(o_orderdate AS STRING) AS orderdate,
  o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

Q5_SQL = f"""
SELECT
  n_name,
  CAST(SUM({EPRICE} * {DISC}) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY n_name
"""

TOPK_WINDOW_SQL = """
SELECT n_name, c_custkey, c_acctbal, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT n.n_name, c.c_custkey, c.c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY round(c.c_acctbal, 2) DESC, c.c_custkey ASC) AS rk
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
) t
WHERE rk <= 3
"""

ROLLUP_SQL = """
SELECT
  coalesce(o_orderstatus, '<all>') AS orderstatus,
  coalesce(o_orderpriority, '<all>') AS orderpriority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

CUBE_SQL = """
SELECT
  CASE WHEN GROUPING(o_orderstatus) = 1 THEN '<all>' ELSE o_orderstatus END AS orderstatus,
  CASE WHEN GROUPING(o_orderpriority) = 1 THEN '<all>' ELSE o_orderpriority END AS orderpriority,
  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS grouping_id,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""

PREV_ORDER_GAP_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS STRING) AS orderdate,
       CAST(prev_date AS STRING) AS prev_orderdate
FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS prev_date
  FROM orders
) t
WHERE o_custkey <= 100
"""


Q4_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
  AND EXISTS (
    -- corpus lineitem carries no commit/receipt dates; the semi-join
    -- predicate is "order has a returned line" instead
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

Q6_SQL = f"""
SELECT CAST(SUM({EPRICE} * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND CAST(l_discount AS DECIMAL(8,2)) BETWEEN 0.03 AND 0.09
  AND l_quantity < 24
"""

Q18_SQL = f"""
SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o_orderdate AS STRING) AS orderdate,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
  )
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY totalprice DESC, o_orderkey ASC
LIMIT 20
"""


Q10_SQL = f"""
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(SUM({EPRICE} * {DISC}) AS DOUBLE) AS revenue,
       CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS c_acctbal,
       n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
  AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

Q14_SQL = f"""
SELECT round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                   THEN {EPRICE} * {DISC} ELSE 0 END) AS DOUBLE)
             / CAST(SUM({EPRICE} * {DISC}) AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
"""


Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
         {EPRICE} * {DISC} AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey
    AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_17')
      OR (n1.n_name = 'NATION_17' AND n2.n_name = 'NATION_7'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1997-12-31 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""

Q8_SQL = f"""
SELECT o_year,
       round(CAST(SUM(CASE WHEN nation = 'NATION_5' THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         {EPRICE} * {DISC} AS volume,
         n2.n_name AS nation
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey
    AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey
    AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r_regionkey
    AND r_name = 'EUROPE'
    AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                        AND TIMESTAMP '1997-12-31 00:00:00'
    AND p_type = 'STANDARD'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""

Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

Q15_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, SUM({EPRICE} * {DISC}) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""

# Q17's correlated 0.2*AVG subquery is re-expressed as a pre-aggregated join
# (the rewrite Catalyst performs anyway) with the threshold comparison kept in
# exact DECIMAL arithmetic on both dialects: qty < 0.2 * sum/n  <=>  5*qty*n < sum.
Q17_SQL = f"""
WITH part_avg AS (
  SELECT l_partkey AS pa_partkey,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
         CAST(COUNT(*) AS BIGINT) AS n_qty
  FROM lineitem
  GROUP BY l_partkey
)
SELECT round(CAST(SUM({EPRICE}) AS DOUBLE) / 7.0, 6) AS avg_yearly
FROM lineitem, part, part_avg
WHERE p_partkey = l_partkey
  AND pa_partkey = l_partkey
  AND p_brand = 'Brand#3'
  AND p_size < 10
  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * n_qty < sum_qty
"""

Q19_SQL = f"""
SELECT CAST(SUM({EPRICE} * {DISC}) AS DOUBLE) AS revenue
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#2'  AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30))
"""

# Q21 adapted: corpus lineitem has no commit/receipt dates, so "kept the order
# waiting" becomes "sole supplier with a returned line in a multi-supplier
# finished order" — same EXISTS + NOT EXISTS shape over l1/l2/l3.
Q21_SQL = """
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey
  AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
  AND s_nationkey = n_nationkey
  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4', 'NATION_5')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""

# Q22 adapted: corpus customer has no phone, so the country-code grouping
# becomes n_nationkey % 5; every corpus customer has orders, so the anti-join
# is on urgent orders instead of any orders; the AVG threshold stays
# exact-decimal via bal * n > sum  <=>  bal > sum/n.
Q22_SQL = """
WITH avg_bal AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_bal,
         CAST(COUNT(*) AS BIGINT) AS n_bal
  FROM customer
  WHERE c_acctbal > 0.0
)
SELECT nation_grp, CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM (
  -- scalar subqueries (not a cross join with the 1-row CTE): Spark plans
  -- them as ScalarSubquery literals, keeping the customer scan join-free
  SELECT CAST(c_nationkey % 5 AS BIGINT) AS nation_grp, c_acctbal, c_custkey
  FROM customer
  WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (SELECT n_bal FROM avg_bal)
        > (SELECT sum_bal FROM avg_bal)
    AND NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
) cold_customers
GROUP BY nation_grp
ORDER BY nation_grp
"""


# Q2 adapted: the corpus has no partsupp, so the (part, supplier) supply
# relation is derived from observed lineitems with MIN(extendedprice) as the
# supply-cost proxy — the correlated min-cost-in-region scalar subquery (the
# defining shape of Q2) is preserved verbatim.
# Scale: `supply` is one keyed agg over lineitem; Catalyst decorrelates the
# scalar subquery into a per-part min + equi-join, so the region-filtered
# branch is computed once, not per row.
Q2_SQL = """
WITH supply AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_supplycost
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
SELECT CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS s_acctbal,
       s_name, n_name,
       CAST(p_partkey AS BIGINT) AS p_partkey,
       p_type,
       CAST(ps_supplycost AS DOUBLE) AS supplycost
FROM part, supplier, supply, nation, region
WHERE p_partkey = ps_partkey
  AND s_suppkey = ps_suppkey
  AND p_size = 15
  AND p_type <> 'PROMO'
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT MIN(ps_supplycost)
    FROM supply, supplier, nation, region
    WHERE ps_partkey = p_partkey
      AND s_suppkey = ps_suppkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
  )
ORDER BY round(s_acctbal, 2) DESC, n_name, s_name, p_partkey
LIMIT 100
"""

# Q9 adapted: supply cost proxied as 20% of the part's retail price (no
# partsupp); the profit expression keeps TPC-H's exact shape otherwise.
Q9_SQL = f"""
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         {EPRICE} * {DISC}
           - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.2 AS DECIMAL(8,2))
             * CAST(l_quantity AS DECIMAL(18,2)) AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey
    AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey
    AND s_nationkey = n_nationkey
    AND p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""

# Q11 adapted: "stock value" per part is the summed extended price supplied
# by one nation's suppliers (lineitem stands in for partsupp).  The defining
# scalar-subquery fraction threshold is kept, but in exact decimal arithmetic:
# value > total/1000  <=>  value * 1000 > total (no double division).
Q11_SQL = f"""
WITH stock AS (
  SELECT l_partkey AS ps_partkey, SUM({EPRICE}) AS value
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey
    AND s_nationkey = n_nationkey
    AND n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT CAST(ps_partkey AS BIGINT) AS ps_partkey,
       CAST(value AS DOUBLE) AS value
FROM stock
WHERE value * 1000 > (SELECT SUM(value) FROM stock)
ORDER BY value DESC, ps_partkey
"""

# Q12 adapted: the corpus lineitem has no shipmode/commit/receipt dates, so
# the mode dimension becomes l_linestatus and "late" semantics drop out; the
# join + dual CASE-count aggregation (Q12's shape) is unchanged.
Q12_SQL = """
SELECT l_linestatus AS linestatus,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                       OR o_orderpriority = '2-HIGH'
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority <> '1-URGENT'
                      AND o_orderpriority <> '2-HIGH'
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""

# Q16 adapted: the distinct (part, supplier) pairs come from lineitem; the
# "customer complaints" exclusion becomes a negative-balance supplier
# anti-join (same NOT IN shape over a subquery).
Q16_SQL = """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
      FROM lineitem) partsupp, part
WHERE p_partkey = ps_partkey
  AND p_brand <> 'Brand#5'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

# Q20 adapted: "availqty > half of the year's shipments" becomes "all-time
# supplied quantity of a small-part more than double its 1996 shipments" —
# the nested IN-subquery chain (suppliers <- partsupp <- part/lineitem
# threshold) that defines Q20 is preserved, in exact decimal sums.
Q20_SQL = """
SELECT s_name, CAST(s_suppkey AS BIGINT) AS s_suppkey
FROM supplier, nation
WHERE s_suppkey IN (
    SELECT ps_suppkey FROM (
      SELECT l_suppkey AS ps_suppkey, l_partkey AS ps_partkey,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty,
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                       AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                      THEN CAST(l_quantity AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS qty_1996
      FROM lineitem
      GROUP BY l_suppkey, l_partkey
    ) supply
    WHERE ps_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
      )
      AND total_qty > qty_1996 * 2
  )
  AND s_nationkey = n_nationkey
  AND n_name = 'NATION_7'
ORDER BY s_name
"""


def _sql_query(sql: str, spread_tables: dict[str, tuple[str, ...]] | tuple[str, ...] = ()):
    """Build a runner for ``sql``.

    ``spread_tables`` names fact views to re-register SPREAD (repartitioned
    when under-partitioned, melt.spread): used for scan-stage
    aggregations whose partial-aggregate work (decimal money math) would
    otherwise run inside the scan task — a single-row-group local file pins
    that to ONE core (measured r12: q1's decimal partial agg was ~0.9 s of
    its 1.2 s, all in the lone scan task; filters/pruning still push through
    the repartition to the parquet scan). On cluster inputs with adequate
    scan parallelism spread() is a no-op, so this never adds a shuffle at
    scale. A dict maps each table to the exact columns ``sql`` reads: the
    view is projected BEFORE the spread (guide §2.3 "project before the
    exchange"), so the scan reads only those columns and the exchange
    carries nothing wider — hashing the full unprojected row was measured
    (r13) to drag all 11 lineitem columns into q1's scan.
    """

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        if spread_tables:
            from serene_spark.functions.melt import spread as _spread

            for t in spread_tables:
                src = load_table(spark, sf_dir, t)
                cols = spread_tables[t] if isinstance(spread_tables, dict) else None
                df = src.select(*cols) if cols else src
                _spread(df, probe=src).createOrReplaceTempView(t)
        return spark.sql(sql)

    return run


register("q1_pricing_summary", oracle=Q1_SQL, doc="TPC-H-style Q1 pricing summary (bench headliner)")(_sql_query(Q1_SQL, spread_tables={"lineitem": (
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")}))
register("q3_shipping_priority", oracle=Q3_SQL, doc="TPC-H-style Q3: 3-way join + top-10 revenue")(_sql_query(Q3_SQL))
register("q5_local_supplier", oracle=Q5_SQL, doc="TPC-H-style Q5: 6-way join, revenue per nation")(_sql_query(Q5_SQL))
register("topk_customers_per_nation", oracle=TOPK_WINDOW_SQL, doc="window row_number top-3 per group")(_sql_query(TOPK_WINDOW_SQL))
register("rollup_orders", oracle=ROLLUP_SQL, doc="ROLLUP aggregation with decimal-exact money sums")(_sql_query(ROLLUP_SQL))
register("cube_orders", oracle=CUBE_SQL, doc="CUBE aggregation across all grouping-set combinations, GROUPING() disambiguation (null-safe, unlike coalesce labels)")(_sql_query(CUBE_SQL))
register("prev_order_gap", oracle=PREV_ORDER_GAP_SQL, doc="LAG window: each order with the customer's previous order date")(_sql_query(PREV_ORDER_GAP_SQL))
register("q4_order_priority", oracle=Q4_SQL, doc="TPC-H-style Q4: EXISTS semi-join on late lineitems")(_sql_query(Q4_SQL))
register("q6_forecast_revenue", oracle=Q6_SQL, doc="TPC-H-style Q6: pushdown-friendly filter + single agg")(_sql_query(Q6_SQL))
register("q18_large_orders", oracle=Q18_SQL, doc="TPC-H-style Q18: HAVING-IN subquery + 3-way join top-20")(_sql_query(Q18_SQL))
register("q10_returned_items", oracle=Q10_SQL, doc="TPC-H-style Q10: returned-item revenue per customer, 4-way join top-20")(_sql_query(Q10_SQL))
register("q14_promo_revenue", oracle=Q14_SQL, doc="TPC-H-style Q14: promo revenue share, broadcast part join")(_sql_query(Q14_SQL))
register("q7_volume_shipping", oracle=Q7_SQL, doc="TPC-H-style Q7: bidirectional nation-pair revenue by year")(_sql_query(Q7_SQL))
register("q8_market_share", oracle=Q8_SQL, doc="TPC-H-style Q8: 8-way join national market share by year")(_sql_query(Q8_SQL))
register("q13_customer_distribution", oracle=Q13_SQL, doc="TPC-H-style Q13: outer-join order-count histogram")(_sql_query(Q13_SQL))
register("q15_top_supplier", oracle=Q15_SQL, doc="TPC-H-style Q15: CTE revenue view + scalar-max subquery")(_sql_query(Q15_SQL))
register("q17_small_quantity", oracle=Q17_SQL, doc="TPC-H-style Q17: per-part avg-quantity threshold (decimal-exact)")(_sql_query(Q17_SQL))
register("q19_discounted_revenue", oracle=Q19_SQL, doc="TPC-H-style Q19: disjunctive brand/size/quantity predicates")(_sql_query(Q19_SQL))
register("q21_waiting_suppliers", oracle=Q21_SQL, doc="TPC-H-style Q21: EXISTS + NOT EXISTS sole-returned-supplier")(_sql_query(Q21_SQL))
register("q22_global_sales", oracle=Q22_SQL, doc="TPC-H-style Q22: anti-join customers above exact-decimal avg balance")(_sql_query(Q22_SQL))
register("q2_min_cost_supplier", oracle=Q2_SQL, doc="TPC-H-style Q2: correlated min-supply-cost-in-region subquery (lineitem-derived supply)")(_sql_query(Q2_SQL))
register("q9_product_profit", oracle=Q9_SQL, doc="TPC-H-style Q9: profit by supplier nation and order year (retail-price cost proxy)")(_sql_query(Q9_SQL))
register("q11_important_stock", oracle=Q11_SQL, doc="TPC-H-style Q11: per-part stock value above an exact-decimal fraction-of-total threshold")(_sql_query(Q11_SQL))
register("q12_priority_shipping", oracle=Q12_SQL, doc="TPC-H-style Q12: dual CASE-count priority split per line status")(_sql_query(Q12_SQL))
register("q16_parts_supplier_count", oracle=Q16_SQL, doc="TPC-H-style Q16: distinct-supplier counts per part attrs with NOT-IN exclusion")(_sql_query(Q16_SQL))
register("q20_excess_stock", oracle=Q20_SQL, doc="TPC-H-style Q20: nested IN-subquery chain for over-supplied small parts")(_sql_query(Q20_SQL))


# PIVOT matrix expressed as conditional aggregation — the one formulation
# both engines share (Spark's PIVOT clause and DuckDB's PIVOT statement
# differ syntactically AND in output-column naming, so the portable form
# IS the classic CASE-sum, which is also exactly what both engines compile
# their pivot sugar down to). Fixed status columns keep the schema stable
# (a dynamic pivot needs two passes by definition — collect the domain,
# then generate; the CLI/service layer is where that composition lives).
PIVOT_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
       CAST(SUM(CASE WHEN o_orderstatus = 'F'
                THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_f,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_o,
       CAST(SUM(CASE WHEN o_orderstatus = 'P'
                THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_p
FROM orders
GROUP BY year(o_orderdate)
"""

register("pivot_orders_status_by_year", oracle=PIVOT_SQL,
         doc="PIVOT matrix (order year x status: counts + decimal-exact "
         "revenue) as portable conditional aggregation — one scan, "
         "map-side combinable")(_sql_query(PIVOT_SQL))


def hierarchy_rollup_sql(dialect: str) -> str:
    """Recursive hierarchy rollup — the engine's first WITH RECURSIVE
    operator (Spark 4.1 ships recursive CTEs; both engines now share the
    construct, retiring this repo's earlier 'recursion is not
    engine-shared' constraint for TREE-shaped closures).  Suppliers form a
    derived management tree (parent = suppkey div 10, roots 1..9); the
    recursion emits every (node, ancestor, depth) pair and the rollup
    answers the org question: per ancestor, subtree size, total account
    balance, and deepest report.

    Safety: Spark's recursion supports UNION ALL only (no UNION-distinct
    dedup across iterations), which is EXACTLY correct on a tree — each
    node reaches each ancestor along one path, so no row multiplicity can
    occur; a cyclic or DAG-shaped closure would need the iterative
    DataFrame loops (dedup_clusters / cc_large_star), which remain the
    production shape for general graphs.  Depth is bounded by the key
    width (4 levels at sf0.1).  Decimal-exact balance sums.
    """
    parent = idiv(dialect, "s_suppkey", 10)
    return f"""
WITH RECURSIVE anc(node, ancestor, depth) AS (
  SELECT s_suppkey, s_suppkey, 0 FROM supplier
  UNION ALL
  SELECT a.node, p.parent, a.depth + 1
  FROM anc a
  JOIN (SELECT s_suppkey AS child, {parent} AS parent
        FROM supplier WHERE s_suppkey >= 10) p
    ON a.ancestor = p.child
),
balances AS (
  SELECT s_suppkey, CAST(s_acctbal AS DECIMAL(18,2)) AS bal FROM supplier
)
SELECT CAST(x.ancestor AS BIGINT) AS ancestor,
       CAST(COUNT(*) AS BIGINT) AS subtree_size,
       CAST(SUM(b.bal) AS DOUBLE) AS subtree_acctbal,
       CAST(MAX(x.depth) AS BIGINT) AS max_depth
FROM anc x JOIN balances b ON x.node = b.s_suppkey
GROUP BY x.ancestor
HAVING COUNT(*) > 1
"""


register("supplier_hierarchy_rollup", oracle=hierarchy_rollup_sql(DUCKDB),
         doc="recursive (WITH RECURSIVE) org-hierarchy rollup over the "
         "derived supplier tree: per ancestor, subtree size / balance / "
         "depth — UNION ALL recursion, exactly safe on trees")(
    _sql_query(hierarchy_rollup_sql(SPARK)))


# Explicit GROUPING SETS — the generalization ROLLUP and CUBE are sugar
# for: exactly the grains a dashboard needs (by status, by year, grand
# total) without CUBE's unwanted cross combinations or ROLLUP's forced
# hierarchy. Same one-scan partial-aggregation plan as the siblings.
GROUPING_SETS_SQL = """
SELECT
  CASE WHEN GROUPING(o_orderstatus) = 1 THEN '<all>' ELSE o_orderstatus END AS orderstatus,
  CASE WHEN GROUPING(yr) = 1 THEN -1 ELSE yr END AS order_year,
  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(yr) AS BIGINT) AS grouping_id,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM (SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS yr,
             o_totalprice FROM orders) t
GROUP BY GROUPING SETS ((o_orderstatus), (yr), ())
"""

register("grouping_sets_orders", oracle=GROUPING_SETS_SQL,
         doc="explicit GROUPING SETS (by status / by year / grand total) — "
         "the exact dashboard grains without CUBE's cross terms, one scan")(
    _sql_query(GROUPING_SETS_SQL))


def calendar_dim_sql(dialect: str) -> str:
    """Date-dimension spine over the orders date range — the standard
    warehouse calendar table, generated in-query (sequence explode over
    the min..max epoch-day span, integer DOW arithmetic, ISO-style week
    number as days-since-epoch div 7 so both engines agree without
    touching their divergent WEEK() conventions).  Joined back to orders
    for per-day counts so empty days carry explicit zeros — the gap-aware
    spine every time-series rollup wants underneath it.
    """
    day = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    return f"""
WITH bounds AS (
  SELECT MIN({day}) AS d0, MAX({day}) AS d1 FROM orders
),
spine AS (
  SELECT {explode_seq(dialect, "(SELECT d0 FROM bounds)", "(SELECT d1 FROM bounds)")} AS day
  FROM bounds
),
per_day AS (
  SELECT {day} AS day, COUNT(*) AS n FROM orders GROUP BY {day}
)
SELECT CAST(s.day AS BIGINT) AS epoch_day,
       CAST((s.day + 4) % 7 AS INT) AS dow,
       CAST({idiv(dialect, "(s.day + 4)", "7")} AS BIGINT) AS week_num,
       CAST(CASE WHEN (s.day + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS INT)
         AS is_weekend,
       CAST(COALESCE(p.n, 0) AS BIGINT) AS n_orders
FROM spine s LEFT JOIN per_day p ON s.day = p.day
"""


register("calendar_dim_orders", oracle=calendar_dim_sql(DUCKDB),
         doc="generated date-dimension spine over the orders range (dow / "
         "week / weekend flags via integer epoch-day arithmetic) with "
         "per-day counts — empty days carry explicit zeros")(
    _sql_query(calendar_dim_sql(SPARK)))


def backlog_sql(dialect: str) -> str:
    """Open-order backlog per day — the SWEEP-LINE interval-count pattern:
    each order contributes +1 on its placement day and -1 the day after
    its last lineitem SHIPMENT (this corpus carries l_shipdate, not receiptdate); the running sum over the day-keyed delta
    relation IS the number of open orders on every day.  This is THE
    scale shape for interval overlap counting: the shuffle carries two
    delta rows per order (never a day x order interval join, which is
    span-quadratic), and the cumulative window runs over the tiny
    distinct-day relation.  Orders with no lineitems never close
    (documented; the FK audit counts them).
    """
    oday = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    rday = idiv(dialect, f"({epoch_s(dialect, 'l_shipdate')})", 86400)
    return f"""
WITH closes AS (
  SELECT l_orderkey, MAX({rday}) + 1 AS close_day
  FROM lineitem GROUP BY l_orderkey
),
-- only NON-EMPTY intervals sweep: the synthetic dates are independent, so
-- some orders "close" before they open (cd <= od) — an empty interval that
-- must contribute NO deltas (a -1 landing before its +1 transiently
-- corrupts every day between them); lineitem-less orders are the
-- dq_fk_orphans population and are excluded rather than left open forever
spans AS (
  SELECT {oday} AS open_day, c.close_day
  FROM orders o JOIN closes c ON o.o_orderkey = c.l_orderkey
  WHERE c.close_day > {oday}
),
deltas AS (
  SELECT open_day AS day, 1 AS delta FROM spans
  UNION ALL
  SELECT close_day AS day, -1 AS delta FROM spans
),
per_day AS (
  SELECT day, SUM(delta) AS d FROM deltas GROUP BY day
)
SELECT CAST(day AS BIGINT) AS epoch_day,
       CAST(SUM(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS open_orders
FROM per_day
"""


register("order_backlog_daily", oracle=backlog_sql(DUCKDB),
         doc="open-order backlog per day via the sweep-line +1/-1 delta "
         "pattern — two delta rows per order, cumulative window over the "
         "distinct-day relation; never a day x interval join")(
    _sql_query(backlog_sql(SPARK)))


# --- Supply-chain analytics: fulfilment lead time + supplier concentration --


def lead_time_sql(dialect: str) -> str:
    """Order-fulfilment lead time per order priority: days from order
    placement to the LAST lineitem shipment (the order is fulfilled when
    its final line ships), summarized with exact histogram quantiles
    (p50/p90/p99 at ceil-rank, the engine's quantile convention) and
    decimal-exact means — the SLA report every fulfilment team runs.

    One lineitem scan reduces to per-order last-ship days (keyed agg on
    the natural join key), one broadcast-light join back to orders, and
    the quantiles read the (priority, lead_days) count histogram —
    priority-keyed windows over a histogram-sized relation.

    The synthetic corpus ships some lines BEFORE placement (the
    close-before-open quirk order_backlog_daily documents); those
    surface here as NEGATIVE lead days by design — clamping would hide
    exactly the rows a dq constraint should catch.
    """
    o_day = f"CAST(FLOOR(({epoch_s(dialect, 'o.o_orderdate')}) / 86400.0) AS BIGINT)"
    s_day = f"CAST(FLOOR(({epoch_s(dialect, 'l.l_shipdate')}) / 86400.0) AS BIGINT)"
    return f"""
WITH last_ship AS (
  SELECT l.l_orderkey, MAX({s_day}) AS ship_day
  FROM lineitem l GROUP BY l.l_orderkey
),
leads AS (
  SELECT o.o_orderpriority AS priority,
         s.ship_day - {o_day} AS lead_days
  FROM orders o JOIN last_ship s ON s.l_orderkey = o.o_orderkey
),
hist AS (
  SELECT priority, lead_days, COUNT(*) AS c FROM leads GROUP BY priority, lead_days
),
cum AS (
  SELECT priority, lead_days, c,
         SUM(c) OVER (PARTITION BY priority ORDER BY lead_days) AS cc,
         SUM(c) OVER (PARTITION BY priority) AS n
  FROM hist
)
SELECT priority,
       CAST(MAX(n) AS BIGINT) AS n_orders,
       CAST(MIN(lead_days) AS BIGINT) AS min_days,
       CAST(MIN(CASE WHEN cc >= ceil(n * 0.50) THEN lead_days END) AS BIGINT) AS p50_days,
       CAST(MIN(CASE WHEN cc >= ceil(n * 0.90) THEN lead_days END) AS BIGINT) AS p90_days,
       CAST(MIN(CASE WHEN cc >= ceil(n * 0.99) THEN lead_days END) AS BIGINT) AS p99_days,
       CAST(MAX(lead_days) AS BIGINT) AS max_days,
       ROUND(CAST(SUM(CAST(lead_days AS DECIMAL(19,0)) * c) AS DOUBLE)
             / MAX(n), 6) AS mean_days
FROM cum
GROUP BY priority
ORDER BY priority
"""


def supplier_hhi_sql(dialect: str) -> str:
    """Supplier concentration per nation: the Herfindahl-Hirschman index
    over suppliers' shares of their nation's lineitem revenue — the
    supply-risk screen (HHI > 0.25 = highly concentrated under the
    DOJ/FTC convention, scaled 0..1).  Shares are exact integer-count
    decimal divisions; per-supplier revenue is ONE decimal-exact keyed
    agg and the HHI sums 12-dp-rounded share squares in DECIMAL per
    nation (supplier-cardinality relation).
    """
    return f"""
WITH per_supp AS (
  SELECT s.s_nationkey AS nation, l.l_suppkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
),
tot AS (
  SELECT nation, SUM(CAST(rev AS DECIMAL(28,2))) AS total_rev,
         COUNT(*) AS n_suppliers
  FROM per_supp GROUP BY nation
),
hhi_rel AS (
  -- share-square sum computed ONCE per nation; hhi and the 0.25 flag
  -- both read it, so they can never disagree (the h_stat pattern)
  SELECT p.nation,
         MAX(t.n_suppliers) AS n_suppliers,
         MAX(t.total_rev) AS total_rev,
         SUM(CAST(ROUND(
             (CAST(p.rev AS DOUBLE) / CAST(t.total_rev AS DOUBLE))
           * (CAST(p.rev AS DOUBLE) / CAST(t.total_rev AS DOUBLE)), 12)
           AS DECIMAL(28,12))) AS hhi_sum
  FROM per_supp p JOIN tot t ON t.nation = p.nation
  GROUP BY p.nation
)
SELECT CAST(nation AS BIGINT) AS nation,
       CAST(n_suppliers AS BIGINT) AS n_suppliers,
       ROUND(CAST(total_rev AS DOUBLE), 6) AS total_revenue,
       ROUND(CAST(hhi_sum AS DOUBLE), 6) AS hhi,
       CAST(CASE WHEN hhi_sum > 0.25 THEN 1 ELSE 0 END AS INT) AS concentrated
FROM hhi_rel
ORDER BY nation
"""


register("lead_time_by_priority", oracle=lead_time_sql(DUCKDB),
         doc="order-fulfilment lead time per priority: exact histogram "
         "p50/p90/p99 (ceil-rank) from placement to last lineitem "
         "shipment, decimal-exact means")(_sql_query(lead_time_sql(SPARK)))

register("supplier_hhi_by_nation", oracle=supplier_hhi_sql(DUCKDB),
         doc="supplier concentration: Herfindahl index over suppliers' "
         "revenue shares per nation, 0.25 DOJ/FTC concentration flag, "
         "decimal-summed share squares")(_sql_query(supplier_hhi_sql(SPARK)))
