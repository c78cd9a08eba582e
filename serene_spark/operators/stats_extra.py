"""Statistical analytics: pairwise Pearson correlations and revenue-
concentration measures (Gini coefficient + ABC classification).

* ``corr_lineitem`` — the Pearson correlation matrix over lineitem's
  numeric measures from ONE scan: every pairwise r derives from the same
  single aggregation of decimal-exact moment sums (Σx, Σx², Σxy), so N²
  correlations never cost N² passes and partial-aggregation order cannot
  move a digit.  The index-explode reshape turns the one wide row into
  (col_a, col_b, r) — same device as the data-quality suite.
* ``customer_spend_concentration`` — who holds the revenue: per-customer
  order totals reduce to a per-total histogram (distinct totals + counts),
  and the Gini coefficient + ABC classes (A = customers covering the top
  80% of revenue, B = next 15%, C = tail) come from cumulative windows
  over that SMALL relation — never a global rank over raw customers.
  Decimal money math end-to-end.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, explode_seq
from serene_spark.registry import register

CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def corr_sql(dialect: str) -> str:
    cols = CORR_COLS
    arms = ["COUNT(*) AS n"]
    for c in cols:
        arms.append(f"SUM(CAST({c} AS DECIMAL(18,2))) AS s_{c}")
        arms.append(f"SUM(CAST({c} AS DECIMAL(18,2)) * CAST({c} AS DECIMAL(18,2))) AS q_{c}")
    pair_list = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1:]]
    for a, b in pair_list:
        arms.append(
            f"SUM(CAST({a} AS DECIMAL(18,2)) * CAST({b} AS DECIMAL(18,2))) AS x_{a}_{b}"
        )
    agg = ",\n         ".join(arms)

    def r_expr(a: str, b: str) -> str:
        cov = f"(CAST(x_{a}_{b} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE) / n)"
        va = f"(CAST(q_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE) / n)"
        vb = f"(CAST(q_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE) / n)"
        return f"ROUND({cov} / sqrt({va} * {vb}), 6)"

    name_case = "CASE i " + " ".join(
        f"WHEN {k + 1} THEN '{a}'" for k, (a, b) in enumerate(pair_list)
    ) + " END"
    name2_case = "CASE i " + " ".join(
        f"WHEN {k + 1} THEN '{b}'" for k, (a, b) in enumerate(pair_list)
    ) + " END"
    r_case = "CASE i " + " ".join(
        f"WHEN {k + 1} THEN {r_expr(a, b)}" for k, (a, b) in enumerate(pair_list)
    ) + " END"
    return f"""
WITH m AS (
  SELECT {agg}
  FROM lineitem
)
SELECT {name_case} AS col_a,
       {name2_case} AS col_b,
       {r_case} AS pearson_r
FROM (SELECT m.*, {explode_seq(dialect, 1, len(pair_list))} AS i FROM m) r
"""


def concentration_sql(dialect: str) -> str:
    """Gini + ABC over per-customer revenue via the value histogram.

    ABC: customers sorted by revenue DESCENDING; A = those covering the
    top 80% of revenue (strictly-before share < 0.80), B = to 95%, C =
    tail.  Gini from the piecewise-linear Lorenz curve of the GROUPED
    histogram (ascending revenue): each distinct revenue level contributes
    pop_frac · (L_before + L_after), so
    G = 1 − Σ (n_i/N) · (2·cumrev_i − rev_i·n_i) / T.  Terms are rounded
    to 12 dp and summed as DECIMAL so aggregation order cannot move the
    result.  Customers without orders enter as zero-revenue rows (LEFT
    JOIN) — omitting them understates inequality.
    """
    return compose_with(concentration_bases(dialect), concentration_tail_sql(dialect))


def concentration_bases(dialect: str) -> list[tuple[str, str]]:
    return [("hist", """per_cust AS (
  SELECT c.c_custkey,
         COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 0) AS rev
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
),
hist AS (
  SELECT rev, COUNT(*) AS n_cust FROM per_cust GROUP BY rev
)""")]


def concentration_tail_sql(dialect: str) -> str:
    term = (
        "(CAST(n_cust AS DOUBLE) / (SELECT CAST(total_cust AS DOUBLE) FROM tot))"
        " * (2 * CAST(cum_asc AS DOUBLE) - CAST(rev AS DOUBLE) * n_cust)"
        " / (SELECT CAST(total_rev AS DOUBLE) FROM tot)"
    )
    return f"""
WITH tot AS (
  SELECT SUM(CAST(rev AS DECIMAL(28,2)) * n_cust) AS total_rev,
         SUM(n_cust) AS total_cust
  FROM hist
),
cums AS (
  SELECT rev, n_cust,
         SUM(CAST(rev AS DECIMAL(28,2)) * n_cust) OVER (ORDER BY rev DESC) AS cum_desc,
         SUM(CAST(rev AS DECIMAL(28,2)) * n_cust) OVER (ORDER BY rev ASC) AS cum_asc
  FROM hist
),
gini AS (
  SELECT ROUND(1 - CAST(SUM(CAST(ROUND({term}, 12) AS DECIMAL(28,12))) AS DOUBLE), 6) AS g
  FROM cums
),
classified AS (
  SELECT rev, n_cust,
         CASE WHEN (CAST(cum_desc AS DOUBLE) - CAST(rev AS DOUBLE) * n_cust)
                   / (SELECT CAST(total_rev AS DOUBLE) FROM tot) < 0.80 THEN 'A'
              WHEN (CAST(cum_desc AS DOUBLE) - CAST(rev AS DOUBLE) * n_cust)
                   / (SELECT CAST(total_rev AS DOUBLE) FROM tot) < 0.95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM cums
)
SELECT abc_class,
       CAST(SUM(n_cust) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(CAST(rev AS DECIMAL(28,2)) * n_cust) AS DOUBLE)
             / (SELECT CAST(total_rev AS DOUBLE) FROM tot), 6) AS revenue_share,
       (SELECT g FROM gini) AS gini
FROM classified
GROUP BY abc_class
"""


register(
    "corr_lineitem",
    oracle=corr_sql(DUCKDB),
    doc="Pearson correlation matrix over lineitem measures from ONE scan "
    "of decimal-exact moment sums, index-explode reshape",
)(sql_runner(corr_sql, ("lineitem",)))

register(
    "customer_spend_concentration",
    oracle=concentration_sql(DUCKDB),
    doc="revenue concentration: ABC classes (80/95 cumulative-share "
    "splits) + Gini coefficient from the grouped Lorenz curve, "
    "zero-revenue customers included",
)(sql_runner(concentration_tail_sql, ("customer", "orders"),
    stages=cte_stages(concentration_bases)))


def boxplot_sql(dialect: str) -> str:
    """Per-segment boxplot statistics (Tukey 1977): exact quartiles,
    1.5-IQR whiskers, and outlier counts over order totals by market
    segment — the grouped-distribution summary every BI layer asks for.

    Quartiles use the engine's exact count-histogram quantile (value at
    the smallest cumulative count >= ceil(q*n/4), over the per-segment
    DISTINCT-value relation) — never percentile_cont/disc, whose
    interpolation conventions diverge across engines.  Whiskers are the
    extreme values still inside the Tukey fences (q1/q3 -/+ 1.5*IQR);
    fences are computed in DOUBLE from the exact decimal quartiles (both
    engines derive the identical double, so the comparisons agree), and
    outliers are counted from the histogram, never per row.

    Scale shape: one orders scan + broadcast customer-dim join reduce to
    the (segment, value) histogram; every window after that is
    histogram-sized and keyed by segment.
    """
    return f"""
WITH joined AS (
  SELECT c.c_mktsegment AS seg,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS v
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
hist AS (
  SELECT seg, v, COUNT(*) AS c FROM joined GROUP BY seg, v
),
cum AS (
  SELECT seg, v, c,
         SUM(c) OVER (PARTITION BY seg ORDER BY v) AS cc,
         SUM(c) OVER (PARTITION BY seg) AS n
  FROM hist
),
quart AS (
  SELECT seg,
         MAX(n) AS n,
         MIN(v) AS min_v,
         MAX(v) AS max_v,
         MIN(CASE WHEN cc >= ceil(1.0 * n / 4) THEN v END) AS q1,
         MIN(CASE WHEN cc >= ceil(2.0 * n / 4) THEN v END) AS med,
         MIN(CASE WHEN cc >= ceil(3.0 * n / 4) THEN v END) AS q3
  FROM cum GROUP BY seg
),
fences AS (
  SELECT seg, n, min_v, max_v, q1, med, q3,
         CAST(q1 AS DOUBLE) - 1.5 * (CAST(q3 AS DOUBLE) - CAST(q1 AS DOUBLE))
           AS lo_fence,
         CAST(q3 AS DOUBLE) + 1.5 * (CAST(q3 AS DOUBLE) - CAST(q1 AS DOUBLE))
           AS hi_fence
  FROM quart
),
wh AS (
  SELECT h.seg,
         MIN(CASE WHEN CAST(h.v AS DOUBLE) >= f.lo_fence THEN h.v END)
           AS lo_whisker,
         MAX(CASE WHEN CAST(h.v AS DOUBLE) <= f.hi_fence THEN h.v END)
           AS hi_whisker,
         SUM(CASE WHEN CAST(h.v AS DOUBLE) < f.lo_fence
                    OR CAST(h.v AS DOUBLE) > f.hi_fence
                  THEN h.c ELSE 0 END) AS n_outliers
  FROM hist h JOIN fences f ON f.seg = h.seg
  GROUP BY h.seg
)
SELECT f.seg AS mktsegment,
       CAST(f.n AS BIGINT) AS n,
       CAST(f.min_v AS DOUBLE) AS min_x,
       CAST(f.q1 AS DOUBLE) AS q1,
       CAST(f.med AS DOUBLE) AS median,
       CAST(f.q3 AS DOUBLE) AS q3,
       CAST(f.max_v AS DOUBLE) AS max_x,
       ROUND(CAST(f.q3 AS DOUBLE) - CAST(f.q1 AS DOUBLE), 6) AS iqr,
       CAST(w.lo_whisker AS DOUBLE) AS lo_whisker,
       CAST(w.hi_whisker AS DOUBLE) AS hi_whisker,
       CAST(w.n_outliers AS BIGINT) AS n_outliers
FROM fences f JOIN wh w ON w.seg = f.seg
ORDER BY f.seg
"""


register(
    "boxplot_orders_by_segment",
    oracle=boxplot_sql(DUCKDB),
    doc="per-segment Tukey boxplot stats: exact count-histogram quartiles "
    "(never percentile_cont's divergent interpolation), 1.5-IQR "
    "whiskers, histogram-counted outliers",
)(sql_runner(boxplot_sql, ("orders", "customer")))
