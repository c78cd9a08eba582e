"""Recommender / merchandising analytics: ABC classification, item-item
collaborative filtering, and Wilson-lower-bound rate ranking.

* ``abc_pareto_parts`` — ABC (Pareto) inventory classification: parts
  ranked by lifetime discounted revenue, classified A (first 80% of
  cumulative revenue), B (80-95%), C (tail), with per-class part counts,
  revenue and shares.  The classic merchandising cut behind "20% of SKUs
  drive 80% of revenue".  Scale shape: one lineitem scan reduced to the
  part-level revenue relation (catalog-sized, orders of magnitude smaller
  than fact rows), then windows over THAT relation only; the class
  boundary is an exact DECIMAL comparison (0.80 * total is exact decimal
  multiplication in both engines), never a DOUBLE epsilon.  At extreme
  catalog sizes the cumulative window becomes a range-partitioned sort —
  still never a fact-table window.
* ``item_item_cosine`` — item-item collaborative filtering (Sarwar et
  al., "Item-based collaborative filtering recommendation algorithms",
  WWW 2001) on binary basket membership: cosine(a,b) =
  co_orders / sqrt(orders_a * orders_b), top-``CF_TOP_K`` neighbors per
  part among pairs co-ordered >= ``CF_MIN_CO`` times.  Candidate pairs are
  generated INSIDE each basket (pair count bounded by Σ basket_size²,
  never catalog²) — the same in-basket generation as ``basket_part_lift``
  but producing the symmetric neighbor ranking a recommender serves, not
  association rules.  Deterministic: rank on (rounded cosine DESC,
  co-count DESC, neighbor id).
* ``wilson_return_rank`` — parts ranked by the LOWER bound of the Wilson
  score interval (Wilson 1927; popularized for ranking by E. Miller,
  "How not to sort by average rating") on their line-item return rate
  (``l_returnflag = 'R'``), z = 1.96.  The raw rate over-ranks small-n
  flukes; the Wilson lower bound is the defensible "worst plausible rate"
  ordering. One scan to per-part (returns, n) counts; the interval is
  closed-form per-part arithmetic on that catalog-sized relation.
  Parity: all interval math in DOUBLE with explicit CAST'd literals (a
  bare ``1.96`` is DECIMAL in DuckDB), identical operation order both
  engines, output rounded to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.window import Window

from serene_spark.catalog import bound_sql, compose_with, cte_stages, sql_runner, table_frames
from serene_spark.functions.sqlgen import DUCKDB, idiv
from serene_spark.registry import register
from serene_spark.materialize import materialize

CF_MIN_CO = 3   # min co-orders for a candidate pair (63 pairs at sf0.01)
CF_TOP_K = 3    # neighbors kept per part
WILSON_MIN_N = 5     # min line items before a part is rankable
WILSON_TOP_K = 20

REVENUE = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(8,2)))"


def abc_classed_rel(dialect: str) -> str:
    """Shared CTE chain: per-part revenue → cumulative-share ABC class
    (spliced verbatim by ``abc_pareto_parts`` and ``abc_xyz_matrix`` so the
    class boundaries cannot desync — the engine's shared-body convention)."""
    return f"""part_rev AS (
  SELECT l_partkey, CAST(SUM({REVENUE}) AS DECIMAL(38,4)) AS revenue
  FROM lineitem
  GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, revenue,
         SUM(revenue) OVER (ORDER BY revenue DESC, l_partkey
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev,
         SUM(revenue) OVER () AS total_rev,
         ROW_NUMBER() OVER (ORDER BY revenue DESC, l_partkey) AS pos
  FROM part_rev
),
classed AS (
  SELECT l_partkey,
         CASE WHEN cum_rev * 100 <= total_rev * 80 THEN 'A'
              WHEN cum_rev * 100 <= total_rev * 95 THEN 'B'
              ELSE 'C' END AS abc_class,
         revenue, total_rev, pos
  FROM ranked
)"""


def abc_pareto_sql(dialect: str) -> str:
    return f"""
WITH {abc_classed_rel(dialect)}
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(MIN(pos) AS BIGINT) AS first_rank,
       CAST(MAX(pos) AS BIGINT) AS last_rank,
       CAST(SUM(revenue) AS DOUBLE) AS revenue,
       ROUND(CAST(SUM(revenue) AS DOUBLE) / CAST(MAX(total_rev) AS DOUBLE), 6)
         AS revenue_share
FROM classed
GROUP BY abc_class
ORDER BY abc_class
"""


BASKETS_PROLOGUE = "baskets AS (\n  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem\n)"


def item_item_tail_sql(dialect: str) -> str:
    """Everything after ``baskets`` — run by Spark against the
    MATERIALIZED basket view (Catalyst inlines a CTE per reference; the
    support/pair/scored chain references baskets 3+ times, which re-derived
    the lineitem scan 6 times un-materialized)."""
    return f"""
WITH part_support AS (
  SELECT l_partkey, COUNT(*) AS s FROM baskets GROUP BY l_partkey
),
pair_support AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS s_ab
  FROM baskets a
  JOIN baskets b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
  HAVING COUNT(*) >= {CF_MIN_CO}
),
sym AS (
  SELECT part_a AS part, part_b AS neighbor, s_ab FROM pair_support
  UNION ALL
  SELECT part_b AS part, part_a AS neighbor, s_ab FROM pair_support
),
scored AS (
  SELECT y.part, y.neighbor,
         CAST(y.s_ab AS BIGINT) AS n_co_orders,
         ROUND(CAST(y.s_ab AS DOUBLE)
               / sqrt(CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)), 6) AS cosine
  FROM sym y
  JOIN part_support sa ON y.part = sa.l_partkey
  JOIN part_support sb ON y.neighbor = sb.l_partkey
),
rk AS (
  SELECT part, neighbor, n_co_orders, cosine,
         ROW_NUMBER() OVER (PARTITION BY part
                            ORDER BY cosine DESC, n_co_orders DESC, neighbor) AS pos
  FROM scored
)
SELECT part, neighbor, n_co_orders, cosine, CAST(pos AS BIGINT) AS pos
FROM rk
WHERE pos <= {CF_TOP_K}
"""


def _item_item_bases(_dialect: str) -> list[tuple[str, str]]:
    return [("baskets", BASKETS_PROLOGUE)]


def item_item_cosine_sql(dialect: str) -> str:
    """Full single-statement form (the DuckDB oracle)."""
    return compose_with(_item_item_bases(dialect), item_item_tail_sql(dialect))


def wilson_sql(dialect: str) -> str:
    z = "CAST(1.96 AS DOUBLE)"
    return f"""
WITH per_part AS (
  SELECT l_partkey,
         COUNT(*) AS n,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
  FROM lineitem
  GROUP BY l_partkey
  HAVING COUNT(*) >= {WILSON_MIN_N}
),
scored AS (
  SELECT l_partkey,
         CAST(n AS BIGINT) AS n_lineitems,
         CAST(r AS BIGINT) AS n_returned,
         ROUND(CAST(r AS DOUBLE) / n, 6) AS raw_rate,
         ROUND(
           (CAST(r AS DOUBLE) / n
              + {z} * {z} / (2 * CAST(n AS DOUBLE))
              - {z} * sqrt((CAST(r AS DOUBLE) / n * (1 - CAST(r AS DOUBLE) / n)
                            + {z} * {z} / (4 * CAST(n AS DOUBLE)))
                           / CAST(n AS DOUBLE)))
           / (1 + {z} * {z} / CAST(n AS DOUBLE)), 6) AS wilson_lower
  FROM per_part
),
rk AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY wilson_lower DESC, l_partkey) AS pos
  FROM scored
)
SELECT l_partkey, n_lineitems, n_returned, raw_rate, wilson_lower,
       CAST(pos AS BIGINT) AS pos
FROM rk
WHERE pos <= {WILSON_TOP_K}
"""


XYZ_X_MAX = "0.5"  # CV boundaries: X steady, Y variable, Z erratic
XYZ_Y_MAX = "1.0"


def abc_xyz_sql(dialect: str) -> str:
    """ABC (revenue) x XYZ (demand variability) matrix — the two-axis
    inventory-planning classification: XYZ classes come from the
    coefficient of variation of QUARTERLY demand per part over the full
    quarter spine (a part selling in 2 of 28 quarters is erratic BECAUSE
    of the zero quarters — computing CV over observed quarters only would
    misfile it as steady).  Spine = catalog x quarters (bounded), moments
    are decimal-exact, sqrt is the single float step, and the ABC chain is
    the shared ``abc_classed_rel`` body so the boundaries cannot desync."""
    q = f"CAST(YEAR(l_shipdate) AS BIGINT) * 4 + {idiv(dialect, '(CAST(MONTH(l_shipdate) AS BIGINT) - 1)', '3')}"
    return f"""
WITH {abc_classed_rel(dialect)},
quarters AS (
  SELECT DISTINCT {q} AS qtr FROM lineitem
),
pq AS (
  SELECT l_partkey, {q} AS qtr,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS qty
  FROM lineitem GROUP BY l_partkey, 2
),
spine AS (
  SELECT p.l_partkey, q.qtr FROM (SELECT DISTINCT l_partkey FROM pq) p
  CROSS JOIN quarters q
),
filled AS (
  SELECT s.l_partkey, COALESCE(pq.qty, 0) AS qty
  FROM spine s LEFT JOIN pq ON s.l_partkey = pq.l_partkey AND s.qtr = pq.qtr
),
mom AS (
  SELECT l_partkey,
         COUNT(*) AS n,
         SUM(qty) AS s1,
         SUM(qty * qty) AS s2
  FROM filled GROUP BY l_partkey
),
xyz AS (
  SELECT l_partkey,
         CASE
           WHEN s1 = 0 THEN 'Z'
           WHEN sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                     / (n - 1)) / (CAST(s1 AS DOUBLE) / n) <= {XYZ_X_MAX} THEN 'X'
           WHEN sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                     / (n - 1)) / (CAST(s1 AS DOUBLE) / n) <= {XYZ_Y_MAX} THEN 'Y'
           ELSE 'Z'
         END AS xyz_class
  FROM mom
)
SELECT c.abc_class, x.xyz_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(c.revenue) AS DOUBLE) AS revenue,
       ROUND(CAST(SUM(c.revenue) AS DOUBLE) / CAST(MAX(c.total_rev) AS DOUBLE), 6)
         AS revenue_share
FROM classed c JOIN xyz x ON c.l_partkey = x.l_partkey
GROUP BY c.abc_class, x.xyz_class
ORDER BY c.abc_class, x.xyz_class
"""


DID_CUT = "1999-01-01"  # pre/post boundary for the promo diff-in-differences


def did_promo_sql(dialect: str) -> str:
    """Difference-in-differences on promo parts: the causal-inference
    template (treated = PROMO p_type, control = everything else; periods
    split at {DID_CUT}).  On this synthetic corpus no real intervention
    exists, so the estimate doubles as an A/A-style calibration — the
    readout must sit near zero (pinned in tests), exactly like the
    ``ab_test_conversion`` null-split check.  One fact scan; the part dim
    broadcasts; cells are decimal-exact revenue means."""
    return f"""
WITH tagged AS (
  SELECT CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS treated,
         CASE WHEN l.l_shipdate >= TIMESTAMP '{DID_CUT}' THEN 1 ELSE 0 END AS post,
         CAST({REVENUE} AS DECIMAL(18,4)) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
cells AS (
  SELECT treated, post,
         COUNT(*) AS n,
         CAST(SUM(rev) AS DECIMAL(38,4)) AS s
  FROM tagged GROUP BY treated, post
),
wide AS (
  SELECT
    MAX(CASE WHEN treated = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS t_pre,
    MAX(CASE WHEN treated = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS t_post,
    MAX(CASE WHEN treated = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS c_pre,
    MAX(CASE WHEN treated = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS c_post,
    SUM(n) AS n_total
  FROM cells
)
SELECT ROUND(t_pre, 6) AS treated_pre_mean,
       ROUND(t_post, 6) AS treated_post_mean,
       ROUND(c_pre, 6) AS control_pre_mean,
       ROUND(c_post, 6) AS control_post_mean,
       ROUND((t_post - t_pre) - (c_post - c_pre), 6) AS did_estimate,
       CAST(n_total AS BIGINT) AS n_lineitems
FROM wide
"""


register(
    "abc_pareto_parts",
    oracle=abc_pareto_sql(DUCKDB),
    doc="ABC (Pareto) part classification by cumulative revenue share; "
    "windows only over the catalog-sized part relation, exact decimal "
    "class boundaries",
)(sql_runner(abc_pareto_sql, ("lineitem",)))

register(
    "item_item_cosine",
    oracle=item_item_cosine_sql(DUCKDB),
    doc=f"item-item CF: cosine on binary basket membership, top-{CF_TOP_K} "
    f"neighbors per part among pairs co-ordered >= {CF_MIN_CO} times; "
    "in-basket candidate generation",
)(sql_runner(item_item_tail_sql, ("lineitem",), stages=cte_stages(_item_item_bases)))

register(
    "wilson_return_rank",
    oracle=wilson_sql(DUCKDB),
    doc=f"Wilson lower-bound ranking of part return rates (z=1.96, "
    f"n >= {WILSON_MIN_N}); small-n flukes cannot out-rank established rates",
)(sql_runner(wilson_sql, ("lineitem",)))


register(
    "abc_xyz_matrix",
    oracle=abc_xyz_sql(DUCKDB),
    doc="ABC (revenue) x XYZ (quarterly-demand CV over the full quarter "
    "spine) inventory classification matrix; shared ABC body, decimal-"
    "exact moments",
)(sql_runner(abc_xyz_sql, ("lineitem",)))

register(
    "did_promo_revenue",
    oracle=did_promo_sql(DUCKDB),
    doc=f"difference-in-differences on promo parts split at {DID_CUT}; "
    "null-intervention corpus makes it an A/A calibration (estimate ~ 0)",
)(sql_runner(did_promo_sql, ("lineitem", "part")))


def event_study_sql(dialect: str) -> str:
    """Event-study leads and lags around the DiD cut: the per-period
    generalization of ``did_promo`` (Sun & Abraham 2021's descriptive
    baseline) — for every shipment YEAR, the treated-minus-control revenue
    gap NORMALIZED to the last pre-period year, so the pre-cut
    coefficients are the parallel-trends diagnostic (they must hover near
    0 for the DiD to be credible) and the post-cut ones trace the effect's
    dynamics.  On this corpus no intervention exists, so the whole path is
    an A/A calibration: every coefficient sits in the noise band (pinned).
    One fact scan; (treated, year) cells are decimal-exact revenue means."""
    return f"""
WITH tagged AS (
  SELECT CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS treated,
         CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS yr,
         CAST({REVENUE} AS DECIMAL(18,4)) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
cells AS (
  SELECT treated, yr, COUNT(*) AS n, CAST(SUM(rev) AS DECIMAL(38,4)) AS s
  FROM tagged GROUP BY treated, yr
),
gaps AS (
  SELECT t.yr,
         t.n + c.n AS n,
         CAST(t.s AS DOUBLE) / t.n - CAST(c.s AS DOUBLE) / c.n AS gap
  FROM (SELECT * FROM cells WHERE treated = 1) t
  JOIN (SELECT * FROM cells WHERE treated = 0) c ON t.yr = c.yr
),
base AS (
  -- normalization period: the last year BEFORE the cut
  SELECT gap AS base_gap FROM gaps
  WHERE yr = (SELECT MAX(yr) FROM gaps
              WHERE yr < CAST(EXTRACT(YEAR FROM TIMESTAMP '{DID_CUT}') AS BIGINT))
)
SELECT CAST(g.yr AS BIGINT) AS year,
       CAST(g.yr - CAST(EXTRACT(YEAR FROM TIMESTAMP '{DID_CUT}') AS BIGINT)
            AS BIGINT) AS rel_year,
       CAST(g.n AS BIGINT) AS n_rows,
       ROUND(g.gap, 6) AS treated_control_gap,
       ROUND(g.gap - b.base_gap, 6) AS event_study_coef
FROM gaps g JOIN base b ON 1 = 1
ORDER BY year
"""


register(
    "event_study_promo",
    oracle=event_study_sql(DUCKDB),
    doc="Event-study leads/lags around the DiD cut: per-year treated-minus-"
    "control gaps normalized to the last pre-period — pre-cut coefficients "
    "ARE the parallel-trends diagnostic; A/A calibration on this corpus",
)(sql_runner(event_study_sql, ("lineitem", "part")))


# --- ALS matrix factorization (the distributed recommender) ------------------

ALS_RANK = 8
ALS_REG = 0.1
ALS_ITERS = 10
ALS_SEED = 5043  # the engine-wide RF seed, reused
ALS_TOP_K = 3


def als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS matrix factorization over implicit customer-part purchase
    strength (Hu, Koren & Volinsky, "Collaborative filtering for implicit
    feedback datasets", ICDM 2008) — the canonical DISTRIBUTED recommender
    and the capability ``item_item_cosine`` feeds at small candidate
    depth: neighborhood CF cannot rank parts a customer shares no basket
    with, factorization can.

    Spark-first: ``pyspark.ml.recommendation.ALS`` IS the reference
    distributed implementation (block-to-block normal-equation solves, no
    driver-side matrix) — implicitPrefs mode with preference = 1 and
    confidence 1 + alpha * qty.  Output: top-{ALS_TOP_K} unpurchased-part
    recommendations per customer for a deterministic 20-customer sample
    (rows-only: iterative numeric optimization is not SQL; the model's
    RANKING quality and seed determinism are pinned in
    tests/test_recsys.py on a preference-structured fixture).

    Scale shape: the ratings relation is one lineitem-orders join reduced
    to (customer, part, qty) — fact-scale shuffle on o_orderkey, then the
    ALS block iterations shuffle factor blocks only.  recommendForUserSubset
    bounds the serving join to the sample; full-catalog serving at 100 TB
    is the ANN index path (similarity_ivf) over the item factors.
    """
    from pyspark.ml.recommendation import ALS

    ratings = bound_sql(spark, """
        SELECT CAST(o.o_custkey AS INT) AS user, CAST(l.l_partkey AS INT) AS item,
               CAST(SUM(l.l_quantity) AS FLOAT) AS qty
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_custkey, l.l_partkey
    """, table_frames(spark, sf_dir, ("lineitem", "orders"))).transform(materialize)
    als = ALS(
        rank=ALS_RANK, maxIter=ALS_ITERS, regParam=ALS_REG, seed=ALS_SEED,
        implicitPrefs=True, alpha=1.0,
        userCol="user", itemCol="item", ratingCol="qty",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    sample = ratings.select("user").distinct().orderBy("user").limit(20)
    from pyspark.sql import functions as F

    # request enough candidates that the top-K survives the purchased-item
    # filter: the sample's densest user bounds how many recs it can consume
    # (a 21-row aggregate collect, bounded by the sample size — not a
    # data-scale collect)
    max_seen = (
        ratings.join(sample, "user")
        .groupBy("user").count()
        .agg(F.max("count")).collect()[0][0]
    )
    # max() over an empty ratings relation is NULL — degenerate input
    # serves an empty frame, like every other operator
    recs = model.recommendForUserSubset(sample, int(max_seen or 0) + ALS_TOP_K)

    exploded = recs.select(
        "user", F.posexplode("recommendations").alias("pos", "rec")
    ).select(
        "user",
        F.col("rec.item").alias("item"),
        F.col("rec.rating").alias("score"),
        "pos",
    )
    # serve only UNPURCHASED parts (the point of factorization), keep top-K
    seen = ratings.select("user", "item").withColumn("purchased", F.lit(1))
    return (
        exploded.join(seen, ["user", "item"], "left")
        .where(F.col("purchased").isNull())
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("user").orderBy(F.col("pos"))
            ),
        )
        .where(F.col("rank") <= ALS_TOP_K)
        .select(
            F.col("user").alias("c_custkey"),
            F.col("item").alias("p_partkey"),
            F.round("score", 4).alias("score"),
            "rank",
        )
        .orderBy("c_custkey", "rank")
    )


register(
    "als_recommend_parts",
    doc=f"ALS implicit-feedback matrix factorization (Hu-Koren-Volinsky "
    f"2008) over customer-part purchase strength: top-{ALS_TOP_K} "
    "unpurchased-part recommendations for a deterministic customer sample "
    "— rows-only (iterative optimization); ranking quality + seed "
    "determinism pinned on a preference-structured fixture",
)(als_recommend)
