"""PageRank over the supplier co-purchase graph — the iterative-graph-
algorithm exemplar, expressed so the parity gate can check it EXACTLY:
a fixed number of power iterations unrolls into chained CTEs (Page et al.,
"The PageRank Citation Ranking", 1999; the SQL-unrolled form every
dataflow engine uses for bounded iteration).

Graph: suppliers are connected when they supply at least one common
customer (lineitem ⋈ orders → distinct (customer, supplier) → self-join on
customer).  Undirected; dangling (edge-less) suppliers keep the teleport
mass (no dangling redistribution — fixed formula, both engines identical).

Numeric determinism: ranks live in DECIMAL(18,9) — every neighbor
contribution is computed in IEEE double (bit-identical across engines for
identical inputs), rounded to 9 dp, and summed exactly, so
partial-aggregation order cannot move the result (engine convention).

Scale shape (100 TB): the edge list is materialized ONCE Spark-side
(localCheckpoint; each iteration re-reads it, and Catalyst would otherwise
inline the whole lineitem ⋈ orders pipeline into every iteration).  Each
iteration is one shuffle keyed on the destination node — the standard
Pregel-on-dataflow layout; iterations are a linear CTE chain, each
consumed exactly once.  The co-purchase self-join is bounded per customer
(suppliers-per-customer is small and capped by order size, never N²
global).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import register_views, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, SPARK
from serene_spark.registry import register
from serene_spark.materialize import materialize

DAMPING = "0.85"
N_ITER = 3


def edges_sql(dialect: str) -> str:
    """Undirected co-purchase edges (both directions) + per-node out-degree."""
    return """
cs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
edges AS (
  SELECT DISTINCT a.s AS src, b.s AS dst
  FROM cs a JOIN cs b ON a.c = b.c AND a.s <> b.s
)"""


def _iter_body(prev: str) -> str:
    """One power iteration: rank flows src->dst along edges; nodes without
    in-edges keep the teleport term (LEFT JOIN). Shared verbatim by the
    unrolled CTE chain and the convergence loop, so the bounded query is a
    truncation of the same recurrence by construction."""
    return f"""
  SELECT n.node,
         CAST(ROUND((1 - {DAMPING}) / (SELECT cnt FROM nn)
                    + COALESCE(f.contrib, 0), 9) AS DECIMAL(18,9)) AS rank
  FROM nodes n
  LEFT JOIN (
    SELECT e.dst AS node,
           SUM(CAST(ROUND({DAMPING} * CAST(p.rank AS DOUBLE) / p.outdeg, 9)
                    AS DECIMAL(18,9))) AS contrib
    FROM edges e
    JOIN (SELECT r.node, r.rank, d.outdeg
          FROM {prev} r JOIN degs d ON r.node = d.node) p
      ON e.src = p.node
    GROUP BY e.dst
  ) f ON n.node = f.node"""


def _iter_cte(prev: str, cur: str) -> str:
    return f"""
{cur} AS ({_iter_body(prev)}
)"""


def pagerank_tail_sql(edges_rel: str, head: str = "WITH ") -> str:
    """Iteration chain + final projection over ``nodes`` and a named edges
    relation.  The ONLY formulation of the algorithm — both the Spark
    runner (materialized views) and the oracle (head-spliced CTEs) call
    this, so the two paths cannot desynchronize."""
    iters = "".join(
        "," + _iter_cte(f"r{i}" if i else "r0", f"r{i + 1}")
        for i in range(N_ITER)
    )
    return f"""
{head}nn AS (SELECT COUNT(*) AS cnt FROM nodes),
degs AS (
  SELECT src AS node, COUNT(*) AS outdeg FROM {edges_rel} GROUP BY src
),
r0 AS (
  SELECT node, CAST(ROUND(1.0 / (SELECT cnt FROM nn), 9) AS DECIMAL(18,9)) AS rank
  FROM nodes
){iters}
SELECT n.node AS s_suppkey,
       CAST(COALESCE(d.outdeg, 0) AS BIGINT) AS degree,
       ROUND(CAST(r.rank AS DOUBLE), 6) AS pagerank
FROM nodes n
JOIN r{N_ITER} r ON n.node = r.node
LEFT JOIN degs d ON n.node = d.node
"""


def pagerank_sql(dialect: str) -> str:
    return (
        f"WITH {edges_sql(dialect)},\n"
        "nodes AS (\n  SELECT s_suppkey AS node FROM supplier\n),"
        + pagerank_tail_sql("edges", head="")
    )


register(
    "pagerank_suppliers",
    oracle=pagerank_sql(DUCKDB),
    doc=f"PageRank ({N_ITER} unrolled power iterations, damping {DAMPING}) "
    "over the supplier co-purchase graph; decimal-exact rank sums",
)(sql_runner(
    lambda _d: pagerank_tail_sql("edges"),
    ("lineitem", "orders", "supplier"),
    # degs is small but referenced per iteration; it derives from the
    # materialized edges view so each reference is one tiny agg
    stages=lambda d: [
        ("edges", f"WITH {edges_sql(d)} SELECT * FROM edges"),
        ("nodes", "SELECT s_suppkey AS node FROM supplier"),
    ],
))


# --- convergence-looped sibling ----------------------------------------------

CONVERGE_TOL = 1e-8   # max |Δrank| between sweeps; ranks are DECIMAL(18,9)
CONVERGE_MAX_ITER = 60


def pagerank_converged_run(
    spark: SparkSession,
    sf_dir: str,
    tol: float = CONVERGE_TOL,
    max_iter: int = CONVERGE_MAX_ITER,
):
    """PageRank iterated to a FIXED POINT — the convergence-loop sibling of
    the bounded exemplar (round-4 verdict item #5), in the dedup_clusters
    pattern: driver-side loop, per-sweep delta checked via an AGGREGATE ONLY
    (one MAX(ABS(..)) scalar crosses to the driver per sweep, never rows).

    Each sweep applies the SAME ``_iter_body`` recurrence as the unrolled
    query and localCheckpoints the new rank vector (bounded lineage — the
    iterative-algorithm requirement at any scale). Returns
    ``(result_df, n_iters, final_delta)``; with ``tol=0.0`` it runs exactly
    ``max_iter`` sweeps, which the truncation test uses to pin equality with
    the unrolled 3-iteration oracle query.
    """
    register_views(spark, sf_dir, ("lineitem", "orders", "supplier"))
    edges = spark.sql(
        f"WITH {edges_sql(SPARK)} SELECT * FROM edges"
    ).transform(materialize)
    edges.createOrReplaceTempView("edges")
    spark.sql("SELECT s_suppkey AS node FROM supplier").transform(materialize).createOrReplaceTempView("nodes")
    spark.sql("SELECT COUNT(*) AS cnt FROM nodes").transform(materialize).createOrReplaceTempView("nn")
    spark.sql(
        "SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src"
    ).transform(materialize).createOrReplaceTempView("degs")

    rank = spark.sql(
        "SELECT node, CAST(ROUND(1.0 / (SELECT cnt FROM nn), 9) "
        "AS DECIMAL(18,9)) AS rank FROM nodes"
    ).transform(materialize)
    n_iters, delta = 0, float("inf")
    for _ in range(max_iter):
        rank.createOrReplaceTempView("pr_prev")
        new_rank = spark.sql(_iter_body("pr_prev")).transform(materialize)
        n_iters += 1
        delta = (
            new_rank.alias("a")
            .join(rank.alias("b"), "node")
            .selectExpr(
                "MAX(ABS(CAST(a.rank AS DOUBLE) - CAST(b.rank AS DOUBLE))) AS d"
            )
            .collect()[0]["d"]
        )
        rank = new_rank
        if tol > 0.0 and delta <= tol:
            break
    rank.createOrReplaceTempView("pr_final")
    out = spark.sql(
        """
SELECT n.node AS s_suppkey,
       CAST(COALESCE(d.outdeg, 0) AS BIGINT) AS degree,
       ROUND(CAST(r.rank AS DOUBLE), 6) AS pagerank
FROM nodes n
JOIN pr_final r ON n.node = r.node
LEFT JOIN degs d ON n.node = d.node
"""
    )
    return out, n_iters, delta


@register(
    "pagerank_converged",
    oracle=None,  # iterative-to-convergence — rows-only; fixed point pinned
    # vs numpy and 3-sweep truncation pinned vs the unrolled oracle query
    # in tests/test_graph_rank.py
    doc="PageRank iterated to a fixed point (max |Δrank| <= 1e-8, "
    "aggregate-only convergence check per sweep) over the supplier "
    "co-purchase graph — the convergence-loop sibling of pagerank_suppliers",
)
def pagerank_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, n_iters, _delta = pagerank_converged_run(spark, sf_dir)
    return out.selectExpr(
        "s_suppkey", "degree", "pagerank", f"CAST({n_iters} AS INT) AS n_iters"
    ).orderBy("s_suppkey")
