"""Graph analytics beyond PageRank: exact triangle counting and the
large-star/small-star connected-components algorithm.

* ``triangle_counts`` — exact triangle counting on the supplier
  co-purchase graph (same edge relation as ``pagerank_suppliers``) via
  degree-ordered edge orientation (Latapy, "Main-memory triangle
  computations for very large graphs", TCS 2008 — the compact-forward /
  MapReduce "orient by degree" strategy of Suri & Vassilvitskii, WWW 2011):
  nodes get a total order by (degree, id), each undirected edge is kept
  only low→high, and a triangle {x,y,z} is found exactly once as the wedge
  at its lowest-ranked vertex plus one existence join.  Orientation bounds
  every node's out-neighborhood by O(sqrt(|E|)), so the wedge join
  (the quadratic step) never explodes on hubs — THE reason this plan
  survives skewed degree distributions at 100 TB where a naive
  edge-edge-edge join on raw ids hits hub² wedges.  The (degree, id) rank
  is a window over the NODE relation — orders of magnitude smaller than
  edges; at extreme node counts the same rank comes from a distributed
  sort + zipWithIndex.  Output: top-20 nodes by triangle participation +
  the global triangle count.
* ``cc_large_star`` — connected components by alternating large-star /
  small-star edge rewriting (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC 2014) over the SAME verified near-duplicate
  pair graph as ``dedup_clusters``.  Min-label propagation (the
  ``dedup_clusters`` formulation) moves labels ONE HOP per round —
  O(diameter) rounds, fine for shallow near-dup clusters but pathological
  on chain-shaped components (doc A ~ B ~ C ... with no A ~ C pair —
  exactly what transitive near-duplication produces).  Star rewriting
  contracts components in O(log n) rounds regardless of shape: large-star
  hangs every higher neighbor of u under min(Γ(u) ∪ {u}); small-star
  re-hangs the lower neighborhood.  Each half-round is one node-keyed
  aggregation + one join on the CURRENT edge set (which only shrinks
  toward the star forest); convergence is detected by an aggregate-only
  checksum (count + sum of pair hashes), never a collect.  Rows-only
  (iterative); pytest pins label-equivalence with ``dedup_clusters`` /
  networkx and the O(log n) round count on a deep synthetic path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import bound_sql, sql_runner, table_frames
from serene_spark.functions.sqlgen import DUCKDB, SPARK
from serene_spark.operators.graph_rank import edges_sql
from serene_spark.registry import register
from serene_spark.materialize import materialize

TRI_TOP_K = 20


def triangle_tail_sql(dialect: str) -> str:
    """Everything after ``edges`` — Spark runs this against the
    MATERIALIZED edge view (Catalyst inlines a CTE per reference; the
    orientation/wedge chain references edges repeatedly, which re-derived
    the lineitem-orders scan 148 times un-materialized)."""
    return f"""
WITH deg AS (
  SELECT src AS node, COUNT(*) AS degree FROM edges GROUP BY src
),
rk AS (
  SELECT node, degree, ROW_NUMBER() OVER (ORDER BY degree, node) AS rk
  FROM deg
),
oriented AS (
  SELECT ra.rk AS a, rb.rk AS b
  FROM edges e
  JOIN rk ra ON e.src = ra.node
  JOIN rk rb ON e.dst = rb.node
  WHERE ra.rk < rb.rk
),
tri AS (
  SELECT w.a AS x, w.b AS y, w.c AS z
  FROM (
    SELECT e1.a, e1.b, e2.b AS c
    FROM oriented e1
    JOIN oriented e2 ON e1.a = e2.a AND e1.b < e2.b
  ) w
  JOIN oriented e3 ON e3.a = w.b AND e3.b = w.c
),
per_rk AS (
  SELECT v AS rk, COUNT(*) AS n_triangles
  FROM (
    SELECT x AS v FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) m
  GROUP BY v
),
total AS (
  SELECT COUNT(*) AS n FROM tri
),
ranked AS (
  SELECT r.node AS s_suppkey,
         CAST(r.degree AS BIGINT) AS degree,
         CAST(p.n_triangles AS BIGINT) AS n_triangles,
         ROW_NUMBER() OVER (ORDER BY p.n_triangles DESC, r.node) AS pos
  FROM per_rk p JOIN rk r ON p.rk = r.rk
)
SELECT s_suppkey, degree, n_triangles,
       CAST((SELECT n FROM total) AS BIGINT) AS total_triangles
FROM ranked WHERE pos <= {TRI_TOP_K}
"""


def triangle_sql(dialect: str) -> str:
    """Full single-statement form (the DuckDB oracle)."""
    tail = triangle_tail_sql(dialect)
    assert tail.startswith("\nWITH ")
    return f"\nWITH {edges_sql(dialect).lstrip()},\n{tail[len('WITH ') + 1:]}"


register(
    "triangle_counts",
    oracle=triangle_sql(DUCKDB),
    doc="exact triangle counts on the supplier co-purchase graph via "
    "degree-ordered orientation (hub-safe wedge join); top-20 nodes + "
    "global count",
)(sql_runner(triangle_tail_sql, ("lineitem", "orders"), stages=lambda d: [
    ("edges", f"WITH {edges_sql(d)} SELECT src, dst FROM edges"),
]))


# --- large-star / small-star connected components ---------------------------


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    """Aggregate-only fingerprint of a canonical (lo, hi) edge set."""
    from pyspark.sql import functions as F

    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("lo", "hi").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def large_star_cc(edges: DataFrame, max_rounds: int = 40) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star CC over a canonical (lo, hi) edge
    DataFrame (lo < hi, deduped).  Returns (labels(node, cluster), rounds).

    Each half-round: symmetrize → per-node min over Γ(u) ∪ {u} (one keyed
    agg with map-side combine) → re-emit edges (one join) → canonicalize.
    The edge set monotonically approaches the star forest whose centers are
    the component minima; at convergence every node's min neighbor IS its
    component min.  localCheckpoint per round keeps plans flat (cluster
    scale: checkpoint to reliable storage).
    """
    from pyspark.sql import functions as F

    edges = edges.select(
        F.least("lo", "hi").alias("lo"), F.greatest("lo", "hi").alias("hi")
    ).where(F.col("lo") != F.col("hi")).distinct().transform(materialize)

    def _sym(e: DataFrame) -> DataFrame:
        return e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )

    def _nbr_min(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )

    prev = _edge_checksum(edges)
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        # large-star: hang every HIGHER neighbor v > u under m(u)
        sym = _sym(edges)
        nm = _nbr_min(sym)
        edges = (
            sym.where(F.col("v") > F.col("u"))
            .join(nm, "u")
            .select(F.col("m").alias("lo"), F.col("v").alias("hi"))
            .where(F.col("lo") != F.col("hi"))
            .distinct()
            .transform(materialize)
        )
        # small-star: re-hang the lower neighborhood (v < u) plus u itself
        sym = _sym(edges)
        nm = _nbr_min(sym)
        lower = (
            sym.where(F.col("v") < F.col("u"))
            .join(nm, "u")
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
        )
        self_edge = nm.select(F.col("m").alias("a"), F.col("u").alias("b"))
        edges = (
            lower.union(self_edge)
            .select(F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi"))
            .where(F.col("lo") != F.col("hi"))
            .distinct()
            .transform(materialize)
        )
        cur = _edge_checksum(edges)
        if cur == prev:
            break
        prev = cur

    labels = _sym(edges).groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("cluster")
    ).select(F.col("u").alias("doc_id"), "cluster")
    return labels, rounds


def _cc_large_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serene_spark.operators.dedup import dedup_lsh_verified_spark

    pairs = dedup_lsh_verified_spark(spark, sf_dir).selectExpr(
        "doc_id_1 AS lo", "doc_id_2 AS hi"
    )
    labels, _ = large_star_cc(pairs)
    return labels.orderBy("doc_id")


def _cc_oracle() -> str:
    # same closure oracle as dedup_clusters: both algorithms compute the
    # identical (node, component-min) labeling, so the recursive-CTE
    # transitive closure checks this one too — star rewriting differs only
    # in HOW labels converge (O(log n) rounds vs O(diameter)), never in
    # what they are.
    from serene_spark.operators.dedup import _clusters_oracle

    return _clusters_oracle()


register(
    "cc_large_star",
    oracle=_cc_oracle(),
    doc="connected components over verified near-dup pairs by alternating "
    "large-star/small-star edge rewriting — O(log n) rounds vs "
    "dedup_clusters' O(diameter) one-hop propagation; oracle = the same "
    "recursive-CTE closure (identical labeling by construction)",
)(_cc_large_star)


KCORE_MAX_ROUNDS = 64


def core_numbers(edges: DataFrame, max_rounds: int = KCORE_MAX_ROUNDS):
    """Full k-core decomposition by iterated neighborhood h-index
    (Lü et al., "The H-index of a network node and its relation to degree
    and coreness", Nature Communications 2016): start every node at its
    degree; each round replaces a node's value with the h-index of its
    neighbors' values (the largest r such that r neighbors hold value
    >= r); the fixed point is EXACTLY the core number.

    Why this and not sequential peeling: peeling removes the global
    min-degree node one k-level at a time — O(k_max) synchronous rounds,
    pathological on the dense co-purchase graph (k_max ~ n).  The h-index
    iteration is a purely LOCAL recurrence: each round is one value-join
    onto the edge relation + one per-node window (rank neighbors by value
    desc, h = max rank with value >= rank) — node-keyed shuffles only, and
    it converges in a handful of rounds on real topologies regardless of
    density.  Convergence is detected by an aggregate-only checksum
    (count + sum of values), never a collect; values only decrease, so the
    checksum is monotone and cannot alias a change.

    ``edges`` must hold both directions (src, dst).  Returns
    ((node, degree, core) DataFrame, rounds_run).
    """
    from pyspark.sql import functions as F

    edges = edges.select("src", "dst").transform(materialize)
    vals = (
        edges.groupBy("src")
        .agg(F.count("*").alias("val"))
        .withColumnRenamed("src", "node")
        .transform(materialize)
    )
    degrees = vals.withColumnRenamed("val", "degree")
    rounds = 0
    prev = None
    while rounds < max_rounds:
        rounds += 1
        nbr = (
            edges.join(vals.withColumnRenamed("node", "dst"), "dst")
            .select(F.col("src").alias("node"), "val")
        )
        from pyspark.sql import Window

        # rank order among equal vals is irrelevant: h depends only on the
        # sorted multiset of neighbor values
        w = F.row_number().over(Window.partitionBy("node").orderBy(F.desc("val")))
        hidx = (
            nbr.withColumn("rk", w)
            .groupBy("node")
            .agg(
                F.max(
                    F.when(F.col("val") >= F.col("rk"), F.col("rk")).otherwise(0)
                ).alias("h")
            )
        )
        # core values never exceed the current value (monotone decrease)
        vals = (
            vals.join(hidx, "node")
            .select("node", F.least("val", "h").alias("val"))
            .transform(materialize)
        )
        row = vals.agg(
            F.count("*").alias("n"), F.sum("val").alias("s")
        ).collect()[0]
        cur = (row["n"], row["s"])
        if cur == prev:
            break
        prev = cur
    out = degrees.join(vals, "node").select(
        "node", "degree", F.col("val").alias("core")
    )
    return out, rounds


def _kcore_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = bound_sql(
        spark, f"WITH {edges_sql(SPARK)} SELECT src, dst FROM edges",
        table_frames(spark, sf_dir, ("lineitem", "orders")),
    )
    out, _ = core_numbers(edges)
    return out.selectExpr(
        "CAST(node AS BIGINT) AS s_suppkey",
        "CAST(degree AS BIGINT) AS degree",
        "CAST(core AS BIGINT) AS core_number",
    ).orderBy("s_suppkey")


register(
    "kcore_suppliers",
    oracle=None,
    doc="full k-core decomposition of the supplier co-purchase graph via "
    "the iterated-h-index local recurrence (exact core numbers, "
    "aggregate-only convergence); pinned against networkx in tests",
)(_kcore_suppliers)


# --- degree distribution + Hill tail estimator -------------------------------

HILL_MIN_K = 5


def degree_hist_sql(dialect: str) -> str:
    """Degree histogram of the customer-supplier BIPARTITE graph (supplier
    popularity = distinct customers served) + the Hill estimator of the
    tail exponent (Hill, Ann. Stat. 1975):
    alpha = k / SUM_{i<=k} ln(d_(i) / d_(k+1)), k = max(HILL_MIN_K, n/10).

    The bipartite degree is the one with signal here: the co-purchase
    PROJECTION of this corpus is complete (measured: every supplier
    co-occurs with every other, all degrees = n-1), so its histogram is a
    single row and the Hill ln-sum is exactly zero.  The projection
    degeneracy is itself guarded: a zero ln-sum yields NULL alpha instead
    of an ANSI division error — stated, not silent.  The histogram keys on
    degree (bounded cardinality); the Hill sum runs over the
    NODE-cardinality ranked relation, each ln term 12-dp-quantized and
    DECIMAL-summed.  The corpus tail is thin, so alpha is large; the
    heavy-tail case lives in zipf_fit_tokens."""
    from serene_spark.functions.sqlgen import idiv

    k_expr = f"GREATEST({HILL_MIN_K}, " + idiv(dialect, "nn.cnt", "10") + ")"
    return f"""
WITH cs AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
deg AS (
  SELECT s AS node, COUNT(*) AS degree FROM cs GROUP BY s
),
nn AS (SELECT COUNT(*) AS cnt FROM deg),
ranked AS (
  SELECT degree,
         ROW_NUMBER() OVER (ORDER BY degree DESC, node) AS rk
  FROM deg
),
kk AS (SELECT {k_expr} AS k FROM nn),
dk1 AS (
  SELECT CAST(r.degree AS DOUBLE) AS d_k1
  FROM ranked r JOIN kk ON r.rk = kk.k + 1
),
hill AS (
  SELECT kk.k,
         SUM(CAST(ROUND(ln(CAST(r.degree AS DOUBLE) / d.d_k1), 12)
                  AS DECIMAL(20,12))) AS lnsum
  FROM ranked r JOIN kk ON r.rk <= kk.k JOIN dk1 d ON 1 = 1
  GROUP BY kk.k
),
hist AS (
  SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
)
SELECT CAST(h.degree AS BIGINT) AS degree,
       CAST(h.n_nodes AS BIGINT) AS n_nodes,
       ROUND(CASE WHEN CAST(hl.lnsum AS DOUBLE) = 0 THEN NULL
                  ELSE CAST(hl.k AS DOUBLE) / CAST(hl.lnsum AS DOUBLE) END, 6)
         AS hill_alpha,
       CAST(hl.k AS BIGINT) AS hill_k
-- LEFT JOIN: with n <= k nodes there is no rank-(k+1) degree, hill is
-- empty, and an inner join would silently erase the whole histogram
FROM hist h LEFT JOIN hill hl ON 1 = 1
ORDER BY degree
"""


register(
    "graph_degree_hist",
    oracle=degree_hist_sql(DUCKDB),
    doc="Supplier-popularity (bipartite) degree histogram + Hill tail-"
    "exponent estimator over the top-k degrees (k = max(5, n/10)); exact "
    "integer degrees, 12-dp-quantized decimal ln sums, degenerate-tail "
    "NULL guard",
)(sql_runner(degree_hist_sql, ("lineitem", "orders")))
