"""Lloyd's k-means over the embeddings table, expressed relationally with
INTEGER-EXACT arithmetic — the iterative-ML exemplar the parity gate can
check bit-for-bit (the clustering sibling of ``pagerank_suppliers``'s
unrolled power iterations and ``bpe_trained_merges``' trainer loop).

Determinism strategy: float components are quantized ONCE to integer
micro-units (``FLOOR(x * 1e6)`` — FLOOR is floor in both engines, and the
double product is IEEE-identical for identical inputs).  From there every
quantity is integer: squared L2 distances are BIGINT sums over 64 dims
(max ~1e15, far from overflow), centroid updates are truncating integer
divisions of exact BIGINT sums (sign-split so DuckDB's floor-`//` and
Spark's truncate-`div` agree on negatives), and the argmin breaks ties on
centroid id.  No float enters any aggregation, so partial-aggregation
order CANNOT move a single assignment — the whole trajectory is exact.

Scale shape (100 TB): the per-iteration cost is the assignment join —
points_melt (N·D rows) x centroids (K·D rows, metadata-sized → BROADCAST;
no shuffle of the points for assignment), partial BIGINT sums combine
map-side, then ONE shuffle keyed on (centroid, dim) for the update (K·D
groups).  Iterations are a linear CTE chain over the quantized melt
relation, which Spark materializes once (localCheckpoint) so Catalyst
cannot re-derive the parquet scan per iteration.  Init here is the K
lowest vec_ids (a rank over the node-scale relation) purely for
oracle-checkability — production init is a sampled k-means|| pass
(Bahmani et al., VLDB 2012); empty clusters carry their previous centroid
forward (COALESCE against the prior round) so K is stable by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import compose_with, cte_stages, register_views, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, SPARK, element_at, explode_seq, idiv
from serene_spark.registry import register
from serene_spark.materialize import materialize

K = 8
DIM = 64
N_ITER = 3
SCALE = 1_000_000  # micro-units


def _tdiv(dialect: str, a: str, b: str) -> str:
    """Truncate-toward-zero integer division, identical across engines
    (DuckDB ``//`` floors, Spark ``div`` truncates — they differ below 0)."""
    return (
        f"(CASE WHEN {a} >= 0 THEN {idiv(dialect, a, b)}"
        f" ELSE -{idiv(dialect, f'(-({a}))', b)} END)"
    )


def _iter_ctes(dialect: str, i: int) -> str:
    """One Lloyd iteration: integer-exact assign + centroid update."""
    prev, cur = f"cm{i}", f"cm{i + 1}"
    newc = f"newc{i + 1}"
    return f""",
a{i} AS (
  SELECT p.vec_id, c.cid,
         SUM((p.xq - c.cq) * (p.xq - c.cq)) AS dist
  FROM pm p JOIN {prev} c ON p.d = c.d
  GROUP BY p.vec_id, c.cid
),
best{i} AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY dist, cid) AS rn
    FROM a{i}
  ) r WHERE rn = 1
),
{newc} AS (
  SELECT b.cid, p.d,
         {_tdiv(dialect, "SUM(p.xq)", "COUNT(*)")} AS cq
  FROM best{i} b JOIN pm p ON b.vec_id = p.vec_id
  GROUP BY b.cid, p.d
),
{cur} AS (
  SELECT o.cid, o.d, COALESCE(n.cq, o.cq) AS cq
  FROM {prev} o LEFT JOIN {newc} n ON o.cid = n.cid AND o.d = n.d
)"""


def kmeans_pm_bases(dialect: str) -> list[tuple[str, str]]:
    """The quantized melt as a materialization base: the Lloyd chain
    references pm twice per iteration (assign + update) and Catalyst
    inlines each reference back to the parquet scan (45 scans measured
    for the trainer, 91 for the quality audit before materialization)."""
    x = element_at(dialect, "embedding", "i")
    return [("pm", f"""pm AS (
  SELECT vec_id, i AS d,
         CAST(FLOOR(CAST({x} AS DOUBLE) * {SCALE}) AS BIGINT) AS xq
  FROM (
    SELECT vec_id, embedding, {explode_seq(dialect, 1, str(DIM))} AS i
    FROM embeddings
  ) e
)""")]


def _chain_after_pm(dialect: str) -> str:
    """rank-K init + N_ITER Lloyd iterations (the SINGLE formulation —
    kmeans_embeddings and the quality audit both splice it, so they
    cannot desync)."""
    iters = "".join(_iter_ctes(dialect, i) for i in range(N_ITER))
    return f"""init_ids AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
  FROM (SELECT DISTINCT vec_id FROM pm) v
),
cm0 AS (
  SELECT ii.cid, p.d, p.xq AS cq
  FROM init_ids ii JOIN pm p ON ii.vec_id = p.vec_id
  WHERE ii.cid < {K}
){iters}"""


def _kmeans_prefix_sql(dialect: str) -> str:
    return f"""
WITH {kmeans_pm_bases(dialect)[0][1]},
{_chain_after_pm(dialect)}"""


def kmeans_sql(dialect: str) -> str:
    return compose_with(kmeans_pm_bases(dialect), kmeans_tail_sql(dialect))


def kmeans_tail_sql(dialect: str) -> str:
    last = N_ITER - 1
    return f"""
WITH {_chain_after_pm(dialect)},
sizes AS (
  SELECT cid, COUNT(*) AS n_points,
         CAST(SUM(CAST(dist AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS inertia
  FROM best{last} GROUP BY cid
)
SELECT c.cid, c.d, CAST(c.cq AS BIGINT) AS centroid_micro,
       CAST(COALESCE(s.n_points, 0) AS BIGINT) AS n_points,
       ROUND(CAST(COALESCE(s.inertia, 0) AS DOUBLE) / ({SCALE}.0 * {SCALE}), 6)
         AS inertia
FROM cm{N_ITER} c LEFT JOIN sizes s ON c.cid = s.cid
"""


register(
    "kmeans_embeddings",
    oracle=kmeans_sql(DUCKDB),
    doc=f"Lloyd's k-means (K={K}, {N_ITER} unrolled iterations) over "
    "embeddings in integer micro-units — bit-exact assignments and "
    "centroids, broadcast-assignment plan shape",
)(sql_runner(kmeans_tail_sql, ("embeddings",), stages=cte_stages(kmeans_pm_bases)))


# --- convergence-looped sibling ----------------------------------------------

KMEANS_MAX_ITER = 60


def kmeans_converged(spark: SparkSession, sf_dir: str, max_iter: int = KMEANS_MAX_ITER):
    """Lloyd's k-means run to its FIXED POINT: iterate the exact same integer
    recurrence as ``kmeans_embeddings`` until no point changes cluster, with
    the changed-assignment count computed as an AGGREGATE (never a collect of
    assignments) — the convergence-loop sibling, same pairing as
    ``pagerank_converged`` / ``pagerank_suppliers`` and ``dedup_clusters``.
    Returns (result DataFrame in the unrolled query's schema, n_iter).

    The quantized melt and each round's centroids are materialized
    (localCheckpoint) so every iteration's plan is flat — Catalyst would
    otherwise inline the whole chain back to the parquet scan per round.
    """
    from pyspark.sql import functions as F

    register_views(spark, sf_dir, ("embeddings",))
    x = element_at(SPARK, "embedding", "i")
    pm = spark.sql(f"""
        SELECT vec_id, i AS d,
               CAST(FLOOR(CAST({x} AS DOUBLE) * {SCALE}) AS BIGINT) AS xq
        FROM (SELECT vec_id, embedding, {explode_seq(SPARK, 1, str(DIM))} AS i
              FROM embeddings) e
    """).transform(materialize)
    pm.createOrReplaceTempView("__km_pm")
    cm = spark.sql(f"""
        SELECT ii.cid, p.d, p.xq AS cq
        FROM (SELECT vec_id,
                     CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
              FROM (SELECT DISTINCT vec_id FROM __km_pm) v) ii
        JOIN __km_pm p ON ii.vec_id = p.vec_id
        WHERE ii.cid < {K}
    """).transform(materialize)

    prev_assign = None
    n_iter = 0
    best = None
    for _ in range(max_iter):
        n_iter += 1
        cm.createOrReplaceTempView("__km_cm")
        best = spark.sql(f"""
            SELECT vec_id, cid, dist FROM (
              SELECT p.vec_id, c.cid,
                     SUM((p.xq - c.cq) * (p.xq - c.cq)) AS dist,
                     ROW_NUMBER() OVER (PARTITION BY p.vec_id
                                        ORDER BY SUM((p.xq - c.cq) * (p.xq - c.cq)),
                                                 c.cid) AS rn
              FROM __km_pm p JOIN __km_cm c ON p.d = c.d
              GROUP BY p.vec_id, c.cid
            ) r WHERE rn = 1
        """).transform(materialize)
        best.createOrReplaceTempView("__km_best")
        cm = spark.sql(f"""
            SELECT o.cid, o.d, COALESCE(n.cq, o.cq) AS cq
            FROM __km_cm o LEFT JOIN (
              SELECT b.cid, p.d,
                     {_tdiv(SPARK, "SUM(p.xq)", "COUNT(*)")} AS cq
              FROM __km_best b JOIN __km_pm p ON b.vec_id = p.vec_id
              GROUP BY b.cid, p.d
            ) n ON o.cid = n.cid AND o.d = n.d
        """).transform(materialize)
        if prev_assign is not None:
            n_changed = (
                best.alias("n")
                .join(prev_assign.alias("p"), "vec_id")
                .where(F.col("n.cid") != F.col("p.cid"))
                .count()
            )
            if n_changed == 0:
                break
        prev_assign = best.select("vec_id", "cid")

    cm.createOrReplaceTempView("__km_cm_final")
    out = spark.sql(f"""
        WITH sizes AS (
          SELECT cid, COUNT(*) AS n_points,
                 CAST(SUM(CAST(dist AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS inertia
          FROM __km_best GROUP BY cid
        )
        SELECT c.cid, c.d, CAST(c.cq AS BIGINT) AS centroid_micro,
               CAST(COALESCE(s.n_points, 0) AS BIGINT) AS n_points,
               ROUND(CAST(COALESCE(s.inertia, 0) AS DOUBLE)
                     / ({SCALE}.0 * {SCALE}), 6) AS inertia
        FROM __km_cm_final c LEFT JOIN sizes s ON c.cid = s.cid
    """)
    return out, n_iter


def _kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, _ = kmeans_converged(spark, sf_dir)
    return out


register(
    "kmeans_converged",
    oracle=None,
    doc="Lloyd's k-means iterated to the assignment fixed point (aggregate-"
    "only convergence check) — the convergence-loop sibling of the "
    "3-iteration oracle query; truncation equivalence pinned in tests",
)(_kmeans_converged)


# --- cluster-quality audit ----------------------------------------------------


def kmeans_quality_sql(dialect: str) -> str:
    """Cluster-quality audit of the FINAL k-means model: per cluster, the
    mean within-cluster squared distance (cohesion) and the squared distance
    to the nearest OTHER centroid (separation) — the Dunn/Davies-Bouldin-
    style readout that says whether the clustering is usable for semdedup /
    IVF before anything consumes it.  Assignments are recomputed against
    the FINAL centroids (one extra assignment pass over the shared CTE
    chain), so the audit describes the model a consumer would load, not the
    pre-update assignment of the last training round.

    Integer-exact throughout (micro-unit distances; DECIMAL sums; the one
    division per output value happens after aggregation) — oracle-checked
    like the trainer itself.  Centroid-pair separation is a K x K x D join
    over the metadata-sized centroid relation.
    """
    return compose_with(kmeans_pm_bases(dialect), kmeans_quality_tail_sql(dialect))


def kmeans_quality_tail_sql(dialect: str) -> str:
    return f"""
WITH {_chain_after_pm(dialect)},
fa AS (
  SELECT p.vec_id, c.cid,
         SUM((p.xq - c.cq) * (p.xq - c.cq)) AS dist
  FROM pm p JOIN cm{N_ITER} c ON p.d = c.d
  GROUP BY p.vec_id, c.cid
),
fbest AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM fa
  ) r WHERE rn = 1
),
cohesion AS (
  SELECT cid, COUNT(*) AS n_points,
         CAST(SUM(CAST(dist AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sum_dist
  FROM fbest GROUP BY cid
),
cpairs AS (
  SELECT a.cid AS cid_a, b.cid AS cid_b,
         SUM((a.cq - b.cq) * (a.cq - b.cq)) AS cdist
  FROM cm{N_ITER} a JOIN cm{N_ITER} b ON a.d = b.d AND a.cid <> b.cid
  GROUP BY a.cid, b.cid
),
separation AS (
  SELECT cid_a AS cid, MIN(cdist) AS nearest_other
  FROM cpairs GROUP BY cid_a
)
SELECT co.cid,
       CAST(co.n_points AS BIGINT) AS n_points,
       ROUND(CAST(co.sum_dist AS DOUBLE) / co.n_points
             / ({SCALE}.0 * {SCALE}), 6) AS mean_within_dist,
       ROUND(CAST(s.nearest_other AS DOUBLE) / ({SCALE}.0 * {SCALE}), 6)
         AS nearest_centroid_dist,
       ROUND(s.nearest_other
             / (CAST(co.sum_dist AS DOUBLE) / co.n_points), 6) AS separation_ratio
FROM cohesion co JOIN separation s ON co.cid = s.cid
"""


register(
    "kmeans_cluster_quality",
    oracle=kmeans_quality_sql(DUCKDB),
    doc="per-cluster cohesion (mean within-cluster squared distance) vs "
    "separation (nearest other centroid) for the final k-means model — "
    "integer-exact, assignments recomputed against final centroids",
)(sql_runner(kmeans_quality_tail_sql, ("embeddings",),
             stages=cte_stages(kmeans_pm_bases)))
