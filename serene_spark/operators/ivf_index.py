"""Persisted IVF index — the build-once / search-many form of the inline
``similarity_ivf`` query (similarity.py).

At 100 TB the inverted lists are not recomputed per query: an index build
assigns every corpus vector to its coarse centroid ONCE and writes the
lists partitioned by ``centroid_id``; every search then reads ONLY its
``n_probe`` probed partitions — directory-level partition pruning does for
ANN what it does for time-series (a query touches n_probe/k of the corpus
bytes). Search results are bit-identical to the inline query because build
and search share the same centroid SQL and assignment rule, pinned by test.

Scale shapes:
* build — one pass over embeddings, broadcast nested-loop against k tiny
  centroids, then a partitioned write (the only shuffle is the write's
  partition exchange);
* search — centroid probe runs on the queries-x-k relation (tiny);
  the corpus-side scan is pruned to the probed partitions BEFORE reading
  (asserted via PartitionFilters in the plan audit); candidate scoring is
  the same equi-join-on-centroid shape as the inline query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serene_spark.catalog import bound_sql, table_frames
from serene_spark.functions.sqlgen import SPARK, cosine_expr
from serene_spark.operators.similarity import (
    N_CENTROIDS,
    N_PROBE,
    N_QUERIES,
    TOP_K,
    ivf_assign_sql,
    ivf_centroids_sql,
)


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    k: int = N_CENTROIDS,
    vectors: DataFrame | None = None,
) -> None:
    """Assign every vector to its nearest coarse centroid and persist the
    inverted lists partitioned by centroid (plus the centroid table itself
    as a ``_centroids`` sibling — it is part of the index).  ``vectors``
    overrides the corpus (an initial-load subset; later batches arrive via
    ``upsert_ivf_index``)."""
    frames = (table_frames(spark, sf_dir, ("embeddings",)) if vectors is None
              else {"embeddings": vectors})
    # the assignment rule is ivf_assign_sql — the SAME definition the inline
    # search and the Lloyd loop use, so bit-identity is structural
    assigned = bound_sql(spark, f"""
WITH centroids AS ({ivf_centroids_sql(SPARK, k)})
{ivf_assign_sql(SPARK)}
""", frames)
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(index_path)
    bound_sql(
        spark, f"SELECT centroid_id, centroid FROM ({ivf_centroids_sql(SPARK, k)}) c", frames
    ).write.mode("overwrite").parquet(index_path + "_centroids")


def search_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    n_probe: int = N_PROBE,
    top_k: int = TOP_K,
) -> DataFrame:
    """Top-k cosine search against a persisted index.

    The probed centroid ids are computed driver-side from the tiny
    (queries x k) relation and injected as a literal IN-list filter, so the
    inverted-list scan prunes to n_probe-of-k partitions at PLANNING time
    (dynamic partition pruning would do this join-side on a cluster; the
    literal filter makes the pruning visible and testable in local mode).
    """
    frames = table_frames(spark, sf_dir, ("embeddings",))
    frames["__ivf_centroids"] = spark.read.parquet(index_path + "_centroids")
    cos_probe = cosine_expr(SPARK, "q.embedding", "cen.centroid")
    probes = bound_sql(spark, f"""
SELECT vec_id, centroid_id FROM (
  SELECT q.vec_id, cen.centroid_id,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY round({cos_probe}, 6) DESC,
                                     cen.centroid_id ASC) AS rk
  FROM embeddings q CROSS JOIN __ivf_centroids cen
  WHERE q.vec_id < {N_QUERIES}
) p WHERE rk <= {n_probe}
""", frames)
    probes = probes.cache()  # consumed twice: driver id-list + final join
    frames["__ivf_probes"] = probes
    probed_ids = sorted({r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()})
    if not probed_ids:  # empty query set: empty result, not malformed SQL
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rk long"
        )

    # .isin on the scan is what drives the partition pruning; the join's
    # equi-condition on centroid_id needs no second literal copy
    frames["__ivf_lists"] = (
        spark.read.parquet(index_path)
        .filter(F.col("centroid_id").isin(probed_ids))
    )
    cos_exact = cosine_expr(SPARK, "q.embedding", "l.embedding")
    out = bound_sql(spark, f"""
WITH scored AS (
  SELECT /*+ BROADCAST(p) */ p.vec_id AS query_id, l.vec_id AS neighbor_id,
         round({cos_exact}, 6) AS cosine
  FROM __ivf_probes p
  JOIN embeddings q ON q.vec_id = p.vec_id
  JOIN __ivf_lists l
    ON p.centroid_id = l.centroid_id AND p.vec_id <> l.vec_id
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT scored.*,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored
) r WHERE rk <= {top_k}
""", frames)
    return out


def upsert_ivf_index(spark: SparkSession, index_path: str, delta: DataFrame) -> None:
    """Incremental index maintenance: assign DELTA vectors against the
    index's FROZEN centroids and append to the partitioned inverted lists.

    Centroids are never recomputed on upsert — moving them would orphan the
    already-written lists; the real-world IVF discipline is freeze at build,
    re-train + full rebuild only when drift warrants it (``kmeans_cluster_
    quality`` / ``drift_*`` are the monitors for that decision).  The
    assignment rule is the SAME ``ivf_assign_sql`` the build and the inline
    search use, so a post-upsert index is bit-identical to one built from
    the union with the same centroids — pinned by test.

    Idempotent by construction: delta rows whose vec_id already exists in
    the lists are dropped by a LEFT ANTI join before the append (the
    ``incremental_dedup`` / ``matview_stream`` replay discipline), so
    re-running an upsert after a partial failure is safe.

    Scale shape: one scan of the delta, centroids broadcast (metadata-
    sized), the anti-join keys on vec_id against the existing lists (at
    cluster scale this is the index's key lookup — a bloom-filter runtime
    pruning candidate), and the append touches ONLY the partitions the
    delta lands in (dynamic partition append, never a rewrite of the
    untouched lists).
    """
    assigned = bound_sql(spark, f"""
WITH centroids AS (SELECT centroid_id, centroid FROM __ivf_up_cent)
{ivf_assign_sql(SPARK, "__ivf_delta", "centroids")}
""", {"__ivf_delta": delta, "__ivf_up_cent": spark.read.parquet(index_path + "_centroids")})
    existing = spark.read.parquet(index_path).select("vec_id")
    fresh = assigned.join(existing, "vec_id", "left_anti")
    fresh.write.mode("append").partitionBy("centroid_id").parquet(index_path)
