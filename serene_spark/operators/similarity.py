"""Similarity search over embedding columns (scale extension).

Brute-force cosine top-k as the exact baseline, plus a bucketed (LSH-style
sign-quantization) variant as the scale path: candidates are generated by an
equi-join on bucket id instead of a cross join, which is the shape that
survives 100x data growth (bucket join -> shuffle on bucket key; the query
side is broadcast when small).

Floating-point parity: embeddings are cast to double and the dot product is
a *sequential* left-fold (``sqlgen.dot_expr``/``cosine_expr``), so both
engines perform identical IEEE operations, except that DuckDB never lets a
cosine exceed 1; scores are rounded to 6 decimals before ranking, with vec_id
tie-breaks, making top-k deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import bound_sql, sql_runner, table_frames
from serene_spark.functions.sqlgen import (
    DUCKDB,
    SPARK,
    arr_agg_ordered,
    arr_slice,
    cosine_expr,
    dot_expr,
    element_at,
    explode_seq,
    l2_expr,
)
from serene_spark.registry import register

N_QUERIES = 10
TOP_K = 5
ANN_TARGET_BUCKET_SIZE = 256  # expected vectors per sign-quantization bucket
MAX_SIGN_BITS = 8      # stride-8 sampling over the 64-dim embeddings
                       # (stride x cap == dim); higher-dim embeddings raise
                       # the cap — which is what a 10^8-vector corpus needs


def ann_sign_bits(n_vectors: int, target_bucket_size: int = 256, cap: int = 30) -> int:
    """Scale-aware bucket width: enough sign bits that the EXPECTED bucket
    holds ~``target_bucket_size`` vectors (buckets ~ n / target). 8 bits is
    right for 10^4-10^5 vectors; a 10^8-vector corpus gets ~19 bits — the
    per-bucket candidate join stays bounded as the corpus grows.

    ``ann_geom_rel`` is this formula's in-query SQL twin (capped at
    MAX_SIGN_BITS by the embedding dim); the registered query derives its
    geometry from it at runtime, not from a hardcoded constant.
    """
    import math

    return max(4, min(cap, math.ceil(math.log2(max(2, n_vectors / target_bucket_size)))))


def ann_geom_rel(dialect: str) -> str:
    """Single-row relation computing the sign-bit width from the CORPUS SIZE
    — the SQL twin of ``ann_sign_bits``. At 100x the corpus this relation
    evaluates to more bits (smaller buckets) with no code change, and because
    it is plain SQL the adaptive geometry itself is oracle-checked.
    """
    return (
        f"ann_geom AS (SELECT GREATEST(4, LEAST({MAX_SIGN_BITS}, "
        f"CAST(CEIL(LOG2(GREATEST(2.0, COUNT(*) / {ANN_TARGET_BUCKET_SIZE}.0))) AS INT)"
        f")) AS bits FROM embeddings)"
    )


def cosine_topk_sql(dialect: str) -> str:
    cos = cosine_expr(dialect, "q.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({cos}, 6) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {TOP_K}
"""


def bucket_expr(dialect: str, col: str, bits_expr: str = "bits") -> str:
    """Sign-quantization bucket over up to MAX_SIGN_BITS sampled dims
    (stride 8, 1-based); term ``j`` participates only while ``j <
    bits_expr`` — the runtime width from ``ann_geom_rel``, so the bucket
    space grows with the corpus without regenerating the SQL."""
    terms = [
        f"(CASE WHEN {j} < {bits_expr} AND {element_at(dialect, col, 1 + 8 * j)} > 0"
        f" THEN {2 ** j} ELSE 0 END)"
        for j in range(MAX_SIGN_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


def ann_bucketed_sql(dialect: str, multiprobe: bool = True) -> str:
    """Bucketed ANN with query-side MULTIPROBE: each query probes its own
    bucket plus every single-bit-flip neighbor bucket (bits+1 probes), so
    near neighbors that fall just across one quantization boundary are still
    found while candidates stay an equi-join on bucket id. Probing is
    query-side only — the (large) candidate corpus is hashed exactly once.

    Bucket width comes from ``ann_geom_rel`` (corpus-size-derived, single
    row, broadcast by either engine), not a fixed constant — the piece of
    the 100x story the geometry helpers exist for.
    """
    from serene_spark.functions.sqlgen import bxor, shl

    # bits arrives via a SCALAR SUBQUERY, not a join: the plan stays free of
    # any join operator for the geometry (the no-cartesian plan audit holds)
    # and both engines evaluate the one-row aggregate once.
    bits_sq = "(SELECT bits FROM ann_geom)"
    bq = bucket_expr(dialect, "embedding")
    bc = bucket_expr(dialect, "embedding")
    # i = 0 probes the home bucket; i in [1, bits] flips bit i-1. greatest()
    # keeps the shift argument non-negative even where CASE branches are
    # evaluated eagerly (vectorized engines).
    flip = bxor(dialect, "b0", shl(dialect, "1", "greatest(0, i - 1)"))
    probe_hi = "bits" if multiprobe else "0"
    return f"""
WITH {ann_geom_rel(dialect)},
qbits AS (
  SELECT vec_id, embedding, {bits_sq} AS bits
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
qbase AS (
  SELECT vec_id, embedding, bits, {bq} AS b0 FROM qbits
),
qseq AS (
  SELECT vec_id, embedding, b0, {explode_seq(dialect, 0, probe_hi)} AS i FROM qbase
),
qprobe AS (
  SELECT vec_id, embedding, CASE WHEN i = 0 THEN b0 ELSE {flip} END AS probe
  FROM qseq
),
cbits AS (
  SELECT vec_id, embedding, {bits_sq} AS bits FROM embeddings
),
cbuck AS (
  SELECT vec_id, embedding, {bc} AS cb FROM cbits
),
scored AS (
  -- a candidate lives in exactly one bucket and probe values are distinct,
  -- so each (query, neighbor) pair arises at most once: no dedup needed
  SELECT q.vec_id AS query_id, cc.vec_id AS neighbor_id,
         round({cosine_expr(dialect, 'q.embedding', 'cc.embedding')}, 6) AS cosine
  FROM qprobe q
  JOIN cbuck cc
    ON q.probe = cc.cb AND q.vec_id <> cc.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {TOP_K}
"""


N_CENTROIDS = 16
N_PROBE = 4


def ivf_centroids_sql(dialect: str, k: int = N_CENTROIDS) -> str:
    """Deterministic IVF coarse centroids: the ``k`` corpus vectors with the
    smallest md5(vec_id) — a seeded sample standing in for k-means seeds
    (Lloyd refinement is ``ivf_refine_centroids`` below; IVF-Flat recall
    depends far more on n_probe than on centroid optimality — MEASURED:
    two Lloyd iterations buy +0.03-0.07 recall@10 while one n_probe
    doubling buys +0.26, BASELINE.md round-9 addendum)."""
    return f"""
  SELECT vec_id AS centroid_id, embedding AS centroid
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS STRING)), vec_id
  LIMIT {k}
"""


def ivf_assign_sql(dialect: str, vectors_rel: str = "embeddings",
                   centroids_rel: str = "centroids") -> str:
    """THE nearest-centroid assignment rule (round-6 cosine DESC,
    centroid_id ASC tie-break) — the single definition shared by the inline
    search, the Lloyd refinement loop, and the persisted index build, so
    bit-identity between them is structural, not a copy-paste discipline.
    Returns a subquery selecting (vec_id, embedding, centroid_id)."""
    cos = cosine_expr(dialect, "v.embedding", "cen.centroid")
    return f"""
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT v.vec_id, v.embedding, cen.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
                              ORDER BY round({cos}, 6) DESC, cen.centroid_id ASC) AS rk
    FROM {vectors_rel} v CROSS JOIN {centroids_rel} cen
  ) a WHERE rk = 1
"""


def ivf_search_sql(dialect: str, k: int = N_CENTROIDS, n_probe: int = N_PROBE) -> str:
    """IVF(-Flat) approximate search (the classic inverted-file ANN design,
    e.g. Jégou et al. "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011, §IV — coarse quantizer + inverted lists):

    build: every vector is assigned to its nearest of ``k`` coarse centroids
    (broadcast nested-loop over k tiny centroids — NO shuffle of the corpus,
    O(N·k) fused dot products);
    search: a query probes its ``n_probe`` nearest centroids and scores only
    those inverted lists — candidate generation is an equi-join on
    ``centroid_id``, the same 100 TB shape as the LSH-bucketed variant, with
    recall/cost tuned by n_probe instead of bucket width.
    """
    cos_probe = cosine_expr(dialect, "q.embedding", "cen.centroid")
    cos_exact = cosine_expr(dialect, "q.embedding", "l.embedding")
    return f"""
WITH centroids AS ({ivf_centroids_sql(dialect, k)}),
assigned AS (
  -- inverted lists: nearest centroid per corpus vector
  {ivf_assign_sql(dialect)}
),
qprobe AS (
  -- each query probes its n_probe nearest inverted lists
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT q.vec_id, q.embedding, cen.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY round({cos_probe}, 6) DESC, cen.centroid_id ASC) AS rk
    FROM embeddings q CROSS JOIN centroids cen
    WHERE q.vec_id < {N_QUERIES}
  ) p WHERE rk <= {n_probe}
),
scored AS (
  -- a corpus vector lives in exactly one inverted list, so each
  -- (query, neighbor) pair arises from at most one probed list: no dedup.
  -- BROADCAST hint (a no-op comment to DuckDB): the probe side is
  -- queries x n_probe rows — broadcasting it keeps the big inverted-list
  -- side shuffle-free at scale
  SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id, l.vec_id AS neighbor_id,
         round({cos_exact}, 6) AS cosine
  FROM qprobe q
  JOIN assigned l ON q.centroid_id = l.centroid_id AND q.vec_id <> l.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {TOP_K}
"""


def ivf_refine_centroids(spark: SparkSession, sf_dir: str, iterations: int = 1,
                         k: int = N_CENTROIDS) -> DataFrame:
    """Lloyd refinement of the IVF coarse centroids as a driver loop of two
    DataFrame passes per iteration: assign (broadcast nested-loop over k
    centroids) then re-average per list via posexplode + groupBy(centroid,
    dim) — shuffle keyed on (centroid, dim) = k·64 keys of partial sums, not
    corpus rows. Returns (centroid_id, centroid array<double>)."""
    from pyspark.sql import functions as F

    frames = table_frames(spark, sf_dir, ("embeddings",), spread=True)
    centroids = bound_sql(spark, f"SELECT * FROM ({ivf_centroids_sql(SPARK, k)}) c", frames)
    for _ in range(iterations):
        frames["__ivf_centroids"] = centroids
        assigned = bound_sql(spark, ivf_assign_sql(SPARK, centroids_rel="__ivf_centroids"), frames)
        centroids = (
            assigned.select("centroid_id", F.posexplode(F.col("embedding").cast("array<double>")))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("col").alias("mean"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mean"))).alias("pm"))
            .select(
                "centroid_id",
                F.expr("transform(pm, x -> x.mean)").alias("centroid"),
            )
        )
    return centroids


def knn_label_vote_sql(dialect: str) -> str:
    """k-NN label prediction: majority label among top-5 cosine neighbors."""
    cos = cosine_expr(dialect, "q.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label,
         round({cos}, 6) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
topk AS (
  SELECT query_id, neighbor_id, label FROM (
    SELECT query_id, neighbor_id, label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM scored
  ) t WHERE rk <= {TOP_K}
),
votes AS (
  SELECT query_id, label, COUNT(*) AS c FROM topk GROUP BY query_id, label
)
SELECT query_id, CAST(label AS BIGINT) AS pred_label FROM (
  SELECT query_id, label,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY c DESC, label ASC) AS rk
  FROM votes
) v WHERE rk = 1
"""


def embedding_neardup_sql(dialect: str, threshold: float = 0.95) -> str:
    """Embedding-cosine near-duplicate pairs (dedup family, embeddings side).

    Candidates come from the sign-quantization bucket equi-join — two vectors
    with cosine >= 0.95 almost surely agree on the 8 sampled sign bits, and
    the exact cosine filter keeps the output exact for surviving pairs. At
    scale this is a shuffle on bucket id, never a cross join; skewed buckets
    are split by AQE.
    """
    cos = cosine_expr(dialect, "a.embedding", "b.embedding")
    # geometry from the same corpus-size-derived relation as the ANN path.
    # The scalar subquery lands in a PROJECTION (bits column), never in the
    # join key itself — Spark cannot evaluate an unfinished subquery while
    # building a broadcast hash relation, so the bucket is materialized as a
    # column before the self-join.
    bits_sq = "(SELECT bits FROM ann_geom)"
    bucket = bucket_expr(dialect, "embedding", "bits")
    return f"""
WITH {ann_geom_rel(dialect)},
sides AS (
  SELECT vec_id, embedding, {bucket} AS bkt
  FROM (SELECT vec_id, embedding, {bits_sq} AS bits FROM embeddings)
)
SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
       round({cos}, 6) AS cosine
FROM sides a
JOIN sides b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
WHERE round({cos}, 6) >= {threshold}
"""


EMB_DIM = 64  # corpus embedding width (TESTDATA.md); parameter of the SQL text


def centroid_dist_sql(dialect: str) -> str:
    """Per-label centroids + each vector's distance to its label centroid,
    with a per-label outlier rank — the embedding-quality / mislabel-scan
    operator of a training-data pipeline.

    Determinism across engines: the centroid is an exact DECIMAL sum divided
    once as DOUBLE (partial-aggregation order cannot change it), and the
    distance is a sequential index-order fold (Spark ``aggregate(zip_with)``,
    DuckDB ``list_distance``) — identical IEEE operation order, rounded to 6
    decimals before ranking. Scale shape: dimension explode -> keyed
    (label, i) aggregation (map-side combine), centroid array re-assembly
    (10 labels x 64 dims — tiny), broadcast-joined back to the vectors.
    """
    v = element_at(dialect, "embedding", "i")
    cent_arr = arr_agg_ordered(dialect, "c", "i")
    dist = f"round({l2_expr(dialect, 'e.embedding', 'g.cent')}, 6)"
    return f"""
WITH dims AS (
  SELECT vec_id, label, CAST({v} AS DOUBLE) AS v, i
  FROM (SELECT vec_id, label, embedding, {explode_seq(dialect, 1, str(EMB_DIM))} AS i
        FROM embeddings) x
),
cent AS (
  SELECT label, i,
         CAST(SUM(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS c
  FROM dims GROUP BY label, i
),
cent_arr AS (
  SELECT label, {cent_arr} AS cent FROM cent GROUP BY label
)
SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
       {dist} AS dist_to_centroid,
       CAST(ROW_NUMBER() OVER (PARTITION BY e.label
                               ORDER BY {dist} DESC, e.vec_id ASC) AS BIGINT) AS outlier_rk
FROM embeddings e JOIN cent_arr g ON e.label = g.label
"""


# --- Product quantization (ADC) ------------------------------------------

PQ_M = 8          # subspaces (64-dim embedding -> 8 subvectors of 8 dims)
PQ_SUBDIM = 8
PQ_K = 16         # codewords per subspace
PQ_QUERIES = N_QUERIES
PQ_TOP_K = TOP_K


def pq_adc_sql(dialect: str, top_k: int = PQ_TOP_K) -> str:
    """Product-quantization compression + asymmetric-distance (ADC) search —
    the memory tier of the ANN hierarchy (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): each vector is
    stored as ``PQ_M`` one-byte codes instead of floats, and a query scores
    a candidate by summing M table lookups instead of a full dot product.

    Rebuilt relationally:
    * codebook — per subspace, ``PQ_K`` codewords from a seeded sample
      (deterministic stand-in for per-subspace k-means; recall depends far
      more on M than on codeword optimality);
    * encode — argmin squared-L2 per (vector, subspace), computed as
      |a|^2 + |b|^2 - 2<a,b> from dot products (no per-dialect zip
      gymnastics); ONE equi-free broadcast join against the tiny codebook —
      map-only over the corpus, the encode never shuffles it;
    * search — the query builds its (m, code) -> partial-dot distance table
      (queries x M x K rows, tiny), and ADC scoring is an equi-join of the
      CODES relation (M small ints per vector — the compressed corpus)
      against that table, summed per (query, vector). The corpus floats are
      never touched at search time: that is the 100 TB point of PQ.

    Partial dots are fixed-point-scaled to exact BIGINTs before the sum so
    both engines aggregate identically in any order.
    """
    sub_v = arr_slice(dialect, "v.embedding", "(cw.m * %d + 1)" % PQ_SUBDIM, str(PQ_SUBDIM))
    sub_q = arr_slice(dialect, "q.embedding", "(cw.m * %d + 1)" % PQ_SUBDIM, str(PQ_SUBDIM))
    d_vv = dot_expr(dialect, sub_v, sub_v)
    d_vc = dot_expr(dialect, sub_v, "cw.sub")
    d_qc = dot_expr(dialect, sub_q, "cw.sub")
    sample_sub = arr_slice(dialect, "s.embedding", "(m.m * %d + 1)" % PQ_SUBDIM, str(PQ_SUBDIM))
    return f"""
WITH sample AS (
  SELECT embedding,
         ROW_NUMBER() OVER (ORDER BY md5(concat('pq', CAST(vec_id AS STRING))), vec_id) - 1
           AS code
  FROM embeddings
  ORDER BY md5(concat('pq', CAST(vec_id AS STRING))), vec_id
  LIMIT {PQ_K}
),
subspaces AS (
  SELECT {explode_seq(dialect, 0, PQ_M - 1)} AS m
),
cw AS (
  -- codebook: (m, code, sub, |sub|^2)
  SELECT m.m, s.code, {sample_sub} AS sub
  FROM sample s CROSS JOIN subspaces m
),
cw2 AS (
  SELECT m, code, sub, {dot_expr(dialect, "sub", "sub")} AS c2 FROM cw
),
codes AS (
  -- compressed corpus: argmin squared-L2 codeword per (vector, subspace)
  SELECT vec_id, m, code FROM (
    SELECT v.vec_id, cw.m, cw.code,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id, cw.m
             ORDER BY round({d_vv} + cw.c2 - 2 * {d_vc}, 6) ASC, cw.code ASC
           ) AS rk
    FROM embeddings v CROSS JOIN cw2 cw
  ) a WHERE rk = 1
),
qtab AS (
  -- query ADC table: partial dot per (query, subspace, code), fixed-point
  SELECT q.vec_id AS query_id, cw.m, cw.code,
         CAST(round({d_qc} * 1000000) AS BIGINT) AS part_fp
  FROM embeddings q CROSS JOIN cw2 cw
  WHERE q.vec_id < {PQ_QUERIES}
),
scored AS (
  SELECT t.query_id, c.vec_id AS neighbor_id,
         SUM(t.part_fp) AS adc_fp
  FROM codes c JOIN qtab t ON c.m = t.m AND c.code = t.code
  WHERE c.vec_id <> t.query_id
  GROUP BY t.query_id, c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         round(adc_fp / CAST(1000000 AS DOUBLE), 6) AS adc_dot,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_fp DESC, neighbor_id ASC) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, adc_dot, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {top_k}
"""


register("similarity_cosine_topk", oracle=cosine_topk_sql(DUCKDB),
         doc="brute-force cosine top-5 for 10 query vectors (exact ANN baseline)")(sql_runner(cosine_topk_sql, ("embeddings",), spread=True))
register("similarity_ann_bucketed", oracle=ann_bucketed_sql(DUCKDB),
         doc="sign-quantization-bucketed ANN top-5 (equi-join candidates; scale "
             "path; bucket width derived in-query from corpus size via "
             "ann_geom_rel). RECALL: corpus-dependent — 0.19 recall@10 on the "
             "near-isotropic sf10 corpus but 0.59 on the clustered corpus "
             "(within-cluster cos ~0.8, the real-text-embedding geometry; "
             "BASELINE.md ANN ledger v2); re-measure with "
             "tools/bench_ann_recall.py on your corpus")(sql_runner(ann_bucketed_sql, ("embeddings",), spread=True))
register("knn_label_vote", oracle=knn_label_vote_sql(DUCKDB),
         doc="k-NN majority-label prediction over embedding cosine neighbors")(sql_runner(knn_label_vote_sql, ("embeddings",), spread=True))
register("dedup_embedding_cosine", oracle=embedding_neardup_sql(DUCKDB),
         doc="embedding-cosine near-duplicate pairs (bucketed candidates, cosine >= 0.95)")(sql_runner(embedding_neardup_sql, ("embeddings",), spread=True))
register("similarity_ivf", oracle=ivf_search_sql(DUCKDB),
         doc="IVF-Flat ANN top-5: deterministic coarse centroids, inverted-list "
             "equi-join candidates, n_probe-tunable recall (scale path #2). "
             "RECALL: 0.57 recall@10 at sf10 on the near-isotropic corpus "
             "(~ its 25% scan fraction) but 0.96 at the SAME geometry on the "
             "clustered corpus, and k=256/nprobe=16 reaches 0.98 at a 6% "
             "scan (BASELINE.md ANN ledger v2) — IVF's bucketing assumption "
             "holds exactly when the corpus is clustered, as real text "
             "embeddings are; size k ~ sqrt(N)")(sql_runner(ivf_search_sql, ("embeddings",), spread=True))
def ivf_scaled_sql(dialect: str) -> str:
    """Scale-ADAPTIVE IVF-Flat: the coarse-quantizer geometry is derived
    IN-QUERY from the corpus size — k = 2^floor(log2(sqrt(N))) centroids
    (clamped to [16, 1024]), n_probe = k/4 — so 100x more vectors get a
    proportionally finer quantizer with no code change, and because the
    derivation is plain SQL the adaptive geometry itself passes the
    oracle gate (the ``ann_geom_rel`` discipline applied to IVF).

    Why this shape: the sf10 recall ledger (BASELINE.md) shows finer
    quantization dominating at EQUAL scan fraction (k=256/nprobe=64 =
    0.78 recall@10 vs k=16/nprobe=4 = 0.57, both 25% scanned) — the
    fixed parity-sized k=16 of ``similarity_ivf`` is the demonstration
    geometry, this is the production one. sqrt(N) centroids is the
    standard IVF sizing (Jegou et al., TPAMI 2011); the power-of-two
    floor keeps the derivation float-stable across engines (exact IEEE
    doubles at the clamp boundaries).

    Scale shape: build = one O(N*k) fused-dot assignment (no shuffle of
    the corpus — centroids broadcast); search = equi-join on centroid_id
    probing k/4 lists, so the scan fraction stays ~25% at every N while
    candidate quality rises with k.
    """
    cos_probe = cosine_expr(dialect, "q.embedding", "cen.centroid")
    cos_exact = cosine_expr(dialect, "q.embedding", "l.embedding")
    geom = ("SELECT GREATEST(16, LEAST(1024, CAST(POW(2, FLOOR(LOG2("
            "SQRT(COUNT(*))))) AS INT))) AS k FROM embeddings")
    k_sq = "(SELECT k FROM ivf_geom)"
    return f"""
WITH ivf_geom AS ({geom}),
centroids AS (
  SELECT vec_id AS centroid_id, embedding AS centroid FROM (
    SELECT vec_id, embedding,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS STRING)), vec_id) AS rk
    FROM embeddings
  ) seeds WHERE rk <= {k_sq}
),
assigned AS (
  {ivf_assign_sql(dialect)}
),
qprobe AS (
  SELECT vec_id, embedding, centroid_id FROM (
    SELECT q.vec_id, q.embedding, cen.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY round({cos_probe}, 6) DESC, cen.centroid_id ASC) AS rk
    FROM embeddings q CROSS JOIN centroids cen
    WHERE q.vec_id < {N_QUERIES}
  ) p WHERE rk <= {k_sq} / 4
),
scored AS (
  SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id, l.vec_id AS neighbor_id,
         round({cos_exact}, 6) AS cosine
  FROM qprobe q
  JOIN assigned l ON q.centroid_id = l.centroid_id AND q.vec_id <> l.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {TOP_K}
"""


register("similarity_ivf_scaled", oracle=ivf_scaled_sql(DUCKDB),
         doc="scale-adaptive IVF-Flat ANN top-5: k = 2^floor(log2(sqrt(N))) "
             "coarse centroids and n_probe = k/4 derived IN-QUERY from the "
             "corpus size (the ann_geom_rel discipline applied to IVF), so "
             "the quantizer refines automatically at 100x data and the "
             "adaptive geometry itself is oracle-checked; ~25% scan fraction "
             "at every N with candidate quality rising with k "
             "(BASELINE.md ANN ledger)")(sql_runner(ivf_scaled_sql, ("embeddings",), spread=True))


register("embedding_centroid_dist", oracle=centroid_dist_sql(DUCKDB),
         doc="per-label centroid distance + outlier rank (embedding quality / "
             "mislabel scan)")(sql_runner(centroid_dist_sql, ("embeddings",), spread=True))
PQ_RERANK_POOL = 50  # ADC candidates re-ranked exactly (10% of the parity
                     # corpus). COST scales with the pool, not the corpus —
                     # but so does RECALL: a constant pool decays as the
                     # corpus grows (measured 0.07 recall@10 at sf10 vs
                     # 0.35 with pool 1000, BASELINE.md ANN ledger), so
                     # production sizes the pool proportional to N and pays
                     # pool-size exact cosines per query


def pq_rerank_sql(dialect: str) -> str:
    """ADC + exact re-rank — the production PQ search shape: the compressed
    codes prune the corpus to ``PQ_RERANK_POOL`` candidates per query
    (never touching the float vectors), then ONLY those candidates pay an
    exact cosine. Recall is set by the pool size, compute by the codes join;
    at 100 TB the exact stage reads pool-size vectors per query regardless
    of corpus size."""
    adc_pool = pq_adc_sql(dialect, top_k=PQ_RERANK_POOL)
    cos = cosine_expr(dialect, "q.embedding", "c.embedding")
    return f"""
WITH pool AS ({adc_pool}),
exact AS (
  SELECT p.query_id, p.neighbor_id,
         round({cos}, 6) AS cosine
  FROM pool p
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings c ON c.vec_id = p.neighbor_id
),
rr AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM exact
)
SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk
FROM rr WHERE rk <= {PQ_TOP_K}
"""


register("similarity_pq_adc", oracle=pq_adc_sql(DUCKDB),
         doc="product-quantization ADC top-5: 8x16 codebook, compressed-codes "
             "equi-join against the query distance table (memory tier of the "
             "ANN hierarchy). RECALL FLAG: 0.02 recall@10 at sf10 (both "
             "corpora — 8x16 codes are too coarse alone) — raw ADC ranking "
             "is a candidate GENERATOR, never a final answer; use "
             "similarity_pq_rerank with a corpus-proportional pool "
             "(BASELINE.md ANN ledger v2)")(sql_runner(pq_adc_sql, ("embeddings",), spread=True))
register("similarity_pq_rerank", oracle=pq_rerank_sql(DUCKDB),
         doc="PQ production shape: ADC candidate pool + exact cosine re-rank "
             "of the pool only (recall pinned vs exact top-k by pytest). "
             "RECALL FLAG: a CONSTANT pool decays with corpus size (0.07 at "
             "sf10 with pool 50; 0.35 isotropic / 0.96 clustered with pool "
             "1000 — BASELINE.md ANN ledger v2); size PQ_RERANK_POOL "
             "proportional to the corpus")(sql_runner(pq_rerank_sql, ("embeddings",), spread=True))
