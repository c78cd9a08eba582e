"""Contrastive-pair mining over the embedding corpus: for each anchor, the
hardest negatives (most-similar vectors with a DIFFERENT label) and the
hardest positive (most-similar with the SAME label) — the triplet/InfoNCE
mining step of metric-learning pipelines (Schroff et al., FaceNet, CVPR
2015: semi-hard negative mining; Robinson et al., "Contrastive Learning
with Hard Negative Samples", ICLR 2021).

Reuses the engine's ANN substrate (operators/similarity.py): sign-bucket
quantization with corpus-size-derived bit width (``ann_geom_rel``) and
query-side multiprobe, so candidate generation is an equi-join on bucket id
— never an all-pairs scan.  Both roles (positive/negative) come from the
SAME candidate join; the label test is a post-join flag, so mining both
costs one pass.

Scale shape (100 TB): anchors explode into 1 + bits + C(bits, 2) probes
(1- and 2-bit perturbations — hard negatives cluster near quantization
boundaries, where single-bit probing loses recall); probes grow only
quadratically in the bit WIDTH (log of corpus size) and only on the tiny
anchor side — the corpus is bucketed exactly once.  The per-(anchor, role)
top-k is a window over candidate-sized data.  At 100x corpus the geometry
relation widens the bucket space automatically (oracle-checked, same as
ANN).
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, bxor, cosine_expr, explode_seq, shl
from serene_spark.operators.similarity import ann_geom_rel, bucket_expr
from serene_spark.registry import register

N_ANCHORS = 10
NEG_K = 5  # hardest negatives per anchor; hardest positive is rk=1


def contrastive_sql(dialect: str) -> str:
    bits_sq = "(SELECT bits FROM ann_geom)"
    bq = bucket_expr(dialect, "embedding")
    mask_i = f"CASE WHEN i = 0 THEN 0 ELSE {shl(dialect, '1', 'greatest(0, i - 1)')} END"
    mask_j = f"CASE WHEN j = 0 THEN 0 ELSE {shl(dialect, '1', 'greatest(0, j - 1)')} END"
    probe2 = bxor(dialect, bxor(dialect, "b0", f"({mask_i})"), f"({mask_j})")
    return f"""
WITH {ann_geom_rel(dialect)},
qbits AS (
  SELECT vec_id, embedding, label, {bits_sq} AS bits
  FROM embeddings WHERE vec_id < {N_ANCHORS}
),
qbase AS (
  SELECT vec_id, embedding, label, bits, {bq} AS b0 FROM qbits
),
qprobe AS (
  -- multiprobe with 1- AND 2-bit perturbations (Lv et al., "Multi-Probe
  -- LSH", VLDB 2007): hard negatives live near quantization boundaries,
  -- where single-bit probing misses. The filter admits each mask exactly
  -- once — home (0,0), single flips (i>0, j=0), double flips (0<i<j) —
  -- so every (anchor, candidate) pair arises at most once; a plain
  -- `j = 0 OR j > i` would emit every 1-bit probe twice (as (0,k) and
  -- (k,0)), duplicating candidates in the top-k ranking
  SELECT vec_id, embedding, label, {probe2} AS probe
  FROM (
    SELECT vec_id, embedding, label, b0, i,
           {explode_seq(dialect, 0, "bits")} AS j
    FROM (
      SELECT vec_id, embedding, label, b0, bits,
             {explode_seq(dialect, 0, "bits")} AS i
      FROM qbase
    ) s1
  ) s2
  WHERE (i = 0 AND j = 0) OR (i > 0 AND j = 0) OR (i > 0 AND j > i)
),
cbuck AS (
  SELECT vec_id, embedding, label, {bq} AS cb
  FROM (SELECT vec_id, embedding, label, {bits_sq} AS bits FROM embeddings) c
),
scored AS (
  SELECT q.vec_id AS anchor_id, c.vec_id AS pair_id,
         CASE WHEN q.label = c.label THEN 'positive' ELSE 'negative' END AS role,
         round({cosine_expr(dialect, 'q.embedding', 'c.embedding')}, 6) AS cosine
  FROM qprobe q
  JOIN cbuck c ON q.probe = c.cb AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT anchor_id, pair_id, role, cosine,
         ROW_NUMBER() OVER (PARTITION BY anchor_id, role
                            ORDER BY cosine DESC, pair_id ASC) AS rk
  FROM scored
)
SELECT anchor_id, pair_id, role, cosine, CAST(rk AS BIGINT) AS rk
FROM ranked
WHERE (role = 'negative' AND rk <= {NEG_K}) OR (role = 'positive' AND rk = 1)
"""


register(
    "contrastive_pairs",
    oracle=contrastive_sql(DUCKDB),
    doc=f"contrastive mining: top-{NEG_K} hardest cross-label negatives + "
    "hardest same-label positive per anchor via the bucketed ANN join",
)(sql_runner(contrastive_sql, ("embeddings",), spread=True))
