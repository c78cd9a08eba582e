"""Hybrid retrieval: reciprocal-rank fusion of a lexical and a semantic
ranker, and the matryoshka truncated-dimension recall audit.

* ``hybrid_rrf_search`` — Reciprocal Rank Fusion (Cormack, Clarke &
  Büttcher, SIGIR 2009): score(d) = Σ_r 1/(K + rank_r(d)) over the
  rankers that retrieved d, K = 60.  RRF is the standard way to combine
  BM25 with vector search precisely because it is SCALE-FREE — it consumes
  only ranks, so a 0-20 BM25 score and a [-1,1] cosine never need
  calibration.  Rankers here: (a) lexical — tf·idf score for the fixed
  query term set over the shared posting relation (the ``bm25_search``
  pruned-posting shape); (b) semantic — cosine to the query document's
  embedding, integer-exact via micro-unit quantization (the clustering.py
  convention) so no float sum can reorder ranks.  Each ranker yields its
  top ``CAND_DEPTH``; fusion is a FULL OUTER JOIN of two rank relations
  (candidate-depth-bounded, never corpus-sized) — at 100 TB the rankers
  are the served indexes (inverted lists / IVF probes) and fusion cost
  stays O(candidates).  Missing-from-one-ranker docs simply lack that
  term, per the original formulation.
* ``matryoshka_recall`` — index-quality audit for truncated-dimension
  ("matryoshka", Kusupati et al., NeurIPS 2022) retrieval: for each kept
  prefix of dims (8/16/32/64), per-query top-``MRL_K`` by integer-exact
  dot product, scored as recall against the full-dimension ground truth.
  The measured answer to "how many dims can the first-stage index drop?"
  — the memory/recall trade every two-stage ANN deployment prices (the
  ``similarity_pq_adc`` rerank sibling).  Brute-force over a FIXED query
  sample (the ``minhash_estimate_error`` audit pattern): cost is
  |queries|·N·D, never N² — the audit stays cheap at any corpus size
  because the query sample is constant.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, element_at, explode_seq
from serene_spark.operators.text_analysis import tokens_rel
from serene_spark.registry import register

RRF_K = 60
CAND_DEPTH = 50
RRF_TOP_K = 10
QUERY_TERMS = ("spark", "shuffle", "broadcast")  # the bm25_search query set

MRL_DIMS = (8, 16, 32, 64)
MRL_K = 10
MRL_N_QUERIES = 10
DIM = 64
SCALE = 1_000_000


def _pm_rel(dialect: str) -> str:
    """Micro-unit quantized (vec_id, d, xq) melt of the embeddings."""
    x = element_at(dialect, "embedding", "i")
    return f"""
pm AS (
  SELECT vec_id, i AS d,
         CAST(FLOOR(CAST({x} AS DOUBLE) * {SCALE}) AS BIGINT) AS xq
  FROM (
    SELECT vec_id, embedding, {explode_seq(dialect, 1, str(DIM))} AS i
    FROM embeddings
  ) e
)"""


def rrf_tail_sql(dialect: str) -> str:
    """Everything after ``tokens``/``pm`` — Spark runs this against the
    MATERIALIZED base views (Catalyst inlines a CTE per reference; the
    un-materialized chain re-ran the regex tokenizer and the embedding
    melt several times each)."""
    terms = "(" + ", ".join(f"'{t}'" for t in QUERY_TERMS) + ")"
    return f"""
WITH n_docs AS (
  SELECT COUNT(DISTINCT doc_id) AS n FROM tokens
),
postings AS (
  SELECT tok, doc_id, COUNT(*) AS tf
  FROM tokens WHERE tok IN {terms}
  GROUP BY tok, doc_id
),
df AS (
  SELECT tok, COUNT(*) AS n_df FROM postings GROUP BY tok
),
lex_scored AS (
  SELECT p.doc_id,
         SUM(CAST(ROUND(p.tf * ln(CAST((SELECT n FROM n_docs) AS DOUBLE) / d.n_df), 9)
                  AS DECIMAL(28,9))) AS score
  FROM postings p JOIN df d ON p.tok = d.tok
  GROUP BY p.doc_id
),
lex_rank AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
  FROM lex_scored
),
qv AS (
  SELECT d, xq FROM pm WHERE vec_id = (SELECT MIN(vec_id) FROM pm)
),
sem_scored AS (
  SELECT p.vec_id AS doc_id,
         SUM(p.xq * q.xq) AS dot,
         SUM(p.xq * p.xq) AS nrm
  FROM pm p JOIN qv q ON p.d = q.d
  WHERE p.vec_id <> (SELECT MIN(vec_id) FROM pm)
  GROUP BY p.vec_id
),
sem_rank AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(dot / sqrt(CAST(nrm AS DOUBLE)
                          * (SELECT SUM(xq * xq) FROM qv)), 9) DESC, doc_id) AS rk
  FROM sem_scored
),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         l.rk AS rank_lex, s.rk AS rank_sem,
         ROUND(COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + l.rk), 0)
               + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + s.rk), 0), 9) AS rrf
  FROM (SELECT * FROM lex_rank WHERE rk <= {CAND_DEPTH}) l
  FULL OUTER JOIN (SELECT * FROM sem_rank WHERE rk <= {CAND_DEPTH}) s
    ON l.doc_id = s.doc_id
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       ROUND(rrf, 6) AS rrf_score,
       CAST(rank_lex AS BIGINT) AS rank_lex,
       CAST(rank_sem AS BIGINT) AS rank_sem,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS pos
FROM fused
ORDER BY pos
LIMIT {RRF_TOP_K}
"""


def rrf_sql(dialect: str) -> str:
    """Full single-statement form (the DuckDB oracle)."""
    tail = rrf_tail_sql(dialect)
    assert tail.startswith("\nWITH ")
    return (f"\nWITH {tokens_rel(dialect).lstrip()},"
            f"{_pm_rel(dialect)},\n{tail[len('WITH ') + 1:]}")


def matryoshka_tail_sql(dialect: str) -> str:
    """Everything after ``pm`` (same materialization rationale)."""
    tiers = " UNION ALL ".join(f"SELECT {k} AS kd" for k in MRL_DIMS)
    full = max(MRL_DIMS)
    return f"""
WITH tiers AS ({tiers}),
queries AS (
  SELECT DISTINCT vec_id FROM pm ORDER BY vec_id LIMIT {MRL_N_QUERIES}
),
qm AS (
  SELECT vec_id, d, xq FROM pm WHERE vec_id IN (SELECT vec_id FROM queries)
),
dots AS (
  SELECT t.kd, q.vec_id AS qid, c.vec_id AS cid, SUM(q.xq * c.xq) AS dot
  FROM tiers t
  JOIN qm q ON q.d <= t.kd
  JOIN pm c ON c.d = q.d AND c.vec_id <> q.vec_id
  GROUP BY t.kd, q.vec_id, c.vec_id
),
ranked AS (
  SELECT kd, qid, cid,
         ROW_NUMBER() OVER (PARTITION BY kd, qid ORDER BY dot DESC, cid) AS rk
  FROM dots
),
top AS (
  SELECT kd, qid, cid FROM ranked WHERE rk <= {MRL_K}
),
truth AS (
  SELECT qid, cid FROM top WHERE kd = {full}
),
hits AS (
  SELECT t.kd, t.qid, COUNT(r.cid) AS n_hit
  FROM top t LEFT JOIN truth r ON t.qid = r.qid AND t.cid = r.cid
  GROUP BY t.kd, t.qid
)
SELECT CAST(kd AS BIGINT) AS dims_kept,
       ROUND(CAST(SUM(n_hit) AS DOUBLE) / (COUNT(*) * {MRL_K}), 6) AS mean_recall,
       ROUND(CAST(MIN(n_hit) AS DOUBLE) / {MRL_K}, 6) AS min_recall,
       CAST(COUNT(*) AS BIGINT) AS n_queries
FROM hits
GROUP BY kd
ORDER BY dims_kept
"""


def matryoshka_sql(dialect: str) -> str:
    """Full single-statement form (the DuckDB oracle)."""
    tail = matryoshka_tail_sql(dialect)
    assert tail.startswith("\nWITH ")
    return f"\nWITH {_pm_rel(dialect).lstrip()},\n{tail[len('WITH ') + 1:]}"


def _pm_stage(dialect: str) -> tuple[str, str]:
    return ("pm", f"WITH {_pm_rel(dialect).strip()} SELECT * FROM pm")


register(
    "hybrid_rrf_search",
    oracle=rrf_sql(DUCKDB),
    doc=f"reciprocal-rank fusion (K={RRF_K}) of a pruned-posting lexical "
    "ranker and an integer-exact embedding-cosine ranker; fusion cost "
    "bounded by candidate depth, never corpus size",
)(sql_runner(rrf_tail_sql, ("documents", "embeddings"), stages=lambda d: [
    ("tokens", f"WITH {tokens_rel(d).lstrip()} SELECT * FROM tokens"),
    _pm_stage(d),
]))

register(
    "matryoshka_recall",
    oracle=matryoshka_sql(DUCKDB),
    doc=f"truncated-dimension retrieval recall audit over dim prefixes "
    f"{MRL_DIMS}: per-query top-{MRL_K} by integer-exact dot product vs "
    "full-dimension ground truth, fixed query sample",
)(sql_runner(matryoshka_tail_sql, ("embeddings",), stages=lambda d: [_pm_stage(d)]))
