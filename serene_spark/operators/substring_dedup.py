"""Exact-substring cross-document dedup — the sorted-k-gram chain
(round-4 item #7; Lee et al., "Deduplicating Training Data Makes Language
Models Better", arXiv:2107.06499, whose ExactSubstr dedup finds >= 50-token
exact overlaps with a suffix array).

Suffix arrays don't distribute; the standard dataflow re-expression is the
k-gram chain: two documents share an exact run of >= K tokens iff they share
a K-token k-gram, and the LENGTH of the longest shared run is recovered from
consecutive shared grams on the same alignment DIAGONAL (pos_a - pos_b):
a maximal chain of c consecutive grams = an exact overlap of c + K - 1
tokens. So:

1. map-only: explode overlapping K-token grams per document, fingerprint
   each (md5) — only (doc_id, pos, fp) shuffles, never gram text;
2. drop grams whose document frequency exceeds ``MAX_DF`` — super-common
   boilerplate phrases would otherwise cost sum(df^2) pair blowup while
   contributing no dedup signal (the paper drops such runs too); the drop
   is LOGGED per query via the ``n_common_grams_dropped`` column of
   ``substring_overlap_stats`` so the cap is never silent;
3. pair candidate grams by fingerprint (doc_a < doc_b), group runs with the
   gaps-and-islands trick on each (pair, diagonal): island id =
   pos_a - ROW_NUMBER() — consecutive positions share an island;
4. aggregate per pair: shared grams, distinct runs, longest overlap in
   tokens.

100 TB shape: stage 1 is map-only; stage 3's shuffle is keyed on gram
fingerprint with per-group pair generation bounded by ``MAX_DF``^2 (a
constant), so the whole pipeline is one bounded-fanout shuffle + one
pair-keyed aggregation — the same banded discipline as MinHash-LSH
(dedup.py), with exactness instead of probability.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import (
    DUCKDB,
    arr_filter_nonempty,
    arr_join,
    arr_len,
    arr_slice,
    explode_seq,
    split_re,
)
from serene_spark.operators.text_analysis import NORM
from serene_spark.registry import register

K_GRAM = 12   # tokens per gram = minimum reportable exact overlap
MAX_DF = 16   # grams in more distinct docs than this are dropped (logged)


def grams_rel(dialect: str) -> str:
    """Relation (doc_id, pos, fp): OVERLAPPING ``K_GRAM``-token grams of the
    normalized token stream (cf. the non-overlapping segments of
    boilerplate.segments_rel — overlap is what makes substring detection
    exact at every offset). Documents shorter than ``K_GRAM`` tokens emit
    nothing: they cannot contain a K-token overlap."""
    toks = arr_filter_nonempty(
        dialect, split_re(dialect, NORM(dialect), "[^a-z0-9]+")
    )
    n = arr_len(dialect, "toks")
    gram = arr_join(dialect, arr_slice(dialect, "toks", "i", str(K_GRAM)), " ")
    return f"""
sub_toks AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
grams AS (
  SELECT doc_id, pos, md5(gram) AS fp
  FROM (
    SELECT doc_id, i AS pos, {gram} AS gram
    FROM (
      SELECT doc_id, toks, {explode_seq(dialect, 1, f"{n} - {K_GRAM} + 1")} AS i
      FROM sub_toks WHERE {n} >= {K_GRAM}
    ) g
  ) s
),
gram_df AS (
  SELECT fp, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY fp
),
rare_grams AS (
  SELECT g.doc_id, g.pos, g.fp
  FROM grams g JOIN gram_df d ON g.fp = d.fp
  WHERE d.df BETWEEN 2 AND {MAX_DF}
)"""


def substring_pairs_sql(dialect: str) -> str:
    """Per (doc_a, doc_b): shared-gram count, distinct maximal runs, and the
    longest exact token overlap — the cross-document ExactSubstr report."""
    return f"""
WITH {grams_rel(dialect)},
matches AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pos_a, a.pos - b.pos AS diag
  FROM rare_grams a JOIN rare_grams b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
),
islands AS (
  SELECT doc_a, doc_b, diag, pos_a,
         pos_a - ROW_NUMBER() OVER (
           PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
         ) AS island
  FROM (SELECT DISTINCT doc_a, doc_b, diag, pos_a FROM matches) m
),
runs AS (
  SELECT doc_a, doc_b, diag, island, COUNT(*) AS chain_len
  FROM islands GROUP BY doc_a, doc_b, diag, island
)
SELECT doc_a, doc_b,
       CAST(SUM(chain_len) AS BIGINT) AS n_shared_grams,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(chain_len) + {K_GRAM} - 1 AS BIGINT) AS max_overlap_tokens
FROM runs
GROUP BY doc_a, doc_b
ORDER BY doc_a, doc_b
"""


def substring_stats_sql(dialect: str) -> str:
    """Corpus-level accounting, including the EXPLICIT record of what the
    ``MAX_DF`` cap dropped (no silent truncation)."""
    return f"""
WITH {grams_rel(dialect)},
df_hist AS (
  SELECT
    CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
    CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_doc_grams,
    CAST(SUM(CASE WHEN df > {MAX_DF} THEN 1 ELSE 0 END) AS BIGINT)
      AS n_common_grams_dropped
  FROM gram_df
),
doc_cov AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with_overlap
  FROM rare_grams
)
SELECT h.n_distinct_grams, h.n_cross_doc_grams, h.n_common_grams_dropped,
       c.n_docs_with_overlap
FROM df_hist h CROSS JOIN doc_cov c
"""


register(
    "substring_dedup_pairs",
    oracle=substring_pairs_sql(DUCKDB),
    doc=f"exact-substring dedup (arXiv:2107.06499 ExactSubstr as a k-gram "
    f"chain): document pairs sharing >= {K_GRAM}-token exact runs, with "
    "longest-overlap length via diagonal gaps-and-islands",
)(sql_runner(substring_pairs_sql, ("documents",), spread=True))

register(
    "substring_overlap_stats",
    oracle=substring_stats_sql(DUCKDB),
    doc="corpus accounting for the exact-substring tier, incl. the explicit "
    f"count of grams dropped by the df > {MAX_DF} cap",
)(sql_runner(substring_stats_sql, ("documents",), spread=True))
