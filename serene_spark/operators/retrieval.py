"""Text retrieval over the documents corpus: BM25 ranked search, TF-IDF
keyword extraction, and the corpus n-gram novelty curve.

* ``bm25_search`` — Okapi BM25 (Robertson & Walker, SIGIR 1994; the Lucene
  ``k1=1.2, b=0.75`` parametrization with the +1-smoothed idf that keeps
  scores non-negative) ranking documents for a fixed query term set.  The
  plan IS the inverted-index shape: tokenize once into a (term, doc, tf)
  posting relation, prune it to the query's posting lists FIRST (the
  ``tok IN (...)`` filter reaches the scan — at 100 TB the posting relation
  is a materialized index partitioned by term and the query reads |query|
  partitions, never the corpus), then df/idf and the document-length norm
  join against metadata-sized side relations.  Per-term score contributions
  are rounded to 9 dp and summed as DECIMAL so partial-aggregation order
  cannot move a score (engine convention); top-k is a rank over the rounded
  score with a doc_id tie-break, computed only over MATCHED docs (bounded
  by the pruned posting lists, not the corpus).
* ``tfidf_top_terms`` — per-document keyword extraction: top-3 terms by
  tf·ln(N/df).  The rank window partitions BY doc_id (keyed shuffle, no
  global sort); df comes from one distinct-pair aggregation of the same
  posting relation.
* ``ngram_novelty`` — the corpus-growth novelty curve: per source (in
  shortlex ingestion order), what fraction of its distinct word
  8-grams is NEW to the corpus (first owner = itself)?  The planning
  statistic behind incremental-crawl dedup: a source whose novelty ~0 is
  already covered by earlier snapshots (``snapshot_delta_dedup`` is the
  acting operator; this measures what it would drop).  One gram-keyed
  aggregation (MIN(source) per gram — map-side combinable), then a
  source-keyed rollup; the shuffle carries gram fingerprints, never text.

Reference scope note: the reference engine (NICTA/serene) has no retrieval
surface; these are engine extensions for the training-data-pipeline family
(decontaminate / source_similarity / snapshot_delta_dedup siblings).
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB
from serene_spark.operators.curation import grams_rel
from serene_spark.operators.text_analysis import tokens_rel
from serene_spark.registry import register

BM25_K1 = "1.2"
BM25_B = "0.75"
BM25_QUERY = ("spark", "shuffle", "broadcast")  # fixed query term set
BM25_TOP_K = 20
TFIDF_TOP_K = 3


def _query_in_list() -> str:
    return "(" + ", ".join(f"'{t}'" for t in BM25_QUERY) + ")"


def bm25_contrib_rel(dialect: str) -> str:
    """The SHARED BM25 scoring pipeline (tokens -> doc_len/stats/postings/
    df/contrib) used by BOTH the shipped ranker (bm25_sql) and the metric
    that judges it (ndcg_sql) — one definition, so the audit can never
    silently score a different ranking than the ranker ships.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))  — Lucene's non-negative form
    norm(d) = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), avgdl = Σdl/N
    dl/avgdl computed as dl·N/Σdl (exact BIGINTs until the one division)."""
    return f"""{tokens_rel(dialect)},
doc_len AS (
  SELECT doc_id, COUNT(*) AS dl FROM tokens GROUP BY doc_id
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM doc_len
),
postings AS (
  SELECT tok, doc_id, COUNT(*) AS tf
  FROM tokens WHERE tok IN {_query_in_list()}
  GROUP BY tok, doc_id
),
df AS (
  SELECT tok, COUNT(*) AS n_df FROM postings GROUP BY tok
),
contrib AS (
  -- corpus stats arrive via SCALAR SUBQUERIES, not a join: a CROSS JOIN
  -- against the one-row stats relation plans as BroadcastNestedLoopJoin
  -- (the no-cartesian plan audit rejects it); both engines evaluate the
  -- one-row aggregate once (the ann_geom_rel convention)
  SELECT p.doc_id,
         CAST(ROUND(
           ln(1 + ((SELECT n_docs FROM stats) - d.n_df + 0.5) / (d.n_df + 0.5))
           * (p.tf * ({BM25_K1} + 1))
           / (p.tf + {BM25_K1} * (1 - {BM25_B}
              + {BM25_B} * dl.dl * (SELECT n_docs FROM stats)
                / CAST((SELECT total_len FROM stats) AS DOUBLE))),
         9) AS DECIMAL(18,9)) AS term_score
  FROM postings p
  JOIN df d ON p.tok = d.tok
  JOIN doc_len dl ON p.doc_id = dl.doc_id
)"""


def bm25_sql(dialect: str) -> str:
    return f"""
WITH {bm25_contrib_rel(dialect)},
scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
         SUM(term_score) AS score
  FROM contrib GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, n_terms_matched,
         ROUND(CAST(score AS DOUBLE), 6) AS bm25,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM scored
)
SELECT doc_id, n_terms_matched, bm25, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {BM25_TOP_K}
"""


def tfidf_sql(dialect: str) -> str:
    return f"""
WITH {tokens_rel(dialect)},
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tokens GROUP BY doc_id, tok
),
n_docs AS (
  SELECT COUNT(DISTINCT doc_id) AS n FROM tf
),
df AS (
  SELECT tok, COUNT(*) AS n_df FROM tf GROUP BY tok
),
scored AS (
  SELECT t.doc_id, t.tok,
         ROUND(t.tf * ln(CAST((SELECT n FROM n_docs) AS DOUBLE) / d.n_df), 6)
           AS tfidf
  FROM tf t JOIN df d ON t.tok = d.tok
),
ranked AS (
  SELECT doc_id, tok, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, tok) AS rank
  FROM scored
)
SELECT doc_id, tok AS term, tfidf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


def novelty_sql(dialect: str) -> str:
    # ingestion order = SHORTLEX on the source name (length, then lexical):
    # plain MIN(source) would interleave src10..src19 between src1 and src2,
    # inventing an order no ingestion ever used; shortlex matches numeric
    # order for numbered sources and stays a pure string MIN both engines
    # compute identically
    korder = "lpad(CAST(length(source) AS STRING), 4, '0') || source"
    return f"""
WITH {grams_rel(dialect)},
source_grams AS (
  SELECT DISTINCT {korder} AS src_key, d.source, g.gram
  FROM grams g JOIN documents d ON g.doc_id = d.doc_id
),
first_owner AS (
  SELECT gram, MIN(src_key) AS first_key FROM source_grams GROUP BY gram
)
SELECT sg.source,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.first_key = sg.src_key THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(CASE WHEN f.first_key = sg.src_key THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS novelty
FROM source_grams sg JOIN first_owner f ON sg.gram = f.gram
GROUP BY sg.source
"""


register(
    "bm25_search",
    oracle=bm25_sql(DUCKDB),
    doc=f"Okapi BM25 top-{BM25_TOP_K} over documents for query "
    f"{' '.join(BM25_QUERY)}; inverted-index plan (posting lists pruned "
    "before scoring), decimal-exact score sums",
)(sql_runner(bm25_sql, ("documents",)))

register(
    "tfidf_top_terms",
    oracle=tfidf_sql(DUCKDB),
    doc=f"per-document top-{TFIDF_TOP_K} TF-IDF keywords; doc-keyed rank "
    "window, no global sort",
)(sql_runner(tfidf_sql, ("documents",)))

register(
    "ngram_novelty",
    oracle=novelty_sql(DUCKDB),
    doc="per-source word-8-gram novelty vs lexicographically-earlier "
    "sources — the incremental-crawl value estimate behind "
    "snapshot_delta_dedup",
)(sql_runner(novelty_sql, ("documents",)))


NDCG_K = 10


def ndcg_sql(dialect: str) -> str:
    """Ranking-quality audit of the BM25 ranking against an INDEPENDENT
    graded-relevance signal: rel(d) = total query-term occurrences capped at 3
    — a graded signal BM25 does not optimize directly (BM25 saturates tf
    and weighs idf/length).  Emits DCG@K / IDCG@K /
    NDCG@K (gains 2^rel − 1, log2 position discounts, the Jarvelin &
    Kekalainen formulation) plus MRR of the first max-grade (rel=3) document.
    The ideal ranking orders by (rel DESC, doc_id) — ties carry equal gain,
    so the tie-break cannot move IDCG.  Per-position terms are
    9-dp-quantized and DECIMAL-summed.

    This is the measured-error convention applied to the search stack: an
    engine that ships a ranker ships the metric that judges it.  Scale:
    everything downstream of the postings scan runs on candidate-K-sized
    relations."""
    rel = f"""rel AS (
  -- graded relevance = total query-term occurrences capped at 3; distinct-
  -- term coverage is degenerate on this corpus (measured: every matched doc
  -- contains exactly ONE distinct query term), tf has real spread
  SELECT doc_id, LEAST(3, COUNT(*)) AS r
  FROM tokens WHERE tok IN {_query_in_list()}
  GROUP BY doc_id
)"""
    gain = "(POW(2.0, r) - 1)"
    disc = "log2(pos + 1.0)"
    return f"""
WITH {bm25_contrib_rel(dialect)},
ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY SUM(term_score) DESC, doc_id) AS pos
  FROM contrib GROUP BY doc_id
),
{rel},
dcg AS (
  SELECT SUM(CAST(ROUND({gain} / {disc}, 9) AS DECIMAL(18,9))) AS v
  FROM ranked k JOIN rel USING (doc_id) WHERE pos <= {NDCG_K}
),
ideal AS (
  SELECT ROW_NUMBER() OVER (ORDER BY r DESC, doc_id) AS pos, r
  FROM rel
),
idcg AS (
  SELECT SUM(CAST(ROUND({gain} / {disc}, 9) AS DECIMAL(18,9))) AS v
  FROM ideal WHERE pos <= {NDCG_K}
),
mrr AS (
  SELECT MIN(pos) AS first_full
  FROM ranked JOIN rel USING (doc_id)
  WHERE r = 3
)
SELECT CAST({NDCG_K} AS BIGINT) AS k,
       ROUND(CAST(d.v AS DOUBLE), 6) AS dcg,
       ROUND(CAST(i.v AS DOUBLE), 6) AS idcg,
       ROUND(CAST(d.v AS DOUBLE) / CAST(i.v AS DOUBLE), 6) AS ndcg,
       CAST(m.first_full AS BIGINT) AS first_full_coverage_rank,
       ROUND(CAST(1 AS DOUBLE) / m.first_full, 6) AS mrr_full_coverage
FROM dcg d JOIN idcg i ON 1 = 1 JOIN mrr m ON 1 = 1
"""


register(
    "retrieval_ndcg_audit",
    oracle=ndcg_sql(DUCKDB),
    doc=f"NDCG@{NDCG_K} / MRR audit of the BM25 ranking against "
    "independent capped-tf graded relevance (2^rel-1 gains, log2 "
    "discounts); the measured-error convention for the search stack",
)(sql_runner(ndcg_sql, ("documents",)))


CTFIDF_TOP = 5


def class_tfidf_sql(dialect: str) -> str:
    """Class-based TF-IDF (the BERTopic topic-labeling statistic,
    Grootendorst 2022): each SOURCE is treated as one concatenated
    document; score(t, c) = tf_{t,c} · ln(1 + A / f_t) with
    tf the term's in-class count, f_t its corpus count, and A the average
    per-class token count — the per-class re-weighting that surfaces the
    terms DISTINCTIVE of a source rather than merely frequent.  Top
    CTFIDF_TOP terms per source, ranked on (ROUND(score,6) DESC, term).
    Counts are exact integers; ln happens once per (class, term).

    Scale: one token scan → (source, term) keyed agg; the ranking window
    partitions by source over the vocabulary-sized relation."""
    return f"""
WITH {tokens_rel(dialect)},
src_tokens AS (
  SELECT d.source, t.tok
  FROM tokens t JOIN documents d ON t.doc_id = d.doc_id
),
cls AS (
  SELECT source, tok, COUNT(*) AS tf
  FROM src_tokens GROUP BY source, tok
),
corpus AS (
  SELECT tok, SUM(tf) AS f FROM cls GROUP BY tok
),
avg_len AS (
  SELECT CAST(SUM(tf) AS DOUBLE) / COUNT(DISTINCT source) AS a FROM cls
),
scored AS (
  SELECT c.source, c.tok, c.tf,
         ROUND(c.tf * ln(1 + (SELECT a FROM avg_len) / co.f), 6) AS ctfidf
  FROM cls c JOIN corpus co ON c.tok = co.tok
),
ranked AS (
  SELECT source, tok, tf, ctfidf,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY ctfidf DESC, tok) AS rk
  FROM scored
)
SELECT source, tok AS term, CAST(tf AS BIGINT) AS tf_class,
       ctfidf, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {CTFIDF_TOP}
ORDER BY source, rk
"""


register(
    "class_tfidf_sources",
    oracle=class_tfidf_sql(DUCKDB),
    doc=f"Class-based TF-IDF (BERTopic statistic): top-{CTFIDF_TOP} "
    "DISTINCTIVE terms per source — in-class tf times ln(1 + avg-class-"
    "len / corpus-freq); exact integer counts, ln at the edge",
)(sql_runner(class_tfidf_sql, ("documents",)))
