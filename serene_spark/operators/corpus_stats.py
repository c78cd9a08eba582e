"""Corpus-level statistics operators: a Count-Min sketch built IN SQL (so
the approximation itself is oracle-checked, unlike engine-native sketch
binaries) and pairwise source-overlap (Jaccard) — the corpus-comparison
tools a data-curation team runs before mixing sources.

* ``cms_token_counts`` — Count-Min sketch (Cormode & Muthukrishnan 2005):
  D=4 hash rows × W=512 buckets of token counts; a token's estimate is the
  MIN over its D buckets.  The sketch state is D×W integers regardless of
  vocabulary size — the heavy-hitter substrate when exact per-token counts
  (top_tokens_per_lang) stop fitting.  Output compares the CMS estimate
  against the exact count for the corpus's top tokens, so the defining
  guarantees (never underestimates; overestimate ≤ εN w.h.p.) are visible
  and pinned.
* ``source_similarity`` — pairwise word-8-gram Jaccard between sources:
  the redundancy matrix consulted before corpus mixing (which crawls
  duplicate each other).  Exact set semantics here (the oracle); at 100 TB
  the same matrix comes from per-source MinHash signatures
  (minhash_signatures — constant state per source), and the banded-LSH
  family already pins that estimator.

Scale shapes: both tokenize ONCE (materialized Spark-side — shared CTEs
inline); the CMS adds a map-only ×D explode and reduces to the D×W grid;
the overlap self-join keys on the gram (high cardinality), with per-source
set sizes from one agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import compose_with, cte_stages, register_views, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, SPARK, explode_seq, hex_to_int
from serene_spark.operators.curation import grams_rel
from serene_spark.operators.text_analysis import tokens_rel
from serene_spark.registry import register
from serene_spark.materialize import materialize

CMS_D = 4    # hash rows
CMS_W = 512  # buckets per row
TOP_N = 20   # probe the exact top-N tokens


def _cms_bucket(dialect: str) -> str:
    """Row-salted bucket: md5('<row>:' || token) % W."""
    cat = "CAST(i AS STRING) || ':' || tok"
    return f"{hex_to_int(dialect, f'substr(md5({cat}), 1, 8)')} % {CMS_W}"


def cms_tail_sql(dialect: str, tokens_name: str, head: str = "WITH ") -> str:
    """CMS build + probe over a ``(doc_id, tok)`` relation."""
    bucket = _cms_bucket(dialect)
    return f"""
{head}salted AS (
  SELECT tok, i, {bucket} AS bucket
  FROM (SELECT tok, {explode_seq(dialect, 1, CMS_D)} AS i FROM {tokens_name}) s
),
sketch AS (
  SELECT i, bucket, COUNT(*) AS cnt FROM salted GROUP BY i, bucket
),
exact AS (
  SELECT tok, COUNT(*) AS exact_count FROM {tokens_name} GROUP BY tok
),
probes AS (
  -- ORDER BY + LIMIT plans as a distributed partial top-k (TakeOrdered),
  -- unlike a global ROW_NUMBER window (one task over the whole vocabulary)
  SELECT tok, exact_count FROM exact
  ORDER BY exact_count DESC, tok LIMIT {TOP_N}
),
probe_buckets AS (
  SELECT tok, exact_count, i, {bucket} AS bucket
  FROM (SELECT tok, exact_count, {explode_seq(dialect, 1, CMS_D)} AS i
        FROM probes) p
)
SELECT p.tok,
       CAST(p.exact_count AS BIGINT) AS exact_count,
       CAST(MIN(s.cnt) AS BIGINT) AS cms_estimate,
       CAST(MIN(s.cnt) - p.exact_count AS BIGINT) AS overestimate
FROM probe_buckets p
JOIN sketch s ON p.i = s.i AND p.bucket = s.bucket
GROUP BY p.tok, p.exact_count
"""


def cms_oracle_sql(dialect: str) -> str:
    return f"WITH {tokens_rel(dialect)},\n" + cms_tail_sql(
        dialect, "tokens", head=""
    )


def source_similarity_tail_sql(grams_name: str, head: str = "WITH ") -> str:
    """Pairwise source Jaccard over distinct gram sets."""
    return f"""
{head}sg AS (
  SELECT DISTINCT d.source, g.gram
  FROM {grams_name} g JOIN documents d ON g.doc_id = d.doc_id
),
sizes AS (
  SELECT source, COUNT(*) AS n FROM sg GROUP BY source
),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
  FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.source_a, i.source_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       ROUND(CAST(i.n_common AS DOUBLE)
             / (sa.n + sb.n - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.source_a = sa.source
JOIN sizes sb ON i.source_b = sb.source
"""


def source_similarity_oracle_sql(dialect: str) -> str:
    return f"WITH {grams_rel(dialect)},\n" + source_similarity_tail_sql(
        "grams", head=""
    )


def _source_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serene_spark.operators.dedup import guard_exact_baseline

    register_views(spark, sf_dir, ("documents",), spread=True)
    guard_exact_baseline(spark, "documents", "source_similarity",
                         "source_similarity_minhash")
    grams = spark.sql(
        f"WITH {grams_rel(SPARK)} SELECT * FROM grams"
    ).transform(materialize)
    grams.createOrReplaceTempView("__sim_grams")
    return spark.sql(source_similarity_tail_sql("__sim_grams"))


register(
    "cms_token_counts",
    oracle=cms_oracle_sql(DUCKDB),
    doc=f"Count-Min sketch in SQL ({CMS_D}x{CMS_W} grid): estimates vs "
    f"exact counts for the top-{TOP_N} tokens, overestimate-only by "
    "construction",
)(sql_runner(
    lambda d: cms_tail_sql(d, "__cms_tokens"), ("documents",), spread=True,
    stages=lambda d: [("__cms_tokens", f"WITH {tokens_rel(d)} SELECT * FROM tokens")]))

register(
    "source_similarity",
    oracle=source_similarity_oracle_sql(DUCKDB),
    doc="pairwise source redundancy: word-8-gram Jaccard matrix over "
    "distinct gram sets (source_similarity_minhash is the constant-state "
    "scale sibling)",
)(_source_sim)


# --- MinHash scale sibling of source_similarity ------------------------------

SRC_MH_PERMS = 128  # signature width; estimator sigma = sqrt(j(1-j)/128)
_SRC_MH_PRIME = 4294967311  # > 2^32, shared with dedup.minhash_rel's family


def source_minhash_tail_sql(dialect: str, grams_name: str, head: str = "WITH ") -> str:
    """Per-SOURCE MinHash signatures + pairwise matching-minima estimate.

    The 100 TB form of the redundancy matrix: per source the shuffle carries
    ``SRC_MH_PERMS`` longs (one wide MIN aggregation with map-side combine,
    the dedup.minhash_rel pattern) instead of the full distinct-gram set, and
    the pair comparison runs over #sources^2 signature rows — constant state
    per source regardless of corpus size. Deterministic md5 double-hashing
    makes the ESTIMATE itself oracle-checkable, and the exact
    ``source_similarity`` twin pins its error in tests."""
    h1 = hex_to_int(dialect, "substr(md5(gram), 1, 8)")
    h2 = hex_to_int(dialect, "substr(md5(gram), 9, 8)")
    mins = ",\n         ".join(
        f"MIN((h1 + {i} * h2) % {_SRC_MH_PRIME}) AS mh{i}"
        for i in range(SRC_MH_PERMS)
    )
    # chunked parenthesization: a flat 128-term chain left-associates into a
    # 128-deep expression tree, which overflows DuckDB's binder recursion
    # limit; 16-term groups keep every subtree shallow
    terms = [
        f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END"
        for i in range(SRC_MH_PERMS)
    ]
    matches = " + ".join(
        "(" + " + ".join(terms[i : i + 16]) + ")"
        for i in range(0, SRC_MH_PERMS, 16)
    )
    return f"""
{head}sg AS (
  SELECT DISTINCT d.source, g.gram
  FROM {grams_name} g JOIN documents d ON g.doc_id = d.doc_id
),
hashes AS (
  SELECT source, {h1} AS h1, {h2} AS h2 FROM sg
),
sig AS (
  SELECT source,
         {mins}
  FROM hashes GROUP BY source
),
est AS (
  SELECT a.source AS source_a, b.source AS source_b,
         {matches} AS n_match
  FROM sig a JOIN sig b ON a.source < b.source
)
SELECT source_a, source_b,
       CAST(n_match AS BIGINT) AS n_match,
       ROUND(CAST(n_match AS DOUBLE) / {SRC_MH_PERMS}, 6) AS jaccard_est
FROM est
"""


def source_minhash_oracle_sql(dialect: str) -> str:
    return f"WITH {grams_rel(dialect)},\n" + source_minhash_tail_sql(
        dialect, "grams", head=""
    )


register(
    "source_similarity_minhash",
    oracle=source_minhash_oracle_sql(DUCKDB),
    doc=f"MinHash scale sibling of source_similarity: {SRC_MH_PERMS}-perm "
    "per-source signatures (one wide MIN agg), matching-minima Jaccard "
    "estimate; estimator error vs the exact twin pinned in tests",
)(sql_runner(
    lambda d: source_minhash_tail_sql(d, "__simmh_grams"), ("documents",), spread=True,
    stages=lambda d: [("__simmh_grams", f"WITH {grams_rel(d)} SELECT * FROM grams")]))


# --- Bloom filter in SQL ----------------------------------------------------

BLOOM_M = 16384  # bits
BLOOM_K = 4      # hash functions


def bloom_stats_sql(dialect: str) -> str:
    """Bloom-filter membership (Bloom 1970) built IN SQL, like the CMS
    above: the filter over orders' customer keys is the DISTINCT set of
    their k hashed bit positions (<= BLOOM_M rows — broadcast-sized
    regardless of order count); a customer "may be a member" iff ALL k of
    its positions are set.  Probing every customer against ground truth
    (the exact semi-join) surfaces the defining guarantees in the output:
    zero false negatives ALWAYS, and a false-positive rate near
    (1 - e^{{-kn/m}})^k.

    This is the row-level runtime-filter pattern (Spark's own
    InjectRuntimeFilter/bloom join pruning): at 100 TB the filter built
    from the small side prunes the big side's shuffle input map-side.
    """
    return compose_with(bloom_bases(dialect), bloom_tail_sql(dialect))


def bloom_bases(dialect: str) -> list[tuple[str, str]]:
    """Materialization bases: member_keys is the ONE orders scan (the k
    build arms and the ground-truth join all read the distinct-key view);
    probe positions build once instead of once per tail reference."""
    def pos(i: int, expr: str) -> str:
        h = hex_to_int(dialect, f"substr(md5('{i}:' || CAST({expr} AS STRING)), 1, 8)")
        return f"{h} % {BLOOM_M}"

    build_arms = "\n  UNION ALL\n".join(
        f"  SELECT DISTINCT {pos(i, 'o_custkey')} AS b FROM member_keys"
        for i in range(BLOOM_K)
    )
    probe_arms = "\n  UNION ALL\n".join(
        f"  SELECT c_custkey, {pos(i, 'c_custkey')} AS pos FROM probe_keys"
        for i in range(BLOOM_K)
    )
    member = "member_keys AS (\n  SELECT DISTINCT o_custkey FROM orders\n)"
    bits = f"""bits AS (
  SELECT DISTINCT b FROM (
{build_arms}
  ) u
)"""
    probe_keys = """probe_keys AS (
  -- customers (members at most sf) plus keys negated below zero, which are
  -- non-members BY CONSTRUCTION at any scale factor (custkeys are >= 0; a
  -- fixed shift would collide with real customers once keys reach its
  -- magnitude) — without them the FPR measurement is vacuous on a corpus
  -- where every customer has orders
  SELECT c_custkey FROM customer
  UNION ALL
  SELECT -(c_custkey + 1) FROM customer
)"""
    probe_pos = f"""probe_pos AS (
  -- membership as a JOIN, not k correlated EXISTS (which Catalyst fails
  -- to de-correlate against a shared CTE): a key is a bloom member iff
  -- EVERY one of its distinct positions is set
  SELECT DISTINCT c_custkey, pos FROM (
{probe_arms}
  ) q
)"""
    return [
        ("member_keys", member),
        ("bits", bits),
        ("probe_keys", probe_keys),
        ("probe_pos", probe_pos),
    ]


def bloom_tail_sql(dialect: str) -> str:
    return f"""
WITH hits AS (
  SELECT p.c_custkey,
         COUNT(*) AS n_pos,
         SUM(CASE WHEN bt.b IS NULL THEN 0 ELSE 1 END) AS n_hit
  FROM probe_pos p LEFT JOIN bits bt ON p.pos = bt.b
  GROUP BY p.c_custkey
),
verdicts AS (
  SELECT h.c_custkey,
         CASE WHEN h.n_hit = h.n_pos THEN 1 ELSE 0 END AS bloom_member,
         CASE WHEN m.o_custkey IS NULL THEN 0 ELSE 1 END AS true_member
  FROM hits h
  LEFT JOIN member_keys m
    ON h.c_custkey = m.o_custkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
       CAST(SUM(true_member) AS BIGINT) AS n_true_members,
       CAST(SUM(CASE WHEN bloom_member = 1 AND true_member = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS false_positives,
       CAST(SUM(CASE WHEN bloom_member = 0 AND true_member = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS false_negatives,
       ROUND(CAST(SUM(CASE WHEN bloom_member = 1 AND true_member = 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / GREATEST(1, SUM(CASE WHEN true_member = 0 THEN 1 ELSE 0 END)), 6) AS fpr
FROM verdicts
"""

register(
    "bloom_filter_stats",
    oracle=bloom_stats_sql(DUCKDB),
    doc=f"Bloom filter in SQL ({BLOOM_K} hashes, {BLOOM_M} bits) over "
    "orders' customer keys probed against all customers: zero false "
    "negatives, FPR vs ground truth — the runtime-filter pruning pattern",
)(sql_runner(bloom_tail_sql, ("orders", "customer"), stages=cte_stages(bloom_bases)))


# --- Zipf-law fit over the token frequency distribution ---------------------

ZIPF_TOP_N = 500  # fit over the head; the hapax tail is quantization noise


def zipf_fit_sql(dialect: str) -> str:
    """Zipf exponent of the corpus token distribution — log-log least
    squares of frequency against rank over the top-{ZIPF_TOP_N} types
    (Zipf 1949; natural text sits near s = 1, templated or synthetic
    text drifts off).  The number summarizes what the CMS/heavy-hitter
    family measures pointwise: how concentrated the vocabulary is.

    One corpus scan reduces to the (token, freq) vocabulary relation;
    the rank and the regression sums are vocabulary-head-sized.  Rank is
    deterministic (freq DESC, token ASC).  Regression moments are
    12-dp-rounded DECIMAL sums of LN terms (the engine's log-sum
    convention); slope/intercept/R^2 divide once in double.  The fitted
    slope is emitted as the POSITIVE Zipf exponent s.
    """
    return f"""
WITH {tokens_rel(dialect)},
vocab AS (
  SELECT tok, COUNT(*) AS freq FROM tokens GROUP BY tok
),
ranked AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS rnk
  FROM vocab
),
pts AS (
  SELECT CAST(ROUND(LN(rnk), 12) AS DECIMAL(28,12)) AS lx,
         CAST(ROUND(LN(freq), 12) AS DECIMAL(28,12)) AS ly
  FROM ranked WHERE rnk <= {ZIPF_TOP_N}
),
mom AS (
  SELECT COUNT(*) AS n,
         SUM(lx) AS sx, SUM(ly) AS sy,
         SUM(CAST(ROUND(CAST(lx AS DOUBLE) * CAST(lx AS DOUBLE), 12)
                  AS DECIMAL(28,12))) AS sxx,
         SUM(CAST(ROUND(CAST(lx AS DOUBLE) * CAST(ly AS DOUBLE), 12)
                  AS DECIMAL(28,12))) AS sxy,
         SUM(CAST(ROUND(CAST(ly AS DOUBLE) * CAST(ly AS DOUBLE), 12)
                  AS DECIMAL(28,12))) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       ROUND(-(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS zipf_exponent,
       ROUND((CAST(sy AS DOUBLE)
              - CAST(sx AS DOUBLE)
                * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             ) / n, 6) AS log_intercept,
       ROUND(
         ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
         / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS r_squared
FROM mom
"""


register(
    "zipf_fit_tokens",
    oracle=zipf_fit_sql(DUCKDB),
    doc=f"Zipf exponent via log-log least squares over the top-{ZIPF_TOP_N} "
    "token ranks (deterministic rank, decimal-summed log moments): the "
    "vocabulary-concentration summary beside the CMS heavy hitters",
)(sql_runner(zipf_fit_sql, ("documents",), spread=True))


# --- Heaps-law fit: vocabulary growth against corpus size -------------------


def heaps_fit_sql(dialect: str) -> str:
    """Heaps-law exponent of vocabulary growth — V(N) ~ K * N^beta over
    the corpus prefix in doc_id (ingestion) order (Heaps 1978; natural
    text sits near beta ~ 0.4-0.6).  The capacity-planning twin of the
    Zipf fit: it predicts how fast the token vocabulary (and any
    per-type state — embeddings, CMS width, BPE merges) grows as the
    corpus scales.

    Each token's FIRST owning doc attributes it as "new" exactly once
    (MIN(doc_id) — one keyed agg); cumulative token count N_d and
    cumulative vocabulary V_d are windows over the DOC-cardinality
    relation, and the log-log regression moments are 12-dp-rounded
    DECIMAL sums — the zipf_fit_tokens algebra on a different curve.
    """
    return f"""
WITH {tokens_rel(dialect)},
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_toks FROM tokens GROUP BY doc_id
),
firsts AS (
  SELECT MIN(doc_id) AS first_doc, COUNT(DISTINCT tok) AS n_new
  FROM (SELECT tok, MIN(doc_id) AS doc_id FROM tokens GROUP BY tok) f
  GROUP BY doc_id
),
curve AS (
  SELECT p.doc_id,
         SUM(p.n_toks) OVER (ORDER BY p.doc_id) AS big_n,
         SUM(COALESCE(f.n_new, 0)) OVER (ORDER BY p.doc_id) AS v
  FROM per_doc p LEFT JOIN firsts f ON f.first_doc = p.doc_id
),
pts AS (
  SELECT CAST(ROUND(LN(big_n), 12) AS DECIMAL(28,12)) AS lx,
         CAST(ROUND(LN(v), 12) AS DECIMAL(28,12)) AS ly
  FROM curve WHERE big_n > 0 AND v > 0
),
mom AS (
  SELECT COUNT(*) AS n,
         SUM(lx) AS sx, SUM(ly) AS sy,
         SUM(CAST(ROUND(CAST(lx AS DOUBLE) * CAST(lx AS DOUBLE), 12)
                  AS DECIMAL(28,12))) AS sxx,
         SUM(CAST(ROUND(CAST(lx AS DOUBLE) * CAST(ly AS DOUBLE), 12)
                  AS DECIMAL(28,12))) AS sxy,
         SUM(CAST(ROUND(CAST(ly AS DOUBLE) * CAST(ly AS DOUBLE), 12)
                  AS DECIMAL(28,12))) AS syy
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS heaps_beta,
       ROUND((CAST(sy AS DOUBLE)
              - CAST(sx AS DOUBLE)
                * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             ) / n, 6) AS log_k,
       ROUND(
         ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          * (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
         / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS r_squared
FROM mom
"""


register(
    "heaps_fit_tokens",
    oracle=heaps_fit_sql(DUCKDB),
    doc="Heaps-law vocabulary-growth exponent via log-log least squares "
    "over the doc-ordered (corpus size, vocabulary size) curve — the "
    "capacity-planning twin of the Zipf fit (per-type state growth)",
)(sql_runner(heaps_fit_sql, ("documents",), spread=True))
