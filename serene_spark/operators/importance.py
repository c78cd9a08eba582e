"""Data-selection importance weighting (DSIR): score every raw document by
how target-like its hashed n-gram distribution is, using the log-likelihood
ratio between a target-domain language model and the raw-corpus model —
Xie et al., "Data Selection for Language Models via Importance Resampling"
(DSIR), arXiv:2302.03169.  The hashed bag-of-words estimator makes the
feature space a fixed ``N_BUCKETS`` table, so the model fits in a broadcast
no matter the corpus size.

Pipeline (per the paper, deterministic variant):

1. tokens hash into ``N_BUCKETS`` buckets (md5-based, engine-shared);
2. unigram bucket distributions are estimated for the TARGET slice (here:
   the curated-source proxy ``TARGET_SOURCES``) and the RAW corpus, with
   Laplace +1 smoothing;
3. each document scores ``Σ cnt_b · log(p_target(b)/p_raw(b))`` — positive
   means "more target-like than raw"; ``selected`` flags positive
   length-normalized scores (the paper samples ∝ weights; the deterministic
   gate keeps the oracle exact).

Scale shape (100 TB): ONE tokenize+hash pass materializes the per-(doc,
bucket) count relation (localCheckpoint Spark-side — Catalyst would
otherwise inline the shared CTE into both its consumers and tokenize the
corpus twice); bucket stats reduce that relation to ``N_BUCKETS`` rows
(broadcast); the per-doc score is one keyed agg over the same materialized
relation.  Per-bucket log-ratios are rounded to 9 dp and summed as
DECIMAL(18,9) so partial-aggregation order cannot move the result (engine
convention, cf. lang_model_score).
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, explode, hex_to_int, split_re
from serene_spark.operators.text_analysis import NORM
from serene_spark.registry import register

N_BUCKETS = 128
# target-domain proxy: the "curated" sources whose distribution we want the
# selected corpus to match
TARGET_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def doc_bucket_counts_sql(dialect: str) -> str:
    """The materialization unit: per-(doc, bucket) token counts + target
    flag — ONE tokenize+hash scan of documents."""
    toks = split_re(dialect, NORM(dialect), "[^a-z0-9]+")
    bucket = f"{hex_to_int(dialect, 'substr(md5(tok), 1, 8)')} % {N_BUCKETS}"
    targets = ", ".join(f"'{s}'" for s in TARGET_SOURCES)
    return f"""
SELECT doc_id, is_target, {bucket} AS bucket, COUNT(*) AS cnt
FROM (
  SELECT doc_id, is_target, {explode(dialect, "toks")} AS tok
  FROM (
    SELECT doc_id,
           CASE WHEN source IN ({targets}) THEN 1 ELSE 0 END AS is_target,
           {toks} AS toks
    FROM documents
  ) d
) t
WHERE tok <> ''
GROUP BY doc_id, is_target, bucket
"""


def dsir_tail_sql(dbc_rel: str, head: str = "WITH ") -> str:
    """Score statement over a (doc_id, is_target, bucket, cnt) relation.
    ``head`` lets the oracle splice these CTEs after its own dbc CTE."""
    return f"""
{head}bstats AS (
  SELECT bucket,
         SUM(CASE WHEN is_target = 1 THEN cnt ELSE 0 END) AS t_cnt,
         SUM(cnt) AS r_cnt
  FROM {dbc_rel}
  GROUP BY bucket
),
tot AS (
  SELECT SUM(t_cnt) AS t_tot, SUM(r_cnt) AS r_tot FROM bstats
),
ratios AS (
  SELECT bucket,
         CAST(ROUND(
           LN((t_cnt + 1.0) / (t.t_tot + {N_BUCKETS}))
           - LN((r_cnt + 1.0) / (t.r_tot + {N_BUCKETS})), 9)
         AS DECIMAL(18,9)) AS llr
  FROM bstats CROSS JOIN tot t
)
SELECT d.doc_id,
       CAST(SUM(d.cnt) AS BIGINT) AS n_tokens,
       -- cnt must be a NARROW decimal: BIGINT(20) x DECIMAL(18,9) exceeds
       -- precision 38 and Spark silently drops the 9th scale digit
       -- (decimalOperations.allowPrecisionLoss), shifting sums by ~1e-8
       CAST(ROUND(SUM(CAST(d.cnt AS DECIMAL(12,0)) * r.llr), 6) AS DOUBLE) AS llr_sum,
       ROUND(CAST(SUM(CAST(d.cnt AS DECIMAL(12,0)) * r.llr) AS DOUBLE)
             / SUM(d.cnt), 6) AS llr_avg,
       CASE WHEN SUM(CAST(d.cnt AS DECIMAL(12,0)) * r.llr) > 0 THEN 1 ELSE 0 END AS selected
FROM {dbc_rel} d
JOIN ratios r ON d.bucket = r.bucket
GROUP BY d.doc_id
"""


def dsir_oracle_sql(dialect: str) -> str:
    return (
        f"WITH dbc AS ({doc_bucket_counts_sql(dialect)}),\n"
        + dsir_tail_sql("dbc", head="")
    )


register(
    "dsir_importance",
    oracle=dsir_oracle_sql(DUCKDB),
    doc="DSIR importance weighting: hashed-unigram target-vs-raw "
    "log-likelihood ratio per document with Laplace smoothing; "
    "single tokenize pass, broadcast bucket model",
)(sql_runner(
    lambda _d: dsir_tail_sql("__dsir_dbc"), ("documents",), spread=True,
    # materialize the tokenize pass once — the tail references it twice and
    # Catalyst inlines shared CTEs (cluster analog: checkpoint/Delta table)
    stages=lambda d: [("__dsir_dbc", doc_bucket_counts_sql(d))],
))


SAMPLE_FRAC = 0.25  # importance-resample target fraction


def keyed_sql(dbc_rel: str, dialect: str) -> str:
    """(doc_id, llr_avg, ares_key) — the second materialization unit: the
    selection tail references it from three consumers (coarse histogram,
    fine pass, final projection), and an inlined CTE would re-run the
    scoring aggregation for each."""
    u = f"({hex_to_int(dialect, 'substr(md5(CAST(doc_id AS STRING)), 1, 8)')} + 1) / 4294967297.0"
    return f"""
SELECT doc_id, llr_avg,
       ROUND(-LN({u}) * EXP(-llr_avg), 6) AS ares_key
FROM (
{dsir_tail_sql(dbc_rel, head="WITH ").rstrip()}
) scored
"""


def weighted_sample_tail_sql(dbc_rel: str, dialect: str) -> str:
    """DSIR step 2 — importance RESAMPLING (the paper's actual selection
    rule): draw documents with probability proportional to their importance
    weight w = exp(llr_avg), via the Efraimidis–Spirakis A-Res scheme
    (key = -ln(u)/w with u a deterministic md5 uniform; the k smallest keys
    are a weighted-without-replacement sample).

    Selection is THRESHOLD-based, not ORDER BY/LIMIT, via a TWO-PHASE exact
    quantile: a coarse histogram over deci-wide key bins (cardinality
    bounded by the key's VALUE RANGE, not the corpus) locates the bin
    containing the cutoff, and the fine cumulative pass runs inside that
    one bin only — so no window ever spans corpus-cardinality rows (the
    near-unique 6-dp keys would otherwise funnel the whole corpus through
    a single unpartitioned-window task).  Keys are rounded to 6 dp before
    comparison — u is an exact dyadic rational in both engines and llr_avg
    is already 6-dp-quantized, so cross-engine exp/ln ulp differences
    vanish under the rounding.
    """
    return (
        f"\nkeyed AS (\n{keyed_sql(dbc_rel, dialect).rstrip()}\n),"
        + selection_sql("keyed")
    )


def selection_sql(keyed_rel: str) -> str:
    """Two-phase quantile threshold + sampled flag over a (doc_id, llr_avg,
    ares_key) relation (see weighted_sample_tail_sql)."""
    return f"""
coarse AS (
  SELECT FLOOR(ares_key * 10) AS cb, COUNT(*) AS c FROM {keyed_rel} GROUP BY 1
),
ccum AS (
  SELECT cb, SUM(c) OVER (ORDER BY cb) AS cc, SUM(c) OVER () AS n
  FROM coarse
),
pick AS (
  SELECT MIN(cb) AS cb FROM ccum WHERE cc >= CEIL({SAMPLE_FRAC} * n)
),
below AS (
  SELECT COALESCE(MAX(cc), 0) AS n_below
  FROM ccum WHERE cb < (SELECT cb FROM pick)
),
fine AS (
  SELECT ares_key, COUNT(*) AS c FROM {keyed_rel}
  WHERE FLOOR(ares_key * 10) = (SELECT cb FROM pick)
  GROUP BY ares_key
),
fcum AS (
  SELECT ares_key, SUM(c) OVER (ORDER BY ares_key) AS fc FROM fine
),
thresh AS (
  SELECT MIN(f.ares_key) AS t
  FROM fcum f CROSS JOIN below b CROSS JOIN (SELECT SUM(c) AS n FROM coarse) tot
  WHERE b.n_below + f.fc >= CEIL({SAMPLE_FRAC} * tot.n)
)
SELECT k.doc_id, k.llr_avg, k.ares_key,
       CASE WHEN k.ares_key <= (SELECT t FROM thresh) THEN 1 ELSE 0 END AS sampled
FROM {keyed_rel} k
"""


def dsir_weighted_sample_oracle_sql(dialect: str) -> str:
    return (
        f"WITH dbc AS ({doc_bucket_counts_sql(dialect)}),\n"
        + weighted_sample_tail_sql("dbc", dialect)
    )


register(
    "dsir_weighted_sample",
    oracle=dsir_weighted_sample_oracle_sql(DUCKDB),
    doc=f"DSIR importance resampling: A-Res weighted sample (frac "
    f"{SAMPLE_FRAC}) with weights exp(llr_avg), threshold-quantile "
    "selection (no global sort)",
)(sql_runner(
    lambda _d: "WITH " + selection_sql("__dsirws_keyed").lstrip(), ("documents",), spread=True,
    # keyed is consumed by three selection stages — materialize it too, or
    # Catalyst re-runs the scoring aggregation per consumer
    stages=lambda d: [
        ("__dsirws_dbc", doc_bucket_counts_sql(d)),
        ("__dsirws_keyed", keyed_sql("__dsirws_dbc", d)),
    ],
))
