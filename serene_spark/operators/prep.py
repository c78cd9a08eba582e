"""Data-preparation and table-maintenance operators: EWMA smoothing,
winsorization (percentile capping), leakage-safe grouped train/val/test
splitting, and small-file compaction planning.

Scale shapes (100 TB):

* ``ts_ewma_hourly`` — events reduce to the hourly relation first (the only
  event-cardinality shuffle); the exponential smoothing is a bounded
  self-join over that TINY relation (24 wall-clock-hour window), with each
  weighted term rounded to 9 dp and summed as DECIMAL so aggregation order
  cannot move the result.  The infinite-memory recursive EWMA is
  deliberately truncated at EWMA_WINDOW hours: (1-α)^24 < 0.08, and a
  bounded window is expressible as a join both engines compute identically.
  (Spark 4.1 does ship WITH RECURSIVE — see supplier_hierarchy_rollup —
  but UNION ALL-only, and an unbounded EWMA recursion would also carry
  state the truncation argument exists to avoid.)
* ``winsorize_events`` — exact per-type p01/p99 via the count-based
  histogram method (events_value_quantiles' shape: map-side-combined value
  histogram, cumulative window over the tiny distinct relation), then one
  broadcast join claps every row.  Never percentile_approx (engine-
  specific), never a per-row sort.
* ``group_split_documents`` — grouped assignment: the split is a
  deterministic md5 hash of the SOURCE, not the document, so all documents
  from one source land in the same split — the leakage guard (near-dups
  concentrate within a source; a doc-level split puts them on both sides
  of the train/test fence).  Map-only.
* ``compaction_plan`` — bin small files into target-size groups: per
  partition (source), a running-size cumulative sum assigns each file the
  bin floor(cumsum_before / TARGET) — the OPTIMIZE/compaction planner
  shape.  The cumsum window partitions by source (never a global
  single-task window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import bound_sql, sql_runner, table_frames
from serene_spark.functions.sqlgen import DUCKDB, SPARK, epoch_us, hex_to_int, idiv
from serene_spark.registry import register

EWMA_ALPHA = "0.30"
EWMA_WINDOW = 24  # hours of history; (1-0.3)^24 ~ 2e-4 of weight dropped
WINSOR_LO, WINSOR_HI = 0.01, 0.99
SPLIT_RATES = (("train", 8), ("val", 1), ("test", 1))  # 80/10/10 by group
COMPACT_TARGET = 64 * 1024  # target "file" size (bytes of text) per bin


def ts_ewma_sql(dialect: str) -> str:
    """Hourly per-type EWMA: weights α(1-α)^k over the trailing
    ``EWMA_WINDOW`` wall-clock hours, normalized over the observed terms."""
    hour = idiv(dialect, epoch_us(dialect, "ts"), str(3600 * 1_000_000))
    w = f"({EWMA_ALPHA} * power(1 - {EWMA_ALPHA}, a.hour_bucket - b.hour_bucket))"
    return f"""
WITH hourly AS (
  SELECT event_type, {hour} AS hour_bucket, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
terms AS (
  SELECT a.event_type, a.hour_bucket, a.cnt,
         CAST(ROUND({w} * b.cnt, 9) AS DECIMAL(18,9)) AS wx,
         CAST(ROUND({w}, 9) AS DECIMAL(18,9)) AS wt
  FROM hourly a
  JOIN hourly b
    ON a.event_type = b.event_type
   AND b.hour_bucket BETWEEN a.hour_bucket - {EWMA_WINDOW} AND a.hour_bucket
)
SELECT event_type,
       CAST(hour_bucket AS BIGINT) AS hour_bucket,
       CAST(cnt AS BIGINT) AS cnt,
       ROUND(CAST(SUM(wx) AS DOUBLE) / CAST(SUM(wt) AS DOUBLE), 6) AS ewma
FROM terms
GROUP BY event_type, hour_bucket, cnt
"""


def winsorize_sql(dialect: str) -> str:
    """Clamp ``value`` to the exact per-type [p01, p99] — outlier capping
    before model features (winsorization)."""
    return f"""
WITH counts AS (
  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, CAST(value AS DECIMAL(18,2))
),
cum AS (
  SELECT event_type, v,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cc,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM counts
),
bounds AS (
  SELECT event_type,
         MIN(CASE WHEN cc >= ceil({WINSOR_LO} * n) THEN v END) AS lo,
         MIN(CASE WHEN cc >= ceil({WINSOR_HI} * n) THEN v END) AS hi
  FROM cum GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND(e.value, 6) AS value,
       ROUND(CASE WHEN CAST(e.value AS DECIMAL(18,2)) < b.lo THEN CAST(b.lo AS DOUBLE)
                  WHEN CAST(e.value AS DECIMAL(18,2)) > b.hi THEN CAST(b.hi AS DOUBLE)
                  ELSE e.value END, 6) AS value_winsorized,
       CASE WHEN CAST(e.value AS DECIMAL(18,2)) < b.lo
              OR CAST(e.value AS DECIMAL(18,2)) > b.hi THEN 1 ELSE 0 END AS clamped
FROM events e
JOIN bounds b ON e.event_type = b.event_type
WHERE e.value IS NOT NULL
"""


def group_split_sql(dialect: str) -> str:
    """80/10/10 train/val/test assignment BY SOURCE GROUP (leakage-safe):
    every document inherits its source's deterministic hash bucket."""
    bucket = f"{hex_to_int(dialect, 'substr(md5(CAST(source AS STRING)), 1, 8)')} % 10"
    train_hi = SPLIT_RATES[0][1] - 1
    val_hi = train_hi + SPLIT_RATES[1][1]
    return f"""
SELECT doc_id, source,
       CASE WHEN b <= {train_hi} THEN 'train'
            WHEN b <= {val_hi} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, source, {bucket} AS b FROM documents) d
"""


def compaction_plan_sql(dialect: str) -> str:
    """Bin documents ("files", sized by n_chars) into ~COMPACT_TARGET-byte
    compaction groups per source partition via a running-size cumsum."""
    return f"""
WITH sized AS (
  SELECT source, doc_id, n_chars,
         COALESCE(SUM(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before_bytes
  FROM documents
),
binned AS (
  SELECT source, doc_id, n_chars,
         CAST(FLOOR(before_bytes / {COMPACT_TARGET}) AS BIGINT) AS bin_id
  FROM sized
)
SELECT source, bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_chars) AS BIGINT) AS total_bytes
FROM binned
GROUP BY source, bin_id
"""


register(
    "ts_ewma_hourly",
    oracle=ts_ewma_sql(DUCKDB),
    doc=f"EWMA-smoothed hourly rates per event type (alpha {EWMA_ALPHA}, "
    f"{EWMA_WINDOW}h truncated window, decimal-exact weighted sums)",
)(sql_runner(ts_ewma_sql, ("events",)))

register(
    "winsorize_events",
    oracle=winsorize_sql(DUCKDB),
    doc="winsorization: clamp value to exact per-type [p01, p99] via the "
    "count-based histogram quantile",
)(sql_runner(winsorize_sql, ("events",)))

register(
    "group_split_documents",
    oracle=group_split_sql(DUCKDB),
    doc="leakage-safe train/val/test split: deterministic 80/10/10 "
    "assignment by SOURCE hash, map-only",
)(sql_runner(group_split_sql, ("documents",)))

register(
    "compaction_plan",
    oracle=compaction_plan_sql(DUCKDB),
    doc="small-file compaction planner: running-size bin packing per "
    "source partition toward a target group size",
)(sql_runner(compaction_plan_sql, ("documents",)))


# --- split-leakage audit -----------------------------------------------------


def split_leakage_tail_sql(dialect: str, pairs_rel: str, head: str = "WITH ") -> str:
    """Labeling + 6-pair spine summary over a named verified-pairs relation.
    The ONLY formulation — both the Spark runner (materialized pairs view)
    and the oracle (full-CTE pairs) splice it, so they cannot desync."""
    return f"""
{head}splits AS ({group_split_sql(dialect)}),
labeled AS (
  SELECT LEAST(s1.split, s2.split) AS split_a,
         GREATEST(s1.split, s2.split) AS split_b,
         p.jaccard
  FROM {pairs_rel} p
  JOIN splits s1 ON p.doc_id_1 = s1.doc_id
  JOIN splits s2 ON p.doc_id_2 = s2.doc_id
),
spine AS (
  SELECT * FROM (VALUES
    ('test', 'test'), ('test', 'train'), ('test', 'val'),
    ('train', 'train'), ('train', 'val'), ('val', 'val')
  ) AS t(split_a, split_b)
)
SELECT sp.split_a, sp.split_b,
       CAST(COALESCE(COUNT(l.jaccard), 0) AS BIGINT) AS n_pairs,
       COALESCE(ROUND(MAX(l.jaccard), 6), 0.0) AS max_jaccard,
       CAST(CASE WHEN sp.split_a <> sp.split_b THEN 1 ELSE 0 END AS INT)
         AS is_leakage
FROM spine sp
LEFT JOIN labeled l ON sp.split_a = l.split_a AND sp.split_b = l.split_b
GROUP BY sp.split_a, sp.split_b
"""


def split_leakage_sql(dialect: str) -> str:
    """Cross-split contamination audit: label every VERIFIED near-duplicate
    pair (the ``dedup_lsh_verified`` output) with the train/val/test splits
    of its two documents and summarize per split pair.  A nonzero
    cross-split count is exactly the leakage ``group_split_documents``'
    source-grouped assignment exists to prevent — this query MEASURES the
    guarantee instead of assuming it (near-dups that cross SOURCES can
    still cross splits; the audit is what says how much).

    Scale shape: the expensive relation (verified pairs) is the already-
    bounded LSH pipeline output; the split assignment is map-only and the
    summary is a 6-row spine LEFT JOIN, so the audit adds one
    metadata-sized join on top of the dedup run it would piggyback on.
    """
    from serene_spark.operators.dedup import lsh_verified_sql

    return f"WITH pairs AS ({lsh_verified_sql(dialect)})," + split_leakage_tail_sql(
        dialect, "pairs", head=""
    )


def _split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized runner: reuse the shingle/minhash-materializing verified-
    pairs runner (Spark's CTE inlining would otherwise recompute shingles
    per reference), then one SQL join for the labeling + spine summary."""
    from serene_spark.operators.dedup import dedup_lsh_verified_spark

    frames = table_frames(spark, sf_dir, ("documents",), spread=True)
    frames["__leak_pairs"] = dedup_lsh_verified_spark(spark, sf_dir)
    return bound_sql(spark, split_leakage_tail_sql(SPARK, "__leak_pairs"), frames)


register(
    "split_leakage_audit",
    oracle=split_leakage_sql(DUCKDB),
    doc="cross-split near-dup contamination: verified LSH pairs labeled by "
    "the split assignment of both docs, 6-pair spine summary — measures "
    "the guarantee group_split_documents is designed to provide",
)(_split_leakage)
