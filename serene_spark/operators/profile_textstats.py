"""stats-of-text-length and stats-of-numerical-type group features (SURVEY §2.4).

Reference: 5 stats (mean/median/mode/min/max) over ``length(value)``
(matcher/.../features/FeatureExtractor.scala:736-775, DataPreprocessor.scala:239-260)
and over parseable numeric values (FeatureExtractor.scala:778-839).

Parity-critical semantics preserved exactly:
- the reference's nonstandard median = the ceil(n/2)-th smallest element
  (FeatureExtractor.scala:758-763) — implemented with row_number, NOT
  percentile_approx (which would diverge);
- mode = value with max count, ties broken to the smallest value;
- -1 sentinels when fewer than 2 values.

Numeric means go through DECIMAL(28,10) sums so the result is independent of
partial-aggregation order on both engines; the numeric-detection regex is
restricted to decimal-castable forms (no exponents) for exactness.
"""

from __future__ import annotations

from serene_spark.catalog import COLUMNS
from serene_spark.functions.melt import melt_sql, run_over_melt
from serene_spark.functions.sqlgen import DUCKDB, SPARK, rx
from serene_spark.registry import register

NUM_PAT = "^[+-]?([0-9]{1,18}([.][0-9]{0,10})?|[.][0-9]{1,10})$"
# the exact parse of a NUM_PAT match
NUM_DECIMAL = "CAST(trim(value) AS DECIMAL(28,10))"


def textlen_stats_sql(long_rel: str, dialect: str) -> str:
    """Scale shape: NEVER a per-row window partitioned by column_name (16
    partitions would sort millions of rows with 16-way parallelism). Instead
    reduce to (column, len)->count first — a hash aggregation with map-side
    combine and no key skew — then compute mean/median/mode/min/max from the
    tiny distinct-length relation; the reference's exact median (the
    ceil(n/2)-th smallest element, FeatureExtractor.scala:758-763) is the
    smallest len whose cumulative count reaches ceil(n/2)."""
    return f"WITH counts AS ({len_counts_sql(long_rel)}),\n{textlen_body('counts')}"


def len_counts_sql(long_rel: str) -> str:
    """(column, length) -> count: the one data-scale aggregation."""
    return f"""
  SELECT column_name, CAST(length(value) AS BIGINT) AS len, CAST(COUNT(*) AS BIGINT) AS c
  FROM {long_rel} AS lr GROUP BY column_name, length(value)
"""


# per-column length aggregates over a (column, len, c) relation
_TEXTLEN_AGGS = """SELECT column_name, CAST(SUM(c) AS BIGINT) AS n,
         round(CAST(SUM(len * c) AS DOUBLE) / SUM(c), 6) AS mean_len,
         CAST(MIN(len) AS BIGINT) AS min_len,
         CAST(MAX(len) AS BIGINT) AS max_len"""


def textlen_body(counts: str) -> str:
    """Stats tail over an existing (column, len, c) relation, the form the
    DuckDB oracle runs; it references ``counts`` three times (DuckDB
    materializes such CTEs, Spark would inline and recompute them — Spark
    runs :func:`textlen_onepass_body`)."""
    return f"""
agg AS (
  {_TEXTLEN_AGGS}
  FROM {counts} GROUP BY column_name
),
cum AS (
  SELECT column_name, len,
         SUM(c) OVER (PARTITION BY column_name ORDER BY len) AS cum_c
  FROM {counts}
),
med AS (
  SELECT cu.column_name, CAST(MIN(cu.len) AS BIGINT) AS median_len
  FROM cum cu JOIN agg a ON cu.column_name = a.column_name
  WHERE cu.cum_c >= CAST(ceil(a.n / 2.0) AS BIGINT)
  GROUP BY cu.column_name
),
mode1 AS (
  SELECT column_name, CAST(len AS BIGINT) AS mode_len
  FROM (
    SELECT column_name, len,
           ROW_NUMBER() OVER (PARTITION BY column_name ORDER BY c DESC, len ASC) AS rn
    FROM {counts}
  ) mc WHERE rn = 1
)
SELECT a.column_name, a.n AS n_values, a.mean_len,
       CASE WHEN a.n < 2 THEN -1 ELSE m.median_len END AS median_len,
       mo.mode_len, a.min_len, a.max_len
FROM agg a
JOIN med m ON a.column_name = m.column_name
JOIN mode1 mo ON a.column_name = mo.column_name
"""


def textlen_onepass_body(counts: str) -> str:
    """Spark-only physical form of :func:`textlen_body`: ONE aggregation.

    The cum/med/mode1 CTEs cost two window sorts, two joins and three extra
    exchanges over the (column, len, c) relation — and force the Spark
    runner to materialize ``counts`` (3 CTE references). But distinct
    LENGTHS per column are bounded by the longest value (hundreds, not
    row-scale — the same bound the per-column window sort already assumes),
    so the whole distribution fits one ``sort_array(collect_list(...))``
    per column and the exact median/mode fall out of an integer array fold:
    no windows, no joins, counts referenced once (no checkpoint). Guide
    §2.4. All arithmetic is integer, so the fold is bit-identical to the
    cumulative-window form; parity vs the textlen_body-built DuckDB oracle
    pins it."""
    med_fold = """aggregate(lc,
             named_struct('cum', CAST(0 AS BIGINT), 'med', CAST(NULL AS BIGINT)),
             (acc, x) -> CASE
               WHEN acc.med IS NOT NULL THEN acc
               WHEN acc.cum + x.c >= CAST(ceil(n / 2.0) AS BIGINT)
                 THEN named_struct('cum', acc.cum + x.c, 'med', x.len)
               ELSE named_struct('cum', acc.cum + x.c, 'med', acc.med) END,
             acc -> acc.med)"""
    mode_fold = """aggregate(lc,
             named_struct('c', CAST(-1 AS BIGINT), 'len', CAST(NULL AS BIGINT)),
             (acc, x) -> CASE WHEN x.c > acc.c
               THEN named_struct('c', x.c, 'len', x.len) ELSE acc END,
             acc -> acc.len)"""
    return f"""
SELECT column_name, n AS n_values, mean_len,
       CASE WHEN n < 2 THEN -1 ELSE CAST({med_fold} AS BIGINT) END AS median_len,
       CAST({mode_fold} AS BIGINT) AS mode_len,
       min_len, max_len
FROM (
  {_TEXTLEN_AGGS},
         sort_array(collect_list(struct(len, c))) AS lc
  FROM {counts} GROUP BY column_name
) a
"""


def numeric_stats_sql(long_rel: str, dialect: str) -> str:
    """Same scale shape as textlen_stats: (column, num)->count hash agg
    first (map-side combine, skew-free), cumulative-count median over the
    distinct-value relation only. Decimal sums keep the mean exact and
    partial-aggregation-order independent."""
    return f"WITH counts AS ({num_counts_sql(long_rel, dialect)}),\n{numeric_body('counts')}"


def num_counts_sql(long_rel: str, dialect: str) -> str:
    """(column, numeric value) -> count: the one data-scale aggregation."""
    return f"""
  SELECT column_name, {NUM_DECIMAL} AS num, CAST(COUNT(*) AS BIGINT) AS c
  FROM {long_rel} AS lr
  WHERE {rx(dialect, 'trim(value)', NUM_PAT)}
  GROUP BY column_name, {NUM_DECIMAL}
"""


N_MED_BUCKETS = 1024


def _bucket(stats: str, num: str) -> str:
    """Median bucket of ``num`` given its column's min/max in ``stats``.
    Double arithmetic: the exact decimal->double conversion is identical
    in both engines and monotone, which is all bucketing needs."""
    return (
        f"CASE WHEN {stats}.max_num = {stats}.min_num THEN 0 "
        f"ELSE LEAST({N_MED_BUCKETS - 1}, GREATEST(0, CAST(FLOOR("
        f"(CAST({num} AS DOUBLE) - {stats}.min_num) / ({stats}.max_num - {stats}.min_num) "
        f"* {N_MED_BUCKETS}) AS INT))) END"
    )


def _numeric_agg(counts: str) -> str:
    """Per-column numeric stats CTE over a (column, num, c) relation."""
    return f"""
agg AS (
  SELECT column_name, CAST(SUM(c) AS BIGINT) AS n_numeric,
         round(CAST(SUM(num * c) AS DOUBLE) / SUM(c), 6) AS mean_num,
         CAST(MIN(num) AS DOUBLE) AS min_num,
         CAST(MAX(num) AS DOUBLE) AS max_num,
         CAST(ceil(SUM(c) / 2.0) AS BIGINT) AS target_rank
  FROM {counts} GROUP BY column_name
),"""


def numeric_body(counts: str) -> str:
    """Stats tail over an existing (column, num, c) relation, the form the
    DuckDB oracle runs (Spark runs :func:`numeric_onepass_body`).

    Unlike text lengths, distinct NUMERIC values can be row-cardinality
    (prices): a cumulative window partitioned by column_name would sort
    millions of rows with one task per column — the per-column sort trap.
    The exact ceil(n/2) median is instead found in two levels: (1) bucket
    each value into {N_MED_BUCKETS} equal-width ranges (map-only double
    arithmetic — monotone, engine-identical), cumulate over the per-column
    bucket totals (<= {N_MED_BUCKETS} rows per column), locate the bucket
    containing the target rank, then (2) cumulate ONLY that bucket's values
    (~1/{N_MED_BUCKETS} of the relation).  Same answer, no large sort.
    """
    return _numeric_agg(counts) + f"""
bucketed AS (
  SELECT cc.column_name, cc.num, cc.c, {_bucket('a', 'num')} AS bkt
  FROM {counts} AS cc JOIN agg a ON cc.column_name = a.column_name
),
bcum AS (
  SELECT column_name, bkt, SUM(bc) OVER (
           PARTITION BY column_name ORDER BY bkt) AS cum_c,
         SUM(bc) OVER (PARTITION BY column_name ORDER BY bkt) - bc AS cum_before
  FROM (
    SELECT column_name, bkt, SUM(c) AS bc
    FROM bucketed GROUP BY column_name, bkt
  ) b
),
medbkt AS (
  -- the bucket where the cumulative count first reaches the target rank
  SELECT bc.column_name, MIN(bc.bkt) AS bkt
  FROM bcum bc JOIN agg a ON bc.column_name = a.column_name
  WHERE bc.cum_c >= a.target_rank
  GROUP BY bc.column_name
),
inbkt AS (
  -- cumulative counts over the median bucket's values only
  SELECT b.column_name, b.num,
         mb2.cum_before + SUM(b.c) OVER (
           PARTITION BY b.column_name ORDER BY b.num) AS cum_c
  FROM bucketed b
  JOIN medbkt m ON b.column_name = m.column_name AND b.bkt = m.bkt
  JOIN bcum mb2 ON b.column_name = mb2.column_name AND b.bkt = mb2.bkt
),
med AS (
  SELECT cu.column_name, CAST(MIN(cu.num) AS DOUBLE) AS median_num
  FROM inbkt cu JOIN agg a ON cu.column_name = a.column_name
  WHERE cu.cum_c >= a.target_rank
  GROUP BY cu.column_name
)
SELECT a.column_name, a.n_numeric, a.mean_num, m.median_num, a.min_num, a.max_num
FROM agg a JOIN med m ON a.column_name = m.column_name
"""


def numeric_onepass_body(counts: str) -> str:
    """Spark-only physical form of :func:`numeric_body`.

    Same two-level exact-median algorithm (bucket → in-bucket), same
    arithmetic, restructured for plan economy (the three-CTE form compiles
    to ~13 Exchanges with the per-column stats subtree duplicated at every
    reference — plans/r12/numeric_stats_lineitem_before.txt):

    - the per-column bucket cumulation + median-bucket location (a window
      over bucket totals + an aggregation + a join) collapse into one
      integer array fold over ``sort_array(collect_list(struct(bkt, bc)))``
      — bucket totals are <= {N_MED_BUCKETS} rows per column by
      construction, so the array is metadata-sized at any corpus scale;
    - every relation is referenced exactly ONCE (Spark inlines CTEs, so a
      twice-referenced relation duplicates its whole input subtree): the
      per-column stats ride along the single bucketing→fold chain, and the
      in-bucket pass re-derives the bucket id from ``medb``'s carried
      min/max instead of re-reading a ``bucketed`` relation — bkt is a
      deterministic function of (num, min_num, max_num), so recomputing it
      selects exactly the same rows the join on a materialized bkt did.

    Integer/decimal arithmetic identical to ``numeric_body``; the bucket
    arithmetic is the same double expression. Parity vs the
    numeric_body-built DuckDB oracle pins equality."""
    medb_fold = """aggregate(sort_array(collect_list(struct(bkt, bc))),
             named_struct('cum', CAST(0 AS BIGINT), 'bkt', CAST(NULL AS INT), 'before', CAST(0 AS BIGINT)),
             (acc, x) -> CASE
               WHEN acc.bkt IS NOT NULL THEN acc
               WHEN acc.cum + x.bc >= target_rank
                 THEN named_struct('cum', acc.cum + x.bc, 'bkt', x.bkt, 'before', acc.cum)
               ELSE named_struct('cum', acc.cum + x.bc, 'bkt', CAST(NULL AS INT), 'before', CAST(0 AS BIGINT)) END)"""
    return _numeric_agg(counts) + f"""
medb AS (
  -- single chain: bucket totals (grouped on the recomputed bucket id)
  -- cumulated per column by one fold → the median bucket, the cumulative
  -- count before it, and the per-column stats carried through
  SELECT column_name, n_numeric, mean_num, min_num, max_num, target_rank,
         w.bkt AS bkt, w.before AS cum_before
  FROM (
    SELECT column_name, n_numeric, mean_num, min_num, max_num, target_rank,
           {medb_fold} AS w
    FROM (
      SELECT column_name, bkt, SUM(c) AS bc,
             MIN(n_numeric) AS n_numeric, MIN(mean_num) AS mean_num,
             MIN(min_num) AS min_num, MIN(max_num) AS max_num,
             MIN(target_rank) AS target_rank
      FROM (
        SELECT cc.column_name, cc.num, cc.c, {_bucket('a', 'num')} AS bkt,
               a.n_numeric, a.mean_num, a.min_num, a.max_num, a.target_rank
        FROM {counts} AS cc JOIN agg a ON cc.column_name = a.column_name
      ) bk GROUP BY column_name, bkt
    ) bt
    GROUP BY column_name, n_numeric, mean_num, min_num, max_num, target_rank
  ) f
),
inbkt AS (
  -- cumulative counts over the median bucket's values only; the bucket id
  -- is re-derived from medb's min/max (same deterministic expression), so
  -- the counts relation is read once here instead of via a shared
  -- ``bucketed`` CTE whose input subtree Spark would inline twice
  SELECT cc.column_name, cc.num, m.n_numeric, m.mean_num, m.min_num, m.max_num,
         m.target_rank,
         m.cum_before + SUM(cc.c) OVER (
           PARTITION BY cc.column_name ORDER BY cc.num) AS cum_c
  FROM {counts} AS cc
  JOIN medb m ON cc.column_name = m.column_name AND ({_bucket('m', 'cc.num')}) = m.bkt
)
SELECT column_name, MIN(n_numeric) AS n_numeric, MIN(mean_num) AS mean_num,
       CAST(MIN(num) AS DOUBLE) AS median_num,
       MIN(min_num) AS min_num, MIN(max_num) AS max_num
FROM inbkt
WHERE cum_c >= target_rank
GROUP BY column_name
"""


for _t in ("customer", "part", "documents"):
    register(
        f"textlen_stats_{_t}",
        oracle=textlen_stats_sql(melt_sql(_t, COLUMNS[_t]), DUCKDB),
        doc=f"SURVEY §2.4 stats-of-text-length over `{_t}`",
    )(
        # the one-pass body references counts once: no materialization
        lambda spark, sf_dir, t=_t: run_over_melt(
            spark, sf_dir, t,
            lambda v: f"WITH counts AS ({len_counts_sql(v)})" + textlen_onepass_body("counts"),
        )
    )

for _t in ("customer", "lineitem"):
    register(
        f"numeric_stats_{_t}",
        oracle=numeric_stats_sql(melt_sql(_t, COLUMNS[_t]), DUCKDB),
        doc=f"SURVEY §2.4 stats-of-numerical-type over `{_t}`",
    )(
        # the stats tail references the counts relation in three CTEs and
        # Spark inlines CTEs, so the data-scale (column, num) aggregation is
        # a materialized stage
        lambda spark, sf_dir, t=_t: run_over_melt(
            spark, sf_dir, t, lambda v: "WITH " + numeric_onepass_body("__serene_numcnt"),
            stages=lambda v: [("__serene_numcnt", num_counts_sql(v, SPARK))],
        )
    )
