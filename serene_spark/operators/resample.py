"""Class-balancing resampling operators (SURVEY §2.8) — the full strategy set.

Reference: ``ClassImbalanceResampler`` up/down-samples labeled *columns* per
class with a sequential ``scala.util.Random`` stream, seed 5123219
(matcher/.../train/ClassImbalanceResampler.scala:42-184, bagging :186-379,
CapUnknownToHalf :381-392, strategy dispatch :394-416). A distributed engine
cannot reproduce a sequential RNG stream, so (documented divergence, SURVEY
§7 risk 2) the rebuild's strategies are **deterministic-cyclic**: upsampling
emits row copies by cycling each class's rows in key order until the target
count is reached; downsampling keeps the first ``target`` rows in key order;
bag membership is a pure hash of (column, bag, slot). Deterministic across
engines AND partitionings — strictly better for reproducibility than seeded
RNG, and fully oracle-checkable.

Strategies registered as oracle queries over ``customer`` (class =
c_mktsegment; for bagging, per-column class labels):

- UpsampleToMax / ResampleToMean / UpsampleToMean / ResampleToMedian /
  UpsampleToMedian (:42-114; ``resample`` both-ways :116-150, ``upsample``
  up-only :152-184). Median matches the reference exactly: middle element
  for odd class counts, integer mean of the two middles for even (:84-110).
- CapUnknownToHalf (:381-392): unknown-labeled rows capped at the known-set
  size.
- Bagging / BaggingToMax / BaggingToMean (:186-270, :333-379): per column
  ``num_bags`` bags of ``bag_size`` values sampled with replacement; the
  *ToMax/ToMean* variants rebalance the per-class bag totals first, then
  distribute bags cyclically over the class's columns.

Scale shape: every strategy is one window + one generator expression —
no driver loops, no collect; the per-class targets are O(#classes) rows
broadcast by the optimizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, SPARK, explode_seq, hex_to_int, idiv
from serene_spark.registry import register

# --- per-class up/down resampling -------------------------------------------

TGT_MAX = "tgt AS (SELECT MAX(n) AS target FROM counts)"
# Scala mean.toInt truncates (counts are positive => floor)
TGT_MEAN = (
    "tgt AS (SELECT CAST(FLOOR(SUM(n) * 1.0 / COUNT(*)) AS BIGINT) AS target FROM counts)"
)


def _tgt_median(dialect: str) -> str:
    """Reference median of class counts (:84-110): middle element when odd,
    integer mean of the two middle elements when even."""
    mid_odd = idiv(dialect, "(k + 1)", "2")
    lo = idiv(dialect, "k", "2")
    pair_avg = idiv(
        dialect,
        f"(MAX(CASE WHEN rn = {lo} THEN n END) + MAX(CASE WHEN rn = {lo} + 1 THEN n END))",
        "2",
    )
    return f"""ranked_counts AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n) AS rn, COUNT(*) OVER () AS k FROM counts
),
tgt AS (
  SELECT CAST(CASE WHEN k % 2 = 1 THEN MAX(CASE WHEN rn = {mid_odd} THEN n END)
              ELSE {pair_avg} END AS BIGINT) AS target
  FROM ranked_counts GROUP BY k
)"""


def resample_core_sql(dialect: str, target_cte: str, mode: str) -> str:
    """``mode='resample'``: up AND down to target (:116-150);
    ``mode='upsample'``: up only, larger classes untouched (:152-184).
    Cyclic upsample: row ``rn`` of an ``n``-row class contributes
    ``floor((target - rn) / n) + 1`` copies — exactly ``target`` total."""
    assert mode in ("resample", "upsample")
    copies = idiv(dialect, "(b.target - b.rn)", "b.n")
    downfilter = (
        "WHERE b.rn <= b.target OR b.n < b.target" if mode == "resample" else ""
    )
    return f"""
WITH counts AS (
  SELECT c_mktsegment AS cls, CAST(COUNT(*) AS BIGINT) AS n
  FROM customer GROUP BY c_mktsegment
),
{target_cte},
numbered AS (
  SELECT c_custkey, c_mktsegment AS cls,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn
  FROM customer
),
base AS (
  SELECT numbered.c_custkey, numbered.cls, numbered.rn, counts.n, t.target
  FROM numbered JOIN counts ON numbered.cls = counts.cls CROSS JOIN tgt t
)
SELECT c_custkey, cls, CAST(copy_idx AS BIGINT) AS copy_idx
FROM (
  SELECT b.c_custkey, b.cls,
         {explode_seq(dialect, 0, f"CASE WHEN b.n < b.target THEN {copies} ELSE 0 END")} AS copy_idx
  FROM base b
  {downfilter}
) x
"""


def upsample_to_max_sql(dialect: str) -> str:
    return resample_core_sql(dialect, TGT_MAX, "upsample")


def resample_to_mean_sql(dialect: str) -> str:
    return resample_core_sql(dialect, TGT_MEAN, "resample")


def upsample_to_mean_sql(dialect: str) -> str:
    return resample_core_sql(dialect, TGT_MEAN, "upsample")


def resample_to_median_sql(dialect: str) -> str:
    return resample_core_sql(dialect, _tgt_median(dialect), "resample")


def upsample_to_median_sql(dialect: str) -> str:
    return resample_core_sql(dialect, _tgt_median(dialect), "upsample")


# --- CapUnknownToHalf (:381-392) --------------------------------------------

# Demo labeling: two segments are "known" classes, the rest are the reserved
# unknown label (ModelTypes.scala:35) — so the unknown set outnumbers the
# known set and the cap actually bites.
_KNOWN_SEGMENTS = "('BUILDING', 'AUTOMOBILE')"


def cap_unknown_sql(dialect: str) -> str:
    return f"""
WITH labeled AS (
  SELECT c_custkey,
         CASE WHEN c_mktsegment IN {_KNOWN_SEGMENTS} THEN c_mktsegment
              ELSE 'unknown' END AS cls
  FROM customer
),
known AS (
  SELECT CAST(SUM(CASE WHEN cls <> 'unknown' THEN 1 ELSE 0 END) AS BIGINT) AS known_n
  FROM labeled
),
numbered AS (
  SELECT c_custkey, cls,
         ROW_NUMBER() OVER (
           PARTITION BY CASE WHEN cls = 'unknown' THEN 1 ELSE 0 END
           ORDER BY c_custkey
         ) AS rn
  FROM labeled
)
SELECT n.c_custkey, n.cls
FROM numbered n CROSS JOIN known k
WHERE n.cls <> 'unknown' OR n.rn <= k.known_n
"""


# --- bagging (:186-270 bag creation; :333-379 rebalanced dispatch) ----------

NUM_BAGS = 10   # reference defaults are 100/100 (README bagging section;
BAG_SIZE = 20   # TrainMlib:303-304); kept small for the checkable query —
                # the SQL is size-independent.

# Per-column class labels for the bagging rebalance (key: 2 columns, the
# rest 1 each — so ToMax/ToMean redistribution is visible).
_BAG_COL_CLASSES = (
    ("c_custkey", "key"),
    ("c_nationkey", "key"),
    ("c_name", "name"),
    ("c_acctbal", "money"),
    ("c_mktsegment", "category"),
)


def bagging_sql(
    dialect: str,
    strategy: str | None = None,
    long_rel: str | None = None,
    n_bags: int = NUM_BAGS,
    bag_size: int = BAG_SIZE,
) -> str:
    """Bagging: per column, bags of ``bag_size`` values sampled WITH
    replacement.

    Deterministic-hash variant of the reference's seeded RNG: the value for
    (column, bag, slot) is row number ``md5(column|bag|slot) % n`` of the
    column in key order — a pure function of (column, bag, slot, n), so
    reproducible on any engine and partitioning. ``strategy``:

    - ``None``: every column gets ``n_bags`` bags (plain Bagging, :276-291);
    - ``'max'`` / ``'mean'``: per-class bag totals are first rebalanced to
      the max/mean class total (BaggingToMax/BaggingToMean, :333-379), then
      distributed cyclically over the class's columns in name order —
      column ranked r of n gets ``floor((target - r)/n) + 1`` bags (0 when
      r > target), exactly ``target`` bags per class.

    ``long_rel`` overrides the source relation (any ``(column_name, value)``
    relation — the ML bagged-training path feeds arbitrary fixtures through
    here); default is the registered customer demo.
    """
    from serene_spark.catalog import COLUMNS
    from serene_spark.functions.melt import melt_sql

    if long_rel is None:
        long_rel = (
            melt_sql("customer", COLUMNS["customer"])
            if dialect == DUCKDB
            else "__serene_bag_long"
        )
    pick = hex_to_int(
        dialect,
        "substr(md5(s.column_name || '|' || CAST(s.bag AS STRING) || '|' || CAST(s.slot AS STRING)), 1, 8)",
    )
    col_class_values = ", ".join(f"('{c}', '{k}')" for c, k in _BAG_COL_CLASSES)

    if strategy is None:
        per_col = f"""per_col AS (
  SELECT DISTINCT column_name, CAST({n_bags} AS BIGINT) AS n_bags FROM numbered
)"""
    else:
        tgt = (
            "SELECT MAX(total_bags) AS target FROM class_totals"
            if strategy == "max"
            else "SELECT CAST(FLOOR(SUM(total_bags) * 1.0 / COUNT(*)) AS BIGINT) AS target FROM class_totals"
        )
        spread = idiv(dialect, "(t.target - cc.col_rank)", "cc.n_cols")
        per_col = f"""col_classes(column_name, cls) AS (VALUES {col_class_values}),
class_cols AS (
  SELECT column_name, cls,
         ROW_NUMBER() OVER (PARTITION BY cls ORDER BY column_name) AS col_rank,
         COUNT(*) OVER (PARTITION BY cls) AS n_cols
  FROM col_classes
),
class_totals AS (
  SELECT cls, CAST(COUNT(*) * {n_bags} AS BIGINT) AS total_bags FROM col_classes GROUP BY cls
),
tgt AS ({tgt}),
per_col AS (
  SELECT cc.column_name,
         CAST(CASE WHEN cc.col_rank > t.target THEN 0
                   ELSE {spread} + 1 END AS BIGINT) AS n_bags
  FROM class_cols cc CROSS JOIN tgt t
)"""

    return f"""
WITH numbered AS (
  SELECT column_name, value,
         ROW_NUMBER() OVER (PARTITION BY column_name ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY column_name) AS n
  FROM {long_rel} AS lr
),
{per_col},
slots AS (
  SELECT column_name, bag, {explode_seq(dialect, 1, str(bag_size))} AS slot
  FROM (
    SELECT column_name, {explode_seq(dialect, 1, "n_bags")} AS bag
    FROM per_col WHERE n_bags >= 1
  ) b
),
counts AS (
  SELECT column_name, MAX(n) AS n FROM numbered GROUP BY column_name
),
chosen AS (
  SELECT s.column_name, s.bag, s.slot, ({pick} % c.n) + 1 AS rn
  FROM slots s JOIN counts c ON s.column_name = c.column_name
)
SELECT c.column_name, CAST(c.bag AS BIGINT) AS bag, CAST(c.slot AS BIGINT) AS slot, n.value
FROM chosen c
JOIN numbered n ON n.column_name = c.column_name AND n.rn = c.rn
"""


def _bagging_spark(strategy: str | None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from serene_spark.catalog import load_table
        from serene_spark.functions.melt import melt

        melt(load_table(spark, sf_dir, "customer")).createOrReplaceTempView(
            "__serene_bag_long"
        )
        return spark.sql(bagging_sql(SPARK, strategy))

    return run


register("resample_upsample_max", oracle=upsample_to_max_sql(DUCKDB),
         doc="SURVEY §2.8 UpsampleToMax (deterministic-cyclic) on customer/mktsegment")(sql_runner(upsample_to_max_sql, ("customer",)))
register("resample_to_mean", oracle=resample_to_mean_sql(DUCKDB),
         doc="SURVEY §2.8 ResampleToMean: up AND down to the mean class count")(sql_runner(resample_to_mean_sql, ("customer",)))
register("resample_upsample_mean", oracle=upsample_to_mean_sql(DUCKDB),
         doc="SURVEY §2.8 UpsampleToMean: up only, larger classes untouched")(sql_runner(upsample_to_mean_sql, ("customer",)))
register("resample_downsample_median", oracle=resample_to_median_sql(DUCKDB),
         doc="SURVEY §2.8 ResampleToMedian: up AND down to the median class count "
             "(reference-exact median: middle element, or integer mean of middles)")(sql_runner(resample_to_median_sql, ("customer",)))
register("resample_upsample_median", oracle=upsample_to_median_sql(DUCKDB),
         doc="SURVEY §2.8 UpsampleToMedian: up only to the median class count")(sql_runner(upsample_to_median_sql, ("customer",)))
register("resample_cap_unknown_half", oracle=cap_unknown_sql(DUCKDB),
         doc="SURVEY §2.8 CapUnknownToHalf: unknown-labeled rows capped at the "
             "known-set size (first rows in key order)")(sql_runner(cap_unknown_sql, ("customer",)))
register("resample_bagging", oracle=bagging_sql(DUCKDB),
         doc="SURVEY §2.8 Bagging: per-column bags sampled with replacement (deterministic hash)")(_bagging_spark(None))
register("resample_bagging_max", oracle=bagging_sql(DUCKDB, "max"),
         doc="SURVEY §2.8 BaggingToMax: per-class bag totals rebalanced to the max class")(_bagging_spark("max"))
register("resample_bagging_mean", oracle=bagging_sql(DUCKDB, "mean"),
         doc="SURVEY §2.8 BaggingToMean: per-class bag totals rebalanced to the mean class")(_bagging_spark("mean"))
