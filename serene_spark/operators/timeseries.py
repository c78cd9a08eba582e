"""Time-series operators over the events stream: regular-grid gap filling
with last-observation-carried-forward (LOCF), and OHLC bucket downsampling.

Standard telemetry/finance warehouse shapes (TimescaleDB's ``time_bucket_
gapfill``/``locf``, Pandas ``resample().ffill()``/``ohlc()``) expressed as
dialect-shared SQL — no Python in the path, both oracle-exact.

Scale shapes (100 TB):

* ``ts_gapfill_locf`` — events reduce FIRST to the (user, hour) relation
  (one keyed agg — the only event-cardinality shuffle); a LEAD window over
  that small relation turns each observed hour into a gap-run, and runs
  explode map-side into the dense series carrying their value (LOCF by
  construction).  One scan, one event-sized shuffle, no grid join.  Series
  size is bounded by Σ per-user active spans, not |users| × |calendar|.
* ``ts_ohlc_daily`` — one keyed agg; open/close are arg_min/arg_max by a
  zero-padded (epoch, event_id) string key, so ties on the timestamp are
  broken deterministically on any engine (the corpus has unique micros
  timestamps today, but the operator must not depend on that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import compose_with, cte_stages, register_views, sql_runner
from serene_spark.functions.sqlgen import (
    mat,
    DUCKDB,
    SPARK,
    arg_max_by,
    arg_min_by,
    epoch_s,
    epoch_us,
    explode_seq,
    idiv,
)
from serene_spark.registry import register

HOUR_US = 3600 * 1_000_000
DAY_US = 24 * HOUR_US


def _sortkey(dialect: str) -> str:
    """Total-order tie-break key: zero-padded epoch micros then event_id.
    String compare == numeric compare because both fields are fixed-width."""
    us = epoch_us(dialect, "ts")
    # 20-char pads cover the full BIGINT range on BOTH fields: lpad
    # TRUNCATES over-width input, which would silently break the total
    # order for ids >= 10^width
    return f"lpad(CAST({us} AS STRING), 20, '0') || lpad(CAST(event_id AS STRING), 20, '0')"


def ts_gapfill_sql(dialect: str) -> str:
    """Hourly per-user series with gaps filled and values carried forward.

    Semantics: within each user's [first active hour, last active hour]
    span, every hour gets a row; ``observed`` marks real hours; ``value_locf``
    is the last value at-or-before the hour (the value of the latest event
    in the hour for observed hours — deterministic arg_max — else carried
    forward).

    Formulation: each observed hour owns the RUN of hours up to (not
    including) the user's next observed hour (LEAD), and the run explodes
    map-side carrying its value — LOCF by construction.  One reference to
    the hourly relation, so one events scan, no grid self-join, and no
    window-over-grid: a grid + LEFT JOIN + IGNORE-NULLS-window phrasing
    reads events twice because Catalyst inlines the shared CTE into both
    the span scan and the join probe.
    """
    hour = idiv(dialect, epoch_us(dialect, "ts"), str(HOUR_US))
    v_last = arg_max_by(dialect, "value", _sortkey(dialect))
    return f"""
WITH hourly AS (
  SELECT user_id, {hour} AS hour_bucket,
         {v_last} AS v_last,
         COUNT(*) AS n_events
  FROM events
  GROUP BY 1, 2
),
runs AS (
  SELECT user_id, hour_bucket, v_last, n_events,
         COALESCE(LEAD(hour_bucket) OVER (
           PARTITION BY user_id ORDER BY hour_bucket) - 1,
           hour_bucket) AS run_end
  FROM hourly
)
SELECT user_id,
       CAST(h AS BIGINT) AS hour_bucket,
       CASE WHEN h = hour_bucket THEN 1 ELSE 0 END AS observed,
       CAST(CASE WHEN h = hour_bucket THEN n_events ELSE 0 END AS BIGINT) AS n_events,
       ROUND(v_last, 6) AS value_locf
FROM (
  SELECT user_id, hour_bucket, v_last, n_events,
         {explode_seq(dialect, "hour_bucket", "run_end")} AS h
  FROM runs
) x
"""


def ts_ohlc_sql(dialect: str) -> str:
    """Daily OHLC downsample per event_type: open/close by deterministic
    first/last event in the bucket, high/low, volume."""
    day = idiv(dialect, epoch_us(dialect, "ts"), str(DAY_US))
    key = _sortkey(dialect)
    return f"""
SELECT event_type,
       CAST({day} AS BIGINT) AS day_bucket,
       ROUND({arg_min_by(dialect, "value", key)}, 6) AS open_value,
       ROUND(MAX(value), 6) AS high_value,
       ROUND(MIN(value), 6) AS low_value,
       ROUND({arg_max_by(dialect, "value", key)}, 6) AS close_value,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type, 2
"""


register(
    "ts_gapfill_locf",
    oracle=ts_gapfill_sql(DUCKDB),
    doc="hourly gap-filled per-user series with last-observation-carried-"
    "forward; grid generated per-user span (never users x calendar)",
)(sql_runner(ts_gapfill_sql, ("events",)))

register(
    "ts_ohlc_daily",
    oracle=ts_ohlc_sql(DUCKDB),
    doc="daily OHLC downsample per event type with deterministic "
    "(epoch, event_id) open/close tie-break",
)(sql_runner(ts_ohlc_sql, ("events",)))


# --- Autocorrelation + classical seasonal decomposition ---------------------

ACF_MAX_LAG = 30


def ts_acf_sql(dialect: str) -> str:
    """Sample autocorrelation of daily revenue at lags 1..{ACF_MAX_LAG} —
    the first diagnostic read before fitting any forecaster (is there
    weekly structure? how fast does memory decay?).  Uses the standard
    biased estimator r_k = sum_t (x_t - xbar)(x_(t+k) - xbar) / sum_t
    (x_t - xbar)^2 (constant denominator, Box & Jenkins convention) over
    the FULL calendar spine — empty days are real zeros of the series;
    skipping them would splice non-adjacent days together.

    Determinism: xbar from decimal-exact sums; each lag's cross products
    are 12-dp-rounded DECIMAL terms.  The lag join is a day-keyed
    equi-join of the spine to itself shifted by the exploded lag — at
    100 TB the series relation is calendar-bounded, so the K-way
    self-join never touches data-scale rows.  White-noise band
    +/- 1.96/sqrt(n) emitted per row.
    """
    return compose_with(acf_bases(dialect), acf_tail_sql(dialect))


def acf_bases(dialect: str) -> list[tuple[str, str]]:
    """Materialization bases: the orders scan happens once (per_day), the
    zero-filled calendar series derives from it once."""
    day = f"CAST(FLOOR(({epoch_s(dialect, 'o_orderdate')}) / 86400.0) AS BIGINT)"
    per_day = f"""per_day AS (
  SELECT {day} AS day, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY {day}
)"""
    series = f"""bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM per_day),
spine AS (
  SELECT {explode_seq(dialect, "(SELECT d0 FROM bounds)", "(SELECT d1 FROM bounds)")} AS day
  FROM bounds
),
series AS (
  SELECT s.day, CAST(COALESCE(p.rev, 0) AS DOUBLE) AS x
  FROM spine s LEFT JOIN per_day p ON s.day = p.day
)"""
    return [("per_day", per_day), ("series", series)]


def acf_tail_sql(dialect: str) -> str:
    return f"""
WITH xbar_rel AS (
  -- mean from decimal-exact revenue total over the spine length —
  -- a bare AVG over doubles would depend on partial-aggregation order
  -- (registry determinism rule), unlike this single division
  SELECT (SELECT CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE) FROM per_day)
         / (SELECT CAST(COUNT(*) AS DOUBLE) FROM series) AS xbar
),
mom AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(ROUND((x - (SELECT xbar FROM xbar_rel))
                        * (x - (SELECT xbar FROM xbar_rel)), 9)
                  AS DECIMAL(28,9))) AS denom
  FROM series
),
lagged AS (
  SELECT l.lag, a.x AS xa, b.x AS xb
  FROM (SELECT {explode_seq(dialect, 1, ACF_MAX_LAG)} AS lag
        FROM (SELECT 1 AS one) o) l
  JOIN series a ON 1 = 1
  JOIN series b ON b.day = a.day + l.lag
),
nums AS (
  SELECT lag,
         COUNT(*) AS n_pairs,
         SUM(CAST(ROUND((xa - (SELECT xbar FROM xbar_rel))
                        * (xb - (SELECT xbar FROM xbar_rel)), 9)
                  AS DECIMAL(28,9))) AS num
  FROM lagged GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       -- zero-variance guard: a constant series has no autocorrelation
       -- (denom = 0, and ANSI Spark RAISES on the 0/0 where DuckDB NULLs)
       CASE WHEN (SELECT denom FROM mom) = 0 THEN NULL
            ELSE ROUND(CAST(num AS DOUBLE)
                       / CAST((SELECT denom FROM mom) AS DOUBLE), 6)
            END AS acf,
       ROUND(1.96 / sqrt((SELECT CAST(n AS DOUBLE) FROM mom)), 6) AS wn_band,
       CAST(CASE WHEN (SELECT denom FROM mom) = 0 THEN NULL
                 WHEN ABS(CAST(num AS DOUBLE)
                          / CAST((SELECT denom FROM mom) AS DOUBLE))
                      > 1.96 / sqrt((SELECT CAST(n AS DOUBLE) FROM mom))
            THEN 1 ELSE 0 END AS INT) AS significant
FROM nums
ORDER BY lag
"""


def ts_decompose_sql(dialect: str) -> str:
    """Classical additive seasonal decomposition of monthly revenue
    (trend = centered 12-month moving average with half-weight end
    months, seasonal = mean-adjusted monthly index of the detrended
    series, residual = remainder) — the textbook pre-STL decomposition
    (Hyndman FPP3 ch. 3), exactly reproducible in SQL because every
    stage is a window or group mean over the MONTH-cardinality relation.

    Determinism: monthly revenue decimal-exact; the centered MA averages
    12-dp-rounded terms; seasonal indices mean-center through a scalar
    subquery so they sum to ~0 by construction.  Edge months (first/last
    6) carry NULL trend/residual — never extrapolated.
    """
    mkey = "CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)"
    return f"""
WITH per_month AS (
  SELECT {mkey} AS month_key,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
  FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
),
monthly AS (
  -- month spine: a calendar gap month enters as an explicit zero —
  -- without it the ROWS window would splice non-adjacent months into
  -- one "centered" 13-month average (the CUSUM/ACF day-spine reasoning)
  SELECT s.month_key,
         CAST(s.month_key % 12 + 1 AS INT) AS mon,
         COALESCE(p.y, CAST(0 AS DOUBLE)) AS y
  FROM (
    SELECT {explode_seq(dialect, "(SELECT MIN(month_key) FROM per_month)",
                        "(SELECT MAX(month_key) FROM per_month)")} AS month_key
    FROM (SELECT 1 AS one) o
  ) s
  LEFT JOIN per_month p ON p.month_key = s.month_key
),
trended AS (
  -- centered MA(12): average of a 13-month window with half weight on
  -- both end months = (0.5*y[-6] + y[-5..+5] + 0.5*y[+6]) / 12
  SELECT month_key, mon, y,
         CASE WHEN COUNT(*) OVER w = 13 THEN
           ROUND((SUM(ROUND(y, 6)) OVER w
                  - 0.5 * FIRST_VALUE(ROUND(y, 6)) OVER w
                  - 0.5 * LAST_VALUE(ROUND(y, 6)) OVER w) / 12, 6)
         END AS trend
  FROM monthly
  WINDOW w AS (ORDER BY month_key ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
),
detr AS (
  SELECT month_key, mon, y, trend, y - trend AS dt FROM trended
),
sidx AS (
  -- decimal-summed means (registry determinism rule: no bare double AVG)
  SELECT mon,
         ROUND(CAST(SUM(CAST(ROUND(dt, 6) AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*), 6) AS raw_idx
  FROM detr WHERE dt IS NOT NULL GROUP BY mon
),
season AS (
  SELECT mon,
         ROUND(raw_idx
               - (SELECT CAST(SUM(CAST(raw_idx AS DECIMAL(18,6))) AS DOUBLE)
                         / COUNT(*) FROM sidx), 6) AS seasonal
  FROM sidx
)
SELECT m.month_key,
       m.mon,
       ROUND(m.y, 6) AS revenue,
       t.trend,
       s.seasonal,
       ROUND(m.y - t.trend - s.seasonal, 6) AS residual
FROM monthly m
JOIN trended t ON t.month_key = m.month_key
LEFT JOIN season s ON s.mon = m.mon
ORDER BY m.month_key
"""


register(
    "ts_acf_daily",
    oracle=ts_acf_sql(DUCKDB),
    doc=f"sample autocorrelation of daily revenue, lags 1..{ACF_MAX_LAG} "
    "(Box-Jenkins constant-denominator estimator over the full calendar "
    "spine; day-keyed lag self-join, calendar-bounded), white-noise band",
)(sql_runner(acf_tail_sql, ("orders",), stages=cte_stages(acf_bases)))

register(
    "ts_decompose_monthly",
    oracle=ts_decompose_sql(DUCKDB),
    doc="classical additive decomposition of monthly revenue: centered "
    "MA(12) trend (half-weight ends), mean-centered monthly seasonal "
    "index, residual; edge months NULL, never extrapolated",
)(sql_runner(ts_decompose_sql, ("orders",)))


def trend_mk_sql(dialect: str) -> str:
    """Mann-Kendall trend test + Theil-Sen slope over daily revenue — the
    nonparametric trend pair (Mann 1945; Kendall 1975; Sen 1968): MK asks
    "is there a monotone trend at all" from pairwise orderings alone (no
    linearity or normality assumed), Sen answers "how steep" with the
    median pairwise slope — both immune to the outliers that would steer
    a least-squares line.

    All statistics derive from ONE pair relation over the calendar-
    bounded day spine (zeros included — the same series CUSUM and ACF
    read).  S and the tie correction are exact integer arithmetic on
    DECIMAL comparisons; the Sen slope is the exact count-histogram
    median of 9-dp-rounded pairwise slopes (even pair counts take the
    lower-middle value at cc >= ceil(n/2) — the engine's median
    convention).  Continuity-corrected z, flagged at |z| > 1.96.

    Scale: pairs are spine^2/2 — bounded by the CALENDAR (2.9M here),
    never data volume; a decade of days stays ~6.6M pairs, and longer
    horizons aggregate to the monthly grain first.
    """
    return compose_with(mk_bases(dialect), mk_tail_sql(dialect))


def mk_bases(dialect: str) -> list[tuple[str, str]]:
    """Materialization bases: orders scan once; the pair relation (the
    spine^2/2 workhorse read by BOTH s_stat and the Sen histogram) builds
    once instead of once per reference."""
    day = f"CAST(FLOOR(({epoch_s(dialect, 'o_orderdate')}) / 86400.0) AS BIGINT)"
    per_day = f"""per_day AS (
  SELECT {day} AS day, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY {day}
)"""
    series = f"""bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM per_day),
spine AS (
  SELECT {explode_seq(dialect, "(SELECT d0 FROM bounds)", "(SELECT d1 FROM bounds)")} AS day
  FROM bounds
),
series AS (
  SELECT s.day, COALESCE(p.rev, CAST(0 AS DECIMAL(18,2))) AS x
  FROM spine s LEFT JOIN per_day p ON s.day = p.day
)"""
    pairs = """pairs AS (
  SELECT CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn,
         ROUND(CAST(b.x - a.x AS DOUBLE) / (b.day - a.day), 9) AS slope
  FROM series a JOIN series b ON b.day > a.day
)"""
    return [("per_day", per_day), ("series", series), ("pairs", pairs)]


def mk_tail_sql(dialect: str) -> str:
    return f"""
WITH n_rel AS (SELECT COUNT(*) AS n FROM series),
s_stat AS (SELECT SUM(sgn) AS s FROM pairs),
ties AS (
  SELECT SUM(CAST(t AS DECIMAL(19,0)) * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT COUNT(*) AS t FROM series GROUP BY x) g
),
var_s AS (
  SELECT (CAST(n AS DECIMAL(18,0)) * (n - 1) * (2 * n + 5)
          - (SELECT tie_term FROM ties)) / 18.0 AS v
  FROM n_rel
),
sen AS (
  SELECT MIN(CASE WHEN cc >= ceil(np / 2.0) THEN slope END) AS sen_slope
  FROM (
    SELECT slope, SUM(c) OVER (ORDER BY slope) AS cc, SUM(c) OVER () AS np
    FROM (SELECT slope, COUNT(*) AS c FROM pairs GROUP BY slope) h
  ) t
)
SELECT CAST((SELECT n FROM n_rel) AS BIGINT) AS n_days,
       CAST((SELECT s FROM s_stat) AS BIGINT) AS mk_s,
       ROUND(CAST((SELECT v FROM var_s) AS DOUBLE), 6) AS var_s,
       ROUND(CASE WHEN (SELECT s FROM s_stat) > 0
                  THEN ((SELECT s FROM s_stat) - 1)
                       / sqrt(CAST((SELECT v FROM var_s) AS DOUBLE))
                  WHEN (SELECT s FROM s_stat) < 0
                  THEN ((SELECT s FROM s_stat) + 1)
                       / sqrt(CAST((SELECT v FROM var_s) AS DOUBLE))
                  ELSE 0.0 END, 6) AS z,
       (SELECT sen_slope FROM sen) AS sen_slope_per_day,
       CAST(CASE WHEN ABS(CASE WHEN (SELECT s FROM s_stat) > 0
                               THEN ((SELECT s FROM s_stat) - 1)
                                    / sqrt(CAST((SELECT v FROM var_s) AS DOUBLE))
                               WHEN (SELECT s FROM s_stat) < 0
                               THEN ((SELECT s FROM s_stat) + 1)
                                    / sqrt(CAST((SELECT v FROM var_s) AS DOUBLE))
                               ELSE 0.0 END) > 1.96
            THEN 1 ELSE 0 END AS INT) AS trend_detected
"""


def mk_bases_spark() -> list[tuple[str, str]]:
    """Spark-side bases: per_day + series only — the pair relation is NOT
    materialized (see :func:`mk_tail_onepass_sql`)."""
    return mk_bases(SPARK)[:2]


MK_MED_BUCKETS = 1024

_MK_PAIRS = """
    SELECT CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn,
           ROUND(CAST(b.x - a.x AS DOUBLE) / (b.day - a.day), 9) AS slope
    FROM series a JOIN series b ON b.day > a.day
"""


def mk_gagg_sql() -> str:
    """Pair pass 1: S statistic + slope min/max + pair count (one row)."""
    return f"""
SELECT CAST(SUM(sgn) AS BIGINT) AS s,
       CAST(MIN(slope) AS DOUBLE) AS mn, CAST(MAX(slope) AS DOUBLE) AS mx,
       COUNT(*) AS np
FROM ({_MK_PAIRS}) p
"""


def mk_medb_sql() -> str:
    """Pair pass 2: per-bucket slope counts (<= {MK_MED_BUCKETS} rows)
    cumulated by an array fold into the median bucket + the cumulative
    count before it (one row). Reads the materialized ``__mk_gagg`` view."""
    width = (
        f"CASE WHEN g.mx = g.mn THEN 0 "
        f"ELSE LEAST({MK_MED_BUCKETS - 1}, GREATEST(0, CAST(FLOOR("
        f"(slope - g.mn) / (g.mx - g.mn) * {MK_MED_BUCKETS}) AS INT))) END"
    )
    medb_fold = """aggregate(sort_array(collect_list(struct(bkt, bc))),
             named_struct('cum', CAST(0 AS BIGINT), 'bkt', CAST(NULL AS INT), 'before', CAST(0 AS BIGINT)),
             (acc, x) -> CASE
               WHEN acc.bkt IS NOT NULL THEN acc
               WHEN acc.cum + x.bc >= ceil(np / 2.0)
                 THEN named_struct('cum', acc.cum + x.bc, 'bkt', x.bkt, 'before', acc.cum)
               ELSE named_struct('cum', acc.cum + x.bc, 'bkt', CAST(NULL AS INT), 'before', CAST(0 AS BIGINT)) END)"""
    return f"""
SELECT f.w.bkt AS bkt, f.w.before AS cum_before, f.np, f.mn, f.mx
FROM (
  SELECT {medb_fold} AS w, np, mn, mx
  FROM (
    SELECT bkt, COUNT(*) AS bc, MIN(np) AS np, MIN(mn) AS mn, MIN(mx) AS mx
    FROM (
      SELECT {width} AS bkt, g.np, g.mn, g.mx
      FROM ({_MK_PAIRS}) p CROSS JOIN __mk_gagg g
    ) b GROUP BY bkt
  ) bt
  GROUP BY np, mn, mx
) f
"""


def mk_tail_onepass_sql() -> str:
    """Spark-only physical form of :func:`mk_tail_sql`.

    The shared tail materialized all 2.9M pair rows and paid a
    single-partition cumulative window over ~2.5M distinct slopes inside
    ``sen`` (measured 2.9 s checkpoint + 7.2 s tail at sf0.01 — the serial
    window is the scale-killer: a decade of days would sort 6.6M rows in
    one task).  Here the pair generator is re-derived (never stored) at
    exactly THREE consumers — the global agg (``mk_gagg_sql``), the bucket
    totals (``mk_medb_sql``), and the in-bucket pass below; the two tiny
    intermediates are materialized by the runner so CTE inlining cannot
    multiply the pair passes — and the global window is replaced by the
    same two-level exact median ``numeric_onepass_body`` uses: per-bucket
    totals (<= {MK_MED_BUCKETS} rows) are cumulated by an array fold, then
    one tiny window runs over the median bucket's ~1/{MK_MED_BUCKETS}
    share of slopes.  Value-identical: S and the tie term are the same
    integer sums; the Sen slope is the same
    MIN(slope | cum_c >= ceil(np/2.0)) over the same monotone cumulation."""
    width_m = (
        f"CASE WHEN m.mx = m.mn THEN 0 "
        f"ELSE LEAST({MK_MED_BUCKETS - 1}, GREATEST(0, CAST(FLOOR("
        f"(slope - m.mn) / (m.mx - m.mn) * {MK_MED_BUCKETS}) AS INT))) END"
    )
    return f"""
WITH n_rel AS (SELECT COUNT(*) AS n FROM series),
ties AS (
  SELECT SUM(CAST(t AS DECIMAL(19,0)) * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT COUNT(*) AS t FROM series GROUP BY x) g
),
var_s AS (
  SELECT (CAST(n AS DECIMAL(18,0)) * (n - 1) * (2 * n + 5)
          - (SELECT tie_term FROM ties)) / 18.0 AS v
  FROM n_rel
),
s_stat AS (SELECT s FROM __mk_gagg),
sen AS (
  SELECT MIN(CASE WHEN cc >= ceil(np / 2.0) THEN slope END) AS sen_slope
  FROM (
    SELECT slope, np,
           cum_before + SUM(c) OVER (ORDER BY slope) AS cc
    FROM (
      SELECT slope, COUNT(*) AS c, MIN(m.np) AS np,
             MIN(m.cum_before) AS cum_before
      FROM ({_MK_PAIRS}) p JOIN __mk_medb m ON ({width_m}) = m.bkt
      GROUP BY slope
    ) h
  ) t
)
SELECT CAST((SELECT n FROM n_rel) AS BIGINT) AS n_days,
       CAST((SELECT s FROM s_stat) AS BIGINT) AS mk_s,
       ROUND(CAST((SELECT v FROM var_s) AS DOUBLE), 6) AS var_s,
       ROUND(CASE WHEN (SELECT s FROM s_stat) > 0
                  THEN ((SELECT s FROM s_stat) - 1)
                       / sqrt(CAST((SELECT v FROM var_s) AS DOUBLE))
                  WHEN (SELECT s FROM s_stat) < 0
                  THEN ((SELECT s FROM s_stat) + 1)
                       / sqrt(CAST((SELECT v FROM var_s) AS DOUBLE))
                  ELSE 0.0 END, 6) AS z,
       (SELECT sen_slope FROM sen) AS sen_slope_per_day,
       CAST(CASE WHEN ABS(CASE WHEN (SELECT s FROM s_stat) > 0
                               THEN ((SELECT s FROM s_stat) - 1)
                                    / sqrt(CAST((SELECT v FROM var_s) AS DOUBLE))
                               WHEN (SELECT s FROM s_stat) < 0
                               THEN ((SELECT s FROM s_stat) + 1)
                                    / sqrt(CAST((SELECT v FROM var_s) AS DOUBLE))
                               ELSE 0.0 END) > 1.96
            THEN 1 ELSE 0 END AS INT) AS trend_detected
"""


def _mk_spark_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged runner. Two layout decisions, both measured at sf0.01:

    - the checkpointed series is SPREAD: the spine is generated by one
      sequence() task, so every pair-generating self-join over it would
      otherwise stream from a single partition (serial 2.9M-row nested-loop
      output — 2.9-3.9 s per pass serial vs 0.5 s spread);
    - ``gagg`` and ``medb`` (one row each) are materialized: they sit under
      ``sen`` and each other, and CTE inlining would re-derive one extra
      pair pass per reference (measured 8.4 s tail -> 3 passes total).
    """
    from serene_spark.functions.melt import spread
    from serene_spark.materialize import materialize

    register_views(spark, sf_dir, ("orders",))
    for view, body in mk_bases_spark():
        df = spark.sql(f"WITH {body} SELECT * FROM {view}")
        if view == "series":
            df = spread(df)
        materialize(df).createOrReplaceTempView(view)
    materialize(spark.sql(mk_gagg_sql())).createOrReplaceTempView("__mk_gagg")
    materialize(spark.sql(mk_medb_sql())).createOrReplaceTempView("__mk_medb")
    return spark.sql(mk_tail_onepass_sql())


register(
    "trend_mann_kendall",
    oracle=trend_mk_sql(DUCKDB),
    doc="Mann-Kendall monotone-trend test + Theil-Sen median slope over "
    "daily revenue: exact integer S with tie-corrected variance, "
    "histogram-median pairwise slope — calendar-bounded pair relation, "
    "outlier-immune by construction",
)(_mk_spark_run)


CCF_MAX_LAG = 24  # hours
CCF_X_TYPE = "view"
CCF_Y_TYPE = "purchase"


def ccf_bases(dialect: str) -> list[tuple[str, str]]:
    """One events scan to hourly (view, purchase) counts; zero-filled over
    the full hour spine (empty hours are real zeros — skipping them would
    splice non-adjacent hours and fabricate correlation)."""
    hour = idiv(dialect, epoch_s(dialect, "ts"), "3600")
    per_hour = f"""per_hour AS (
  SELECT {hour} AS hr,
         SUM(CASE WHEN event_type = '{CCF_X_TYPE}' THEN 1 ELSE 0 END) AS nx,
         SUM(CASE WHEN event_type = '{CCF_Y_TYPE}' THEN 1 ELSE 0 END) AS ny
  FROM events
  WHERE event_type IN ('{CCF_X_TYPE}', '{CCF_Y_TYPE}')
  GROUP BY 1
)"""
    series = f"""bounds AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM per_hour),
hspine AS (
  SELECT {explode_seq(dialect, "(SELECT h0 FROM bounds)", "(SELECT h1 FROM bounds)")} AS hr
  FROM bounds
),
series AS (
  SELECT s.hr,
         CAST(COALESCE(p.nx, 0) AS DOUBLE) AS x,
         CAST(COALESCE(p.ny, 0) AS DOUBLE) AS y
  FROM hspine s LEFT JOIN per_hour p ON s.hr = p.hr
)"""
    return [("per_hour", per_hour), ("series", series)]


def ccf_tail_sql(dialect: str) -> str:
    """Cross-correlation r_xy(k) = sum (x_t - xbar)(y_(t+k) - ybar) /
    sqrt(sum (x-xbar)^2 * sum (y-ybar)^2) at lags 0..CCF_MAX_LAG (the
    Box-Jenkins full-series-moment convention, like ts_acf).  The peak
    lag answers 'by how many hours does x lead y' at the aggregate level
    — the population-level complement of the per-user
    conversion_lag_quantiles.  12-dp decimal term sums; the lag join is
    hour-keyed over the calendar-bounded series."""
    return f"""
WITH mom AS (
  SELECT COUNT(*) AS n,
         (SELECT CAST(SUM(CAST(nx AS DECIMAL(28,0))) AS DOUBLE) FROM per_hour)
           / COUNT(*) AS xbar,
         (SELECT CAST(SUM(CAST(ny AS DECIMAL(28,0))) AS DOUBLE) FROM per_hour)
           / COUNT(*) AS ybar
  FROM series
),
denoms AS (
  SELECT SUM(CAST(ROUND((x - (SELECT xbar FROM mom))
                        * (x - (SELECT xbar FROM mom)), 9)
                  AS DECIMAL(28,9))) AS dx,
         SUM(CAST(ROUND((y - (SELECT ybar FROM mom))
                        * (y - (SELECT ybar FROM mom)), 9)
                  AS DECIMAL(28,9))) AS dy
  FROM series
),
lagged AS (
  SELECT l.lag, a.x AS xa, b.y AS yb
  FROM (SELECT {explode_seq(dialect, 0, "CCF_MAX_LAG_N")} AS lag
        FROM (SELECT 1 AS one) o) l
  JOIN series a ON 1 = 1
  JOIN series b ON b.hr = a.hr + l.lag
),
nums AS (
  SELECT lag, COUNT(*) AS n_pairs,
         SUM(CAST(ROUND((xa - (SELECT xbar FROM mom))
                        * (yb - (SELECT ybar FROM mom)), 9)
                  AS DECIMAL(28,9))) AS num
  FROM lagged GROUP BY lag
),
scored AS (
  SELECT lag, n_pairs,
         CASE WHEN (SELECT dx FROM denoms) = 0 OR (SELECT dy FROM denoms) = 0
              THEN NULL
              ELSE ROUND(CAST(num AS DOUBLE)
                         / sqrt(CAST((SELECT dx FROM denoms) AS DOUBLE)
                                * CAST((SELECT dy FROM denoms) AS DOUBLE)), 6)
              END AS ccf
  FROM nums
)
SELECT CAST(lag AS INT) AS lag_hours,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       ccf,
       CAST(CASE WHEN ccf = (SELECT MAX(ccf) FROM scored) THEN 1 ELSE 0 END AS INT)
         AS is_peak
FROM scored
ORDER BY lag_hours
""".replace("CCF_MAX_LAG_N", str(CCF_MAX_LAG))


def ccf_sql(dialect: str) -> str:
    return compose_with(ccf_bases(dialect), ccf_tail_sql(dialect))


register(
    "ccf_view_purchase",
    oracle=ccf_sql(DUCKDB),
    doc=f"cross-correlation of hourly {CCF_X_TYPE} vs {CCF_Y_TYPE} volume "
    f"at lags 0..{CCF_MAX_LAG}h with the peak-lag flag — the aggregate "
    "lead-lag complement of conversion_lag_quantiles",
)(sql_runner(ccf_tail_sql, ("events",), stages=cte_stages(ccf_bases)))


# ------------------------------------------------- AR(2) via Yule-Walker


def ar2_tail_sql(dialect: str) -> str:
    """AR(2) fitted by the Yule-Walker equations over the SAME zero-filled
    daily-revenue spine as the ACF (acf_bases splice — one definition of
    the series).  Biased autocovariances c0..c2 (divide by n, the YW
    convention that keeps the system positive-definite) from 9-dp-
    quantized decimal product sums; then the closed 2x2 solve

        phi1 = r1(1 - r2) / (1 - r1^2),   phi2 = (r2 - r1^2) / (1 - r1^2)

    with innovation variance sigma2 = c0(1 - phi1 r1 - phi2 r2) and the
    stationarity-triangle flags.  Everything after the spine is
    constant-size closed-form arithmetic on exact moments."""
    xbar = "(SELECT xbar FROM xbar_rel)"
    return f"""
WITH xbar_rel AS (
  SELECT (SELECT CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE) FROM per_day)
         / (SELECT CAST(COUNT(*) AS DOUBLE) FROM series) AS xbar
),
c0_rel AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(ROUND((x - {xbar}) * (x - {xbar}), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS css
  FROM series
),
lagged AS (
  SELECT l.lag,
         CAST(SUM(CAST(ROUND((a.x - {xbar}) * (b.x - {xbar}), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS num
  FROM (SELECT {explode_seq(dialect, 1, 2)} AS lag FROM (SELECT 1 AS one) o) l
  JOIN series a ON 1 = 1
  JOIN series b ON b.day = a.day + l.lag
  GROUP BY l.lag
),
mom AS (
  SELECT (SELECT n FROM c0_rel) AS n,
         (SELECT css FROM c0_rel) / (SELECT n FROM c0_rel) AS c0,
         (SELECT num FROM lagged WHERE lag = 1) / (SELECT n FROM c0_rel) AS c1,
         (SELECT num FROM lagged WHERE lag = 2) / (SELECT n FROM c0_rel) AS c2
),
yw AS (
  SELECT n, c0, c1 / c0 AS r1, c2 / c0 AS r2,
         (c1 / c0) * (1 - c2 / c0) / (1 - (c1 / c0) * (c1 / c0)) AS phi1,
         (c2 / c0 - (c1 / c0) * (c1 / c0))
           / (1 - (c1 / c0) * (c1 / c0)) AS phi2
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_days,
       ROUND(c0, 6) AS c0,
       ROUND(r1, 6) AS r1,
       ROUND(r2, 6) AS r2,
       ROUND(phi1, 6) AS phi1,
       ROUND(phi2, 6) AS phi2,
       ROUND(c0 * (1 - phi1 * r1 - phi2 * r2), 6) AS sigma2,
       CAST(CASE WHEN phi1 + phi2 < 1 AND phi2 - phi1 < 1
                 AND ABS(phi2) < 1 THEN 1 ELSE 0 END AS INT) AS stationary
FROM yw
"""


def ar2_sql(dialect: str) -> str:
    return compose_with(acf_bases(dialect), ar2_tail_sql(dialect))


register(
    "ar2_yule_walker",
    oracle=ar2_sql(DUCKDB),
    doc="AR(2) daily-revenue model by Yule-Walker: biased autocovariances "
    "c0..c2 as 9-dp-quantized decimal sums over the ACF's spliced day "
    "spine, closed-form phi1/phi2/sigma2 + stationarity-triangle flag",
)(sql_runner(ar2_tail_sql, ("orders",), stages=cte_stages(acf_bases)))


# --- single-frequency periodogram ---------------------------------------------

PGRAM_FREQS = (3.5, 7.0, 11.0, 30.0)  # candidate periods in days


def periodogram_sql(dialect: str) -> str:
    """Discrete periodogram at a handful of CANDIDATE PERIODS over the
    mean-centered daily order-revenue series: per period T, the power
    I(f) = (Σx·cos(2πt/T))² + (Σx·sin(2πt/T))², i.e. one Goertzel-style
    projection per frequency — each is a plain SUM over the day series,
    so seasonality detection costs one scan regardless of how many
    candidate periods are probed (the FFT's O(n log n) buys ALL
    frequencies, which a seasonality CHECK does not need).  Emits each
    period's power and its share of the probed total: the weekly
    period's dominance is the readout (the DOW-seasonality operator
    shows the same cycle in event space).  Trig inputs are exact integer
    day indices; per-day terms are 9-dp-quantized decimal sums.

    Scale: one orders scan -> day agg -> |periods| x |days| map-only
    projection terms -> constant-size power table."""
    day = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    t_rows = " UNION ALL ".join(
        f"SELECT CAST({t} AS DOUBLE) AS period" for t in PGRAM_FREQS
    )
    return f"""
WITH daily AS (
  SELECT {day} AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY {day}
),
mu AS {mat(dialect)}(
  SELECT CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS m, MIN(d) AS d0 FROM daily
),
periods AS ({t_rows}),
proj AS (
  SELECT p.period,
         SUM(CAST(ROUND((CAST(y.rev AS DOUBLE) - mu.m)
                        * COS(2 * PI() * (y.d - mu.d0) / p.period), 9)
             AS DECIMAL(28,9))) AS c,
         SUM(CAST(ROUND((CAST(y.rev AS DOUBLE) - mu.m)
                        * SIN(2 * PI() * (y.d - mu.d0) / p.period), 9)
             AS DECIMAL(28,9))) AS s,
         COUNT(*) AS n
  FROM daily y JOIN mu ON 1 = 1 JOIN periods p ON 1 = 1
  GROUP BY p.period
),
power AS (
  SELECT period, n,
         (CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
          + CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / n AS pw
  FROM proj
),
tot AS (
  SELECT SUM(CAST(ROUND(pw, 6) AS DECIMAL(28,6))) AS pw_tot FROM power
)
SELECT ROUND(CAST(p.period AS DOUBLE), 1) AS period_days,
       CAST(p.n AS BIGINT) AS n_days,
       ROUND(p.pw, 2) AS power,
       ROUND(p.pw / CAST(t.pw_tot AS DOUBLE), 6) AS power_share
FROM power p JOIN tot t ON 1 = 1
ORDER BY period_days
"""


register(
    "periodogram_candidate_periods",
    oracle=periodogram_sql(DUCKDB),
    doc="Goertzel-style single-frequency periodogram at candidate periods "
    "(3.5/7/11/30 days) over mean-centered daily revenue: one scan, one "
    "projection sum per period — seasonality checked without an FFT",
)(sql_runner(periodogram_sql, ("orders",)))


# --- Hurst exponent (rescaled range) -----------------------------------------

HURST_SIZES = (16, 32, 64, 128)


def hurst_sql(dialect: str) -> str:
    """Hurst exponent of daily revenue by rescaled-range analysis (Hurst
    1951; Mandelbrot-Wallis): for each block size T, partition the
    zero-filled day series into full blocks, compute each block's
    R (range of the cumulative deviations from the block mean) over
    S (population std), average R/S per size, and read H off the
    log-log slope across sizes — H≈0.5 is memoryless, H>0.5 persistent
    trending, H<0.5 mean-reverting.  All block machinery is windows over
    the DAY-cardinality relation; the slope is the closed-form simple
    regression over |sizes| points with 9-dp-quantized decimal sums.
    Partial trailing blocks are EXCLUDED (the standard convention —
    mixing block lengths biases R/S).

    Scale: one orders scan -> day agg; everything after is calendar-
    bounded."""
    day = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    size_rows = " UNION ALL ".join(f"SELECT {t} AS t" for t in HURST_SIZES)
    return f"""
WITH raw AS (
  SELECT {day} AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY {day}
),
bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM raw),
spine AS (
  SELECT {explode_seq(dialect, "(SELECT d0 FROM bounds)", "(SELECT d1 FROM bounds)")} AS d
  FROM bounds
),
series AS (
  SELECT s.d - b.d0 AS i, CAST(COALESCE(r.rev, 0) AS DOUBLE) AS x
  FROM spine s LEFT JOIN raw r ON s.d = r.d JOIN bounds b ON 1 = 1
),
sizes AS ({size_rows}),
blocked AS (
  SELECT z.t, {idiv(dialect, "s.i", "z.t")} AS blk, s.i, s.x
  FROM series s JOIN sizes z ON 1 = 1
),
blk_stats AS (
  SELECT t, blk, COUNT(*) AS n, AVG(x) AS m,
         SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS q,
         SUM(CAST(ROUND(x, 6) AS DECIMAL(28,6))) AS s
  FROM blocked GROUP BY t, blk
),
full_blocks AS (
  SELECT t, blk,
         CAST(s AS DOUBLE) / n AS m,
         sqrt(GREATEST(0.0, (CAST(q AS DOUBLE)
              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n)) AS sd
  FROM blk_stats WHERE n = t
),
cumdev AS (
  SELECT b.t, b.blk, f.sd,
         SUM(CAST(ROUND(b.x - f.m, 9) AS DECIMAL(28,9)))
           OVER (PARTITION BY b.t, b.blk ORDER BY b.i) AS cd
  FROM blocked b JOIN full_blocks f ON b.t = f.t AND b.blk = f.blk
),
rs AS (
  SELECT t, blk, MAX(sd) AS sd,
         CAST(MAX(cd) AS DOUBLE) - CAST(MIN(cd) AS DOUBLE) AS r
  FROM cumdev GROUP BY t, blk
),
per_size AS (
  SELECT t, COUNT(*) AS n_blocks,
         CAST(SUM(CAST(ROUND(r / sd, 9) AS DECIMAL(28,9))) AS DOUBLE)
           / COUNT(*) AS mean_rs
  FROM rs WHERE sd > 0 GROUP BY t
),
fit AS (
  SELECT COUNT(*) AS k,
         SUM(CAST(ROUND(LN(CAST(t AS DOUBLE)), 9) AS DECIMAL(18,9))) AS sx,
         SUM(CAST(ROUND(LN(mean_rs), 9) AS DECIMAL(18,9))) AS sy,
         SUM(CAST(ROUND(LN(CAST(t AS DOUBLE)) * LN(mean_rs), 9)
             AS DECIMAL(18,9))) AS sxy,
         SUM(CAST(ROUND(LN(CAST(t AS DOUBLE)) * LN(CAST(t AS DOUBLE)), 9)
             AS DECIMAL(18,9))) AS sxx
  FROM per_size
)
SELECT p.t AS block_size,
       CAST(p.n_blocks AS BIGINT) AS n_blocks,
       ROUND(p.mean_rs, 6) AS mean_rescaled_range,
       ROUND((f.k * CAST(f.sxy AS DOUBLE)
              - CAST(f.sx AS DOUBLE) * CAST(f.sy AS DOUBLE))
             / (f.k * CAST(f.sxx AS DOUBLE)
                - CAST(f.sx AS DOUBLE) * CAST(f.sx AS DOUBLE)), 6)
         AS hurst_exponent
FROM per_size p JOIN fit f ON 1 = 1
ORDER BY block_size
"""


register(
    "hurst_daily_revenue",
    oracle=hurst_sql(DUCKDB),
    doc="Hurst exponent by rescaled-range analysis over block sizes "
    "16/32/64/128 days (full blocks only): cumulative-deviation ranges "
    "over population std per block, log-log closed-form slope across "
    "sizes; H~0.5 memoryless, >0.5 persistent",
)(sql_runner(hurst_sql, ("orders",)))


# --- sample entropy -----------------------------------------------------------

SAMPEN_M = 2
SAMPEN_R_FRAC = 0.2


def sampen_sql(dialect: str) -> str:
    """Sample entropy of daily revenue (Richman & Moorman 2000): the
    negative log conditional probability that two sequences similar for
    m={SAMPEN_M} points (Chebyshev distance <= r = 0.2*std) remain similar
    at m+1.  Template pairs come from ONE self-join of the day series with
    its LEAD columns — both the m and m+1 match counts fall out of the
    same pass via CASE arms, i<j so each unordered pair counts once and
    self-matches are excluded by construction.  The join is quadratic in
    the DAY count — calendar-bounded (~2.4k days => ~3M pairs), never
    data-scale, and stated.  The tolerance r derives from the exact
    decimal moment std.

    Regular series (weekly cycles) produce LOW SampEn; white noise
    high — the periodogram's nonlinear cousin."""
    day = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    return f"""
WITH raw AS (
  SELECT {day} AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY {day}
),
bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM raw),
spine AS (
  SELECT {explode_seq(dialect, "(SELECT d0 FROM bounds)", "(SELECT d1 FROM bounds)")} AS d
  FROM bounds
),
series AS (
  SELECT s.d, CAST(COALESCE(r.rev, 0) AS DOUBLE) AS x
  FROM spine s LEFT JOIN raw r ON s.d = r.d
),
mom AS {mat(dialect)}(
  SELECT COUNT(*) AS n,
         SUM(CAST(ROUND(x, 6) AS DECIMAL(28,6))) AS s,
         SUM(CAST(ROUND(x * x, 6) AS DECIMAL(38,6))) AS q
  FROM series
),
rr AS {mat(dialect)}(
  SELECT {SAMPEN_R_FRAC} * sqrt((CAST(q AS DOUBLE)
           - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n) AS r
  FROM mom
),
templ AS {mat(dialect)}(
  SELECT d, x,
         LEAD(x, 1) OVER (ORDER BY d) AS x1,
         LEAD(x, 2) OVER (ORDER BY d) AS x2
  FROM series
),
pairs AS (
  -- Richman-Moorman restrict BOTH the m (B) and m+1 (A) counts to the
  -- N-m templates that have a continuation, so the x2-NOT-NULL filter
  -- sits in the WHERE (not just the A arm): otherwise the final
  -- continuation-less template inflates B and deflates SampEn
  SELECT
    SUM(CASE WHEN GREATEST(ABS(a.x - b.x), ABS(a.x1 - b.x1)) <= rr.r
        THEN 1 ELSE 0 END) AS b_count,
    SUM(CASE WHEN GREATEST(ABS(a.x - b.x), ABS(a.x1 - b.x1),
                           ABS(a.x2 - b.x2)) <= rr.r
        THEN 1 ELSE 0 END) AS a_count
  FROM templ a
  JOIN templ b ON a.d < b.d
  JOIN rr ON 1 = 1
  WHERE a.x1 IS NOT NULL AND b.x1 IS NOT NULL
    AND a.x2 IS NOT NULL AND b.x2 IS NOT NULL
)
SELECT CAST((SELECT n FROM mom) AS BIGINT) AS n_days,
       ROUND((SELECT r FROM rr), 6) AS tolerance_r,
       CAST(b_count AS BIGINT) AS m_matches,
       CAST(a_count AS BIGINT) AS m1_matches,
       ROUND(CASE WHEN a_count > 0 AND b_count > 0
                  THEN -LN(CAST(a_count AS DOUBLE) / b_count) END, 6)
         AS sample_entropy
FROM pairs
"""


register(
    "sample_entropy_daily",
    oracle=sampen_sql(DUCKDB),
    doc=f"Sample entropy (m={SAMPEN_M}, r=0.2*std) of daily revenue: one "
    "self-join of the LEAD-templated day series yields both m and m+1 "
    "match counts; calendar-bounded quadratic, stated; degenerate zero-"
    "match case yields NULL",
)(sql_runner(sampen_sql, ("orders",)))
