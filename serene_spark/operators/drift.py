"""Distribution-drift detection between two corpus snapshots: the
Kolmogorov–Smirnov statistic and the Population Stability Index per
event_type over ``value`` — the monitoring gate an ML pipeline runs before
trusting a model trained on the old snapshot (feature drift → retrain).

Both compare the "reference" slice (events before SPLIT_TS — the training
window) against the "current" slice (at/after).

Numeric determinism:

* KS is computed EXACTLY in integers: D = max |cum_a·n_b − cum_b·n_a| /
  (n_a·n_b) — the maximization runs over integer cross-products, so no
  float comparison can reorder it; the single division happens once at the
  end.
* PSI's per-bin ``(p_a − p_b)·ln(p_a/p_b)`` terms are rounded to 9 dp and
  summed as DECIMAL(18,9) (engine convention for log sums), with +0.5
  Laplace smoothing so empty bins stay finite.

Scale shape (100 TB): ONE scan — each side is a CASE arm, never two reads;
the event-cardinality reduce keys on (type, value) (high cardinality);
the CDF window and the 10-bin PSI run over the tiny distinct-value /
bin relations.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_s, explode_seq
from serene_spark.registry import register

from serene_spark.operators.matview import SPLIT_TS  # shared snapshot boundary

PSI_BINS = 10
# KS flags at the SIZE-SCALED critical value c(alpha)*sqrt((na+nb)/(na*nb)),
# not a fixed D: the statistic's null distribution shrinks as 1/sqrt(n), so a
# constant threshold flags pure sampling noise on small slices and misses
# real shifts on large ones.  c = 1.95 ~ alpha = 0.001.
KS_CRIT_C = "1.95"
PSI_THRESHOLD = 0.2  # the conventional "significant shift" PSI level

_SIDE_A = f"ts < TIMESTAMP '{SPLIT_TS}'"


def _counts_rel(dialect: str) -> str:
    """(event_type, value, count_ref, count_cur) — one scan, both sides."""
    return f"""
counts AS (
  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
         SUM(CASE WHEN {_SIDE_A} THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN {_SIDE_A} THEN 0 ELSE 1 END) AS cb
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, CAST(value AS DECIMAL(18,2))
)"""


def drift_ks_sql(dialect: str) -> str:
    return f"""
WITH {_counts_rel(dialect)},
cum AS (
  SELECT event_type,
         SUM(ca) OVER (PARTITION BY event_type ORDER BY v) AS cum_a,
         SUM(cb) OVER (PARTITION BY event_type ORDER BY v) AS cum_b,
         SUM(ca) OVER (PARTITION BY event_type) AS na,
         SUM(cb) OVER (PARTITION BY event_type) AS nb
  FROM counts
),
d AS (
  -- DECIMAL(18,0) factors: BIGINT*BIGINT cross-products would silently
  -- wrap once a side passes ~3e9 rows per type; 18+18+1 = 37 <= 38 keeps
  -- the decimal product exact to 1e18-row sides
  SELECT event_type, na, nb,
         MAX(abs(CAST(cum_a AS DECIMAL(18,0)) * CAST(nb AS DECIMAL(18,0))
                 - CAST(cum_b AS DECIMAL(18,0)) * CAST(na AS DECIMAL(18,0)))) AS d_scaled
  FROM cum GROUP BY event_type, na, nb
)
SELECT event_type,
       CAST(na AS BIGINT) AS n_ref,
       CAST(nb AS BIGINT) AS n_cur,
       -- a type on only ONE side of the split is definitional drift
       -- (sup-gap D = 1 against an empty distribution); without the guard
       -- the 0-denominator NULLs would fall through CASE to drifted = 0
       CASE WHEN na = 0 OR nb = 0 THEN 1.0
            ELSE ROUND(CAST(d_scaled AS DOUBLE)
                       / (CAST(na AS DOUBLE) * nb), 6) END AS ks_stat,
       CASE WHEN na = 0 OR nb = 0 THEN NULL
            ELSE ROUND({KS_CRIT_C} * sqrt((na + nb) / (CAST(na AS DOUBLE) * nb)), 6)
            END AS ks_crit,
       CASE WHEN na = 0 OR nb = 0 THEN 1
            WHEN CAST(d_scaled AS DOUBLE) / (CAST(na AS DOUBLE) * nb)
                 >= {KS_CRIT_C} * sqrt((na + nb) / (CAST(na AS DOUBLE) * nb))
            THEN 1 ELSE 0 END AS drifted
FROM d
"""


def drift_psi_sql(dialect: str) -> str:
    """PSI over {PSI_BINS} equi-width bins spanning each type's global
    [min, max] (both sides share the binning — drift must come from mass
    movement, not bin-edge changes)."""
    return f"""
WITH {_counts_rel(dialect)},
edges AS (
  SELECT event_type, MIN(v) AS lo, MAX(v) AS hi,
         SUM(ca) AS na, SUM(cb) AS nb
  FROM counts GROUP BY event_type
),
binned AS (
  SELECT c.event_type,
         LEAST({PSI_BINS} - 1, CAST(FLOOR((c.v - e.lo) / ((e.hi - e.lo + 0.01) / {PSI_BINS})) AS INT)) AS bin_id,
         SUM(c.ca) AS ca, SUM(c.cb) AS cb
  FROM counts c JOIN edges e ON c.event_type = e.event_type
  GROUP BY c.event_type, 2
),
spine AS (
  -- every (type, bin) — a bin empty on BOTH sides still carries a small
  -- smoothed term (the denominators differ), so it must not vanish from
  -- the sum just because no value hashed into it
  SELECT e.event_type, e.na, e.nb, {explode_seq(dialect, 0, PSI_BINS - 1)} AS bin_id
  FROM edges e
),
terms AS (
  SELECT s.event_type,
         CAST(ROUND(
           ((COALESCE(b.ca, 0) + 0.5) / (s.na + {PSI_BINS} * 0.5)
            - (COALESCE(b.cb, 0) + 0.5) / (s.nb + {PSI_BINS} * 0.5))
           * LN(((COALESCE(b.ca, 0) + 0.5) / (s.na + {PSI_BINS} * 0.5))
                / ((COALESCE(b.cb, 0) + 0.5) / (s.nb + {PSI_BINS} * 0.5))), 9)
         AS DECIMAL(18,9)) AS term
  FROM spine s
  LEFT JOIN binned b ON s.event_type = b.event_type AND s.bin_id = b.bin_id
)
SELECT event_type,
       CAST(ROUND(SUM(term), 6) AS DOUBLE) AS psi,
       CASE WHEN SUM(term) >= {PSI_THRESHOLD} THEN 1 ELSE 0 END AS drifted
FROM terms
GROUP BY event_type
"""


def cusum_sql(dialect: str) -> str:
    """CUSUM changepoint detection over daily order revenue — the
    complement of KS/PSI: those compare two PRE-DECLARED windows; CUSUM
    LOCATES the break.  Standardized deviations from the series mean are
    cumulatively summed; because the z's sum to zero by construction the
    path is a bridge, max |S_d| / sqrt(n) converges to the Kolmogorov
    sup-of-Brownian-bridge law, and the 1.358 critical value (alpha=0.05)
    applies (Page 1954 CUSUM; MacNeill 1974 for the bridge limit).  The
    argmax day IS the change-point estimate.

    Determinism: daily revenue in exact DECIMAL; mean/std derive from
    decimal-exact (sum, sum-of-squares) so both engines see identical
    doubles; z terms are rounded to 12 dp and bridge-summed in DECIMAL
    over the ordered day window; argmax tie-breaks on earliest day.
    Empty days enter as zero-revenue rows (generated spine) — omitting
    them would shift every standardization moment.

    Scale shape (100 TB): orders reduce to the calendar-bounded per-day
    relation in one keyed agg; every window after that is spine-sized.
    sigma = 0 (constant series) guards to a zero path, no detection.
    """
    return compose_with(cusum_bases(dialect), cusum_tail_sql(dialect))


def cusum_bases(dialect: str) -> list[tuple[str, str]]:
    """Materialization bases: one orders scan (per_day), one zero-filled
    series — the tail's moment/standardize/path/peak chain references the
    series repeatedly and Catalyst would otherwise re-derive the scan per
    reference (70 measured)."""
    day = f"CAST(FLOOR(({epoch_s(dialect, 'o_orderdate')}) / 86400.0) AS BIGINT)"
    per_day = f"""per_day AS (
  SELECT {day} AS day, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY {day}
)"""
    series = f"""bounds AS (
  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM per_day
),
spine AS (
  SELECT {explode_seq(dialect, "(SELECT d0 FROM bounds)", "(SELECT d1 FROM bounds)")} AS day
  FROM bounds
),
series AS (
  SELECT s.day, COALESCE(p.rev, CAST(0 AS DECIMAL(18,2))) AS rev
  FROM spine s LEFT JOIN per_day p ON s.day = p.day
)"""
    return [("per_day", per_day), ("series", series)]


def cusum_tail_sql(dialect: str) -> str:
    return f"""
WITH mom AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(rev AS DECIMAL(28,2))) AS s1,
         SUM(CAST(rev AS DECIMAL(28,2)) * rev) AS s2
  FROM series
),
stdz AS (
  SELECT day, rev,
         CASE WHEN (SELECT CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n FROM mom) <= 0
              THEN 0.0
              ELSE ROUND((CAST(rev AS DOUBLE) - (SELECT CAST(s1 AS DOUBLE) / n FROM mom))
                         / sqrt((SELECT (CAST(s2 AS DOUBLE)
                                         - CAST(s1 AS DOUBLE) * s1 / n) / n FROM mom)), 12)
              END AS z
  FROM series
),
path AS (
  SELECT day, rev,
         SUM(CAST(z AS DECIMAL(28,12))) OVER (ORDER BY day ASC) AS s_d
  FROM stdz
),
peak AS (
  SELECT day AS cp_day, abs_s FROM (
    SELECT day, ABS(CAST(s_d AS DOUBLE)) AS abs_s,
           ROW_NUMBER() OVER (ORDER BY ABS(CAST(s_d AS DOUBLE)) DESC, day ASC) AS rn
    FROM path
  ) r WHERE rn = 1
)
SELECT CAST(day AS BIGINT) AS epoch_day,
       CAST(rev AS DOUBLE) AS revenue,
       ROUND(CAST(s_d AS DOUBLE), 6) AS cusum,
       CASE WHEN day = (SELECT cp_day FROM peak) THEN 1 ELSE 0 END AS is_changepoint,
       ROUND((SELECT abs_s FROM peak)
             / sqrt((SELECT CAST(n AS DOUBLE) FROM mom)), 6) AS bridge_stat,
       CASE WHEN (SELECT abs_s FROM peak)
                 / sqrt((SELECT CAST(n AS DOUBLE) FROM mom)) > 1.358
            THEN 1 ELSE 0 END AS shift_detected
FROM path
ORDER BY day
"""


register(
    "drift_ks_events",
    oracle=drift_ks_sql(DUCKDB),
    doc="Kolmogorov-Smirnov drift statistic per event type between the "
    "training window and current slice — integer-exact maximization",
)(sql_runner(drift_ks_sql, ("events",)))

register(
    "cusum_daily_revenue",
    oracle=cusum_sql(DUCKDB),
    doc="CUSUM changepoint over daily revenue: standardized bridge path "
    "from decimal-exact moments, argmax day = change-point estimate, "
    "Kolmogorov 1.358 critical value on max|S|/sqrt(n)",
)(sql_runner(cusum_tail_sql, ("orders",), stages=cte_stages(cusum_bases)))

register(
    "drift_psi_events",
    oracle=drift_psi_sql(DUCKDB),
    doc=f"Population Stability Index over {PSI_BINS} shared equi-width "
    "bins, Laplace-smoothed, decimal-exact term sums",
)(sql_runner(drift_psi_sql, ("events",)))


def mad_outliers_sql(dialect: str) -> str:
    """Robust daily-revenue outliers via the modified z-score
    0.6745*(x - median)/MAD, flagged at |z| > 3.5 (Iglewicz & Hoaglin
    1993) — the robust sibling of the mean/std hourly-anomaly gate:
    median/MAD have a 50% breakdown point, so the outliers themselves
    cannot drag the threshold the way they inflate a standard deviation.

    Both the median and the MAD are EXACT count-histogram medians
    (value at cumulative count >= ceil(n/2)) — two passes over the tiny
    per-day relation, no percentile_cont.  Deviations |x - med| stay in
    exact DECIMAL; only the final z divides in double.  MAD = 0
    (majority-constant series) guards to NULL z with outlier =
    (x != median).  Observed days only: this detector asks "which
    TRADING days were anomalous", while the CUSUM sibling standardizes
    over the full calendar spine to locate level breaks.

    Scale shape: one orders scan to the day relation; both medians are
    windows over the day-cardinality histogram.
    """
    return compose_with(mad_bases(dialect), mad_tail_sql(dialect))


def mad_bases(dialect: str) -> list[tuple[str, str]]:
    day = f"CAST(FLOOR(({epoch_s(dialect, 'o_orderdate')}) / 86400.0) AS BIGINT)"
    return [("per_day", f"""per_day AS (
  SELECT {day} AS day, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY {day}
)""")]


def mad_tail_sql(dialect: str) -> str:
    return f"""
WITH med AS (
  SELECT MIN(CASE WHEN cc >= ceil(n / 2.0) THEN rev END) AS m
  FROM (
    SELECT rev, SUM(c) OVER (ORDER BY rev) AS cc, SUM(c) OVER () AS n
    FROM (SELECT rev, COUNT(*) AS c FROM per_day GROUP BY rev) h
  ) t
),
devs AS (
  SELECT day, rev,
         ABS(CAST(rev AS DECIMAL(19,2)) - (SELECT m FROM med)) AS adev
  FROM per_day
),
madv AS (
  SELECT MIN(CASE WHEN cc >= ceil(n / 2.0) THEN adev END) AS mad
  FROM (
    SELECT adev, SUM(c) OVER (ORDER BY adev) AS cc, SUM(c) OVER () AS n
    FROM (SELECT adev, COUNT(*) AS c FROM devs GROUP BY adev) h
  ) t
)
SELECT CAST(day AS BIGINT) AS epoch_day,
       CAST(rev AS DOUBLE) AS revenue,
       CAST((SELECT m FROM med) AS DOUBLE) AS median_rev,
       CAST((SELECT mad FROM madv) AS DOUBLE) AS mad,
       CASE WHEN (SELECT mad FROM madv) = 0 THEN NULL
            ELSE ROUND(0.6745 * CAST(CAST(rev AS DECIMAL(19,2))
                                     - (SELECT m FROM med) AS DOUBLE)
                       / CAST((SELECT mad FROM madv) AS DOUBLE), 6)
            END AS robust_z,
       CAST(CASE WHEN (SELECT mad FROM madv) = 0
                 THEN CASE WHEN rev <> (SELECT m FROM med) THEN 1 ELSE 0 END
                 WHEN ABS(0.6745 * CAST(CAST(rev AS DECIMAL(19,2))
                                        - (SELECT m FROM med) AS DOUBLE)
                          / CAST((SELECT mad FROM madv) AS DOUBLE)) > 3.5
                 THEN 1 ELSE 0 END AS INT) AS is_outlier
FROM devs
ORDER BY day
"""


register(
    "robust_outliers_daily",
    oracle=mad_outliers_sql(DUCKDB),
    doc="robust daily-revenue outliers: modified z-score via EXACT "
    "count-histogram median and MAD (50% breakdown — outliers cannot "
    "drag the threshold), |z| > 3.5 Iglewicz-Hoaglin gate",
)(sql_runner(mad_tail_sql, ("orders",), stages=cte_stages(mad_bases)))
