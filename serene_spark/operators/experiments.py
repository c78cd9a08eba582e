"""Experiment analysis and seasonality operators.

* ``ab_test_conversion`` — the two-proportion z-test an A/B readout runs:
  users split into variants (deterministic user_id hash — the variant
  assignment every experimentation platform derives the same way), each
  variant's view→purchase conversion measured, and the pooled-variance
  z-statistic computed.  The corpus has no real treatment, so the test
  doubles as an A/A calibration check: |z| should be small, and the test
  pins that (an experimentation pipeline that flags its own A/A split is
  broken).
* ``events_seasonality`` — hour-of-day seasonal index per event type:
  mean count at each clock hour divided by the type's overall hourly mean
  (the multiplicative seasonal profile used for expected-load baselines
  and anomaly normalization).

Scale shapes: conversion flags reduce per (variant) from one per-user agg;
the seasonal index is two chained aggs over the tiny hourly relation.
Integer/rational arithmetic until the final rounded division, per the
engine's determinism conventions.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import variant_expr, DUCKDB, epoch_s, epoch_us, explode_seq, idiv
from serene_spark.registry import register

HOUR_US = 3600 * 1_000_000
DAY_US = 24 * HOUR_US


def ab_test_sql(dialect: str) -> str:
    variant = variant_expr(dialect)
    return f"""
WITH with_view AS (
  SELECT user_id, event_type, {epoch_us(dialect, 'ts')} AS ts_us,
         MIN(CASE WHEN event_type = 'view' THEN {epoch_us(dialect, 'ts')} END)
           OVER (PARTITION BY user_id) AS first_view_us
  FROM events
),
per_user AS (
  -- conversion = purchase within 24h of the FIRST view (the windowed
  -- funnel metric): the lifetime definition is degenerate on this corpus
  -- (every exposed user eventually purchases -> pooled rate 1 -> the
  -- z denominator vanishes)
  SELECT user_id,
         {variant} AS variant,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
         MAX(CASE WHEN event_type = 'purchase'
                   AND ts_us > first_view_us
                   AND ts_us - first_view_us <= 86400000000
                  THEN 1 ELSE 0 END) AS purchased
  FROM with_view
  GROUP BY user_id
),
arms AS (
  SELECT variant,
         SUM(viewed) AS n_exposed,
         SUM(CASE WHEN viewed = 1 AND purchased = 1 THEN 1 ELSE 0 END) AS n_converted
  FROM per_user GROUP BY variant
),
wide AS (
  SELECT
    MAX(CASE WHEN variant = 0 THEN n_exposed END) AS na,
    MAX(CASE WHEN variant = 0 THEN n_converted END) AS ca,
    MAX(CASE WHEN variant = 1 THEN n_exposed END) AS nb,
    MAX(CASE WHEN variant = 1 THEN n_converted END) AS cb
  FROM arms
)
SELECT CAST(na AS BIGINT) AS n_exposed_a,
       CAST(ca AS BIGINT) AS n_converted_a,
       CAST(nb AS BIGINT) AS n_exposed_b,
       CAST(cb AS BIGINT) AS n_converted_b,
       ROUND(CAST(ca AS DOUBLE) / na, 6) AS rate_a,
       ROUND(CAST(cb AS DOUBLE) / nb, 6) AS rate_b,
       ROUND((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
             / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
                    * (1.0 / na + 1.0 / nb)), 6) AS z_score,
       CASE WHEN abs((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                     / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                            * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
                            * (1.0 / na + 1.0 / nb))) >= 1.96
            THEN 1 ELSE 0 END AS significant_95
FROM wide
"""


def seasonality_sql(dialect: str) -> str:
    hour = idiv(dialect, epoch_us(dialect, "ts"), str(HOUR_US))
    return f"""
WITH hourly AS (
  SELECT event_type, {hour} AS hour_bucket, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
by_clock AS (
  SELECT event_type, hour_bucket % 24 AS clock_hour,
         SUM(cnt) AS total, COUNT(*) AS n_hours
  FROM hourly GROUP BY event_type, hour_bucket % 24
),
overall AS (
  SELECT event_type,
         SUM(total) AS grand_total, SUM(n_hours) AS grand_hours
  FROM by_clock GROUP BY event_type
)
SELECT b.event_type,
       CAST(b.clock_hour AS BIGINT) AS clock_hour,
       ROUND(CAST(b.total AS DOUBLE) / b.n_hours, 6) AS mean_rate,
       ROUND((CAST(b.total AS DOUBLE) / b.n_hours)
             / (CAST(o.grand_total AS DOUBLE) / o.grand_hours), 6) AS seasonal_index
FROM by_clock b JOIN overall o ON b.event_type = o.event_type
"""


register(
    "ab_test_conversion",
    oracle=ab_test_sql(DUCKDB),
    doc="A/B readout: per-variant view->purchase conversion + pooled "
    "two-proportion z-test (doubles as the A/A calibration check)",
)(sql_runner(ab_test_sql, ("events",)))

register(
    "events_seasonality",
    oracle=seasonality_sql(DUCKDB),
    doc="hour-of-day multiplicative seasonal index per event type (the "
    "expected-load baseline profile)",
)(sql_runner(seasonality_sql, ("events",)))


WEEK_US = 7 * 24 * HOUR_US


def clv_cohort_sql(dialect: str) -> str:
    """Customer-lifetime-value curves by signup cohort: for each weekly
    signup cohort and account age (weeks since signup), the cumulative
    purchase revenue per cohort member — the payback/LTV readout next to
    the retention matrix (events_retention_cohorts).

    Shape: signup week per user (one agg), purchases keyed back to the
    cohort (broadcastable user->cohort map at dimension scale; ordinary
    keyed join at 100 TB), weekly revenue per (cohort, age) (tiny), then a
    cumulative window over that tiny relation.  Users who signed up but
    never purchased still size the cohort (LEFT-join denominator).
    """
    us = epoch_us(dialect, "ts")
    return f"""
WITH signups AS (
  SELECT user_id, MIN({us}) AS signup_us
  FROM events WHERE event_type = 'signup'
  GROUP BY user_id
),
cohort_size AS (
  SELECT CAST({idiv(dialect, 'signup_us', str(WEEK_US))} AS BIGINT) AS cohort_week,
         COUNT(*) AS n_users
  FROM signups GROUP BY 1
),
purchases AS (
  SELECT s.user_id,
         CAST({idiv(dialect, 's.signup_us', str(WEEK_US))} AS BIGINT) AS cohort_week,
         CAST({idiv(dialect, f'({us} - s.signup_us)', str(WEEK_US))} AS BIGINT) AS age_week,
         CAST(e.value AS DECIMAL(18,2)) AS v
  FROM events e
  JOIN signups s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND {us} >= s.signup_us
),
weekly AS (
  SELECT cohort_week, age_week, SUM(v) AS rev
  FROM purchases GROUP BY cohort_week, age_week
)
SELECT w.cohort_week,
       CAST(w.age_week AS BIGINT) AS age_week,
       CAST(c.n_users AS BIGINT) AS cohort_users,
       ROUND(CAST(w.rev AS DOUBLE), 6) AS week_revenue,
       ROUND(CAST(SUM(w.rev) OVER (PARTITION BY w.cohort_week
                                   ORDER BY w.age_week) AS DOUBLE)
             / c.n_users, 6) AS cum_revenue_per_user
FROM weekly w
JOIN cohort_size c ON w.cohort_week = c.cohort_week
"""


register(
    "clv_cohort_curves",
    oracle=clv_cohort_sql(DUCKDB),
    doc="LTV curves: cumulative purchase revenue per user by weekly signup "
    "cohort and account age (the payback readout beside retention)",
)(sql_runner(clv_cohort_sql, ("events",)))


def dow_seasonality_sql(dialect: str) -> str:
    """Day-of-week multiplicative seasonal index per event type — the
    weekly cycle beside ``events_seasonality``'s daily (hour-of-day)
    cycle; together they form the expected-load baseline a rate monitor
    divides by.  DOW is computed from the epoch DAY NUMBER (day 0 =
    1970-01-01, a Thursday, so dow = (epoch_day + 4) % 7 with 0=Sunday) —
    pure integer arithmetic, dodging the engines' divergent DAYOFWEEK/
    dayofweek conventions entirely.  One scan, two metadata-scale aggs.
    """
    day = idiv(dialect, f"({epoch_s(dialect, 'ts')})", 86400)
    return f"""
WITH by_dow AS (
  SELECT event_type, ({day} + 4) % 7 AS dow, COUNT(*) AS n
  FROM events GROUP BY event_type, ({day} + 4) % 7
),
totals AS (
  SELECT event_type, SUM(n) AS total, COUNT(*) AS n_dows
  FROM by_dow GROUP BY event_type
)
SELECT b.event_type, CAST(b.dow AS INT) AS dow,
       CAST(b.n AS BIGINT) AS n_events,
       ROUND(CAST(b.n AS DOUBLE) * t.n_dows / t.total, 6) AS seasonal_index
FROM by_dow b JOIN totals t ON b.event_type = t.event_type
"""


register(
    "events_dow_seasonality",
    oracle=dow_seasonality_sql(DUCKDB),
    doc="day-of-week multiplicative seasonal index per event type (integer "
    "epoch-day arithmetic, no engine DAYOFWEEK divergence); the weekly "
    "cycle beside the hour-of-day profile",
)(sql_runner(dow_seasonality_sql, ("events",)))


RFM_BINS = 5


def rfm_sql(dialect: str) -> str:
    """RFM segmentation over orders — recency (days since last order),
    frequency (order count), monetary (total spend) quintiles per
    customer, composed into the classic segment code.  Quintile
    boundaries come from the count-histogram quantile over each
    dimension's DISTINCT-value relation (the engine's exact-quantile
    pattern — never NTILE, whose tie handling diverges across engines);
    bin = count of boundaries at or below the value, so ties land
    deterministically in the same bin everywhere.  Reference date =
    corpus MAX(o_orderdate) (self-contained and reproducible; a live
    deployment passes its own anchor).  One orders scan -> per-customer
    relation; everything after is customer-cardinality.
    """
    return compose_with(rfm_bases(dialect), rfm_tail_sql(dialect))


def rfm_bases(dialect: str) -> list[tuple[str, str]]:
    day = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    return [("per_cust", f"""per_cust AS (
  SELECT o_custkey,
         (SELECT MAX({day}) FROM orders) - MAX({day}) AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS monetary
  FROM orders GROUP BY o_custkey
)""")]


def rfm_tail_sql(dialect: str) -> str:
    def quintile_bounds(rel: str, col: str) -> str:
        return f"""
  SELECT {", ".join(
      f"MIN(CASE WHEN cc >= ceil({q}.0 * n / {RFM_BINS}) THEN v END) AS b{q}"
      for q in range(1, RFM_BINS)
  )}
  FROM (
    SELECT v, SUM(c) OVER (ORDER BY v) AS cc, SUM(c) OVER () AS n
    FROM (SELECT {col} AS v, COUNT(*) AS c FROM {rel} GROUP BY {col}) h
  ) t"""

    def bin_expr(col: str, bounds: str) -> str:
        return "(" + " + ".join(
            f"CASE WHEN {col} > (SELECT b{q} FROM {bounds}) THEN 1 ELSE 0 END"
            for q in range(1, RFM_BINS)
        ) + " + 1)"

    return f"""
WITH rb AS ({quintile_bounds("per_cust", "recency_days")}),
fb AS ({quintile_bounds("per_cust", "frequency")}),
mb AS ({quintile_bounds("per_cust", "monetary")})
SELECT o_custkey,
       CAST(recency_days AS BIGINT) AS recency_days,
       CAST(frequency AS BIGINT) AS frequency,
       CAST(monetary AS DOUBLE) AS monetary,
       CAST({RFM_BINS + 1} - {bin_expr("recency_days", "rb")} AS INT) AS r_score,
       CAST({bin_expr("frequency", "fb")} AS INT) AS f_score,
       CAST({bin_expr("monetary", "mb")} AS INT) AS m_score
FROM per_cust
"""


register(
    "rfm_segments",
    oracle=rfm_sql(DUCKDB),
    doc=f"RFM segmentation: recency/frequency/monetary {RFM_BINS}-quantile "
    "scores per customer via the count-histogram quantile (never NTILE — "
    "divergent tie handling); r inverted so 5 = most recent",
)(sql_runner(rfm_tail_sql, ("orders",), stages=cte_stages(rfm_bases)))


def revenue_mom_sql(dialect: str) -> str:
    """Month-over-month revenue: monthly totals + absolute and percent
    deltas via LAG over the MONTH-cardinality relation (the window runs
    over ~tens of rows, never order-cardinality; month key = integer
    year*12+month so ordering needs no date arithmetic in the frame).
    First month's deltas are NULL (no prior), not zero.
    """
    mkey = "CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)"
    return f"""
WITH monthly AS (
  SELECT {mkey} AS month_key,
         CAST(year(o_orderdate) AS INT) AS yr,
         CAST(month(o_orderdate) AS INT) AS mon,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS revenue,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders
  GROUP BY year(o_orderdate), month(o_orderdate)
),
with_prev AS (
  SELECT month_key, yr, mon, revenue, n_orders,
         LAG(revenue) OVER (ORDER BY month_key) AS prev_revenue
  FROM monthly
)
SELECT month_key, yr, mon,
       CAST(revenue AS DOUBLE) AS revenue,
       n_orders,
       CAST(revenue - prev_revenue AS DOUBLE) AS mom_delta,
       ROUND(CAST(revenue - prev_revenue AS DOUBLE)
             / CAST(prev_revenue AS DOUBLE) * 100, 6) AS mom_pct
FROM with_prev
"""


register(
    "revenue_mom",
    oracle=revenue_mom_sql(DUCKDB),
    doc="month-over-month revenue deltas (LAG over the month-cardinality "
    "relation; first month NULL, not zero)",
)(sql_runner(revenue_mom_sql, ("orders",)))


# --- A/B power analysis -----------------------------------------------------

POWER_MDE_GRID = (2, 5, 10, 20)  # relative MDEs, percent
_Z_ALPHA2 = 1.959964  # alpha = 0.05, two-sided
_Z_BETA = 0.841621    # 80% power


def ab_power_sql(dialect: str) -> str:
    """Sample-size adequacy for the registered A/B test — the question a
    team asks BEFORE reading the z-score: at the observed baseline rate,
    how many users per arm would detecting a 2/5/10/20% relative lift
    require (two-proportion formula, alpha=.05 two-sided, 80% power;
    Fleiss et al. 2003), and is the current allocation there yet?  The
    'powered' flag avoids a normal-CDF evaluation (no erf in engine-
    shared SQL): required-n comparison is the standard design check.

    One row per MDE. Reuses the exact arm construction of ab_test_conversion
    (same splice), so the two queries can never disagree about what an
    exposure or conversion is.  Arms relation is 2 rows; everything
    below is grid arithmetic.
    """
    inner = ab_test_sql(dialect)
    grid_arms = "\n  UNION ALL\n  ".join(
        f"SELECT CAST({m} AS INT) AS mde_pct" for m in POWER_MDE_GRID
    )
    return f"""
WITH ab AS ({inner}),
grid AS (
  {grid_arms}
),
calc AS (
  -- NULLIF: a zero-exposure arm would be 0/0 BEFORE the p1/p2 guard
  -- below can fire (ANSI Spark raises; DuckDB NULLs) — NULL p1 flows
  -- into the NULL-required-n path like every other degenerate case
  SELECT g.mde_pct,
         CAST(ab.n_converted_a AS DOUBLE) / NULLIF(ab.n_exposed_a, 0) AS p1,
         CAST(ab.n_converted_a AS DOUBLE) / NULLIF(ab.n_exposed_a, 0)
           * (1 + g.mde_pct / 100.0) AS p2,
         LEAST(ab.n_exposed_a, ab.n_exposed_b) AS n_current
  FROM grid g JOIN ab ON 1 = 1
),
req AS (
  -- degenerate-case guard (the CUSUM/MAD/KM convention): p1 = 0 has no
  -- relative MDE, and p2 >= 1 is an unreachable target — both emit NULL
  -- required-n rather than sqrt-of-negative (DuckDB errors, Spark NaNs)
  -- or a divide-by-zero that the engines NULL/inf differently
  SELECT mde_pct, p1, p2, n_current,
         CASE WHEN p1 <= 0 OR p2 >= 1 THEN NULL
              ELSE CAST(CEIL(
                ({_Z_ALPHA2} * sqrt(2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
                 + {_Z_BETA} * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
                * ({_Z_ALPHA2} * sqrt(2 * ((p1 + p2) / 2) * (1 - (p1 + p2) / 2))
                   + {_Z_BETA} * sqrt(p1 * (1 - p1) + p2 * (1 - p2)))
                / ((p2 - p1) * (p2 - p1))) AS BIGINT)
              END AS n_req
  FROM calc
)
SELECT mde_pct,
       ROUND(p1, 6) AS baseline_rate,
       ROUND(p2, 6) AS target_rate,
       n_req AS n_required_per_arm,
       CAST(n_current AS BIGINT) AS n_current_min_arm,
       CAST(CASE WHEN n_req IS NULL THEN 0
                 WHEN n_current >= n_req THEN 1 ELSE 0 END AS INT)
         AS adequately_powered
FROM req
ORDER BY mde_pct
"""


register(
    "ab_power_analysis",
    oracle=ab_power_sql(DUCKDB),
    doc="two-proportion sample-size adequacy for the A/B test: required n "
    "per arm at 2/5/10/20% relative MDE (alpha=.05, 80% power) vs the "
    "current allocation — splices the exact ab_test arm construction",
)(sql_runner(ab_power_sql, ("events",)))


def new_vs_returning_sql(dialect: str) -> str:
    """Daily new-vs-returning active users — the growth dashboard's first
    row: each user attributes as NEW on their first active day (MIN over
    one keyed agg) and RETURNING on later active days.  Conservation
    holds by construction: sum(new) over all days = total distinct
    users; new + returning = that day's actives.
    """
    day = idiv(dialect, epoch_us(dialect, "ts"), str(DAY_US))
    return f"""
WITH user_days AS (
  SELECT user_id, {day} AS day FROM events GROUP BY user_id, {day}
),
firsts AS (
  SELECT user_id, MIN(day) AS first_day FROM user_days GROUP BY user_id
)
SELECT CAST(u.day AS BIGINT) AS day_bucket,
       CAST(COUNT(*) AS BIGINT) AS active_users,
       CAST(SUM(CASE WHEN u.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS new_users,
       CAST(SUM(CASE WHEN u.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS returning_users
FROM user_days u JOIN firsts f ON f.user_id = u.user_id
GROUP BY u.day
ORDER BY u.day
"""


register(
    "users_new_vs_returning",
    oracle=new_vs_returning_sql(DUCKDB),
    doc="daily new vs returning actives (first-day attribution via one "
    "keyed agg; conservation pinned: sum(new) = distinct users)",
)(sql_runner(new_vs_returning_sql, ("events",)))


# --- always-valid sequential test (mSPRT) ------------------------------------

MSPRT_TAU_SQ = 25.0  # mixture variance: a DESIGN parameter, sized to the
# anticipated effect scale (~5 value units); the always-valid guarantee
# holds for ANY fixed choice (Johari et al., "Peeking at A/B tests", 2017)
MSPRT_ALPHA = 0.05


def msprt_sql(dialect: str) -> str:
    """Always-valid sequential A/B monitoring of the event-value mean
    difference: per day, CUMULATIVE per-arm decimal moments (n, Σx, Σx²)
    via running windows over the day-level agg, the Welch variance of the
    cumulative difference, the mSPRT mixture likelihood ratio
    Λ_t = sqrt(V/(V+τ²))·exp(Δ²τ²/(2V(V+τ²))), and the always-valid
    p-value p_t = min(1, 1/max_{s<=t} Λ_s) — the running max is one more
    window.  Unlike the fixed-horizon z-test (ab_test_conversion), this
    p-value survives CONTINUOUS peeking: rejecting the first day
    p < alpha is valid.  Day-level sums are exact decimals; the windows
    run over the DAY-cardinality relation, never raw events."""
    day = idiv(dialect, f"({epoch_s(dialect, 'ts')})", 86400)
    variant = variant_expr(dialect)
    v = "CAST(value AS DECIMAL(18,2))"
    spine_days = explode_seq(dialect, "(SELECT d0 FROM bounds)", "(SELECT d1 FROM bounds)")
    return f"""
WITH daily AS (
  SELECT {day} AS day, {variant} AS arm,
         COUNT(*) AS n, SUM({v}) AS s, SUM({v} * {v}) AS q
  FROM events WHERE value IS NOT NULL
  GROUP BY {day}, {variant}
),
-- zero-filled (day x arm) spine: a day on which one arm is quiet must
-- STILL emit a monitor row (its cumulative history is unchanged, not
-- absent) — otherwise that day's lambda never enters the running max and
-- a rejection is delayed
bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
spine AS (
  SELECT d.day, a.arm
  FROM (SELECT {spine_days} AS day FROM bounds) d
  CROSS JOIN (SELECT 0 AS arm UNION ALL SELECT 1) a
),
filled AS (
  SELECT sp.day, sp.arm,
         COALESCE(dl.n, 0) AS n, dl.s, dl.q
  FROM spine sp LEFT JOIN daily dl ON sp.day = dl.day AND sp.arm = dl.arm
),
cum AS (
  SELECT day, arm,
         SUM(n) OVER (PARTITION BY arm ORDER BY day) AS n,
         SUM(s) OVER (PARTITION BY arm ORDER BY day) AS s,
         SUM(q) OVER (PARTITION BY arm ORDER BY day) AS q
  FROM filled
),
paired AS (
  SELECT a.day,
         a.n AS n_a, CAST(a.s AS DOUBLE) AS s_a, CAST(a.q AS DOUBLE) AS q_a,
         b.n AS n_b, CAST(b.s AS DOUBLE) AS s_b, CAST(b.q AS DOUBLE) AS q_b
  FROM (SELECT * FROM cum WHERE arm = 0) a
  JOIN (SELECT * FROM cum WHERE arm = 1) b ON a.day = b.day
  WHERE a.n >= 2 AND b.n >= 2
),
stat AS (
  SELECT day, n_a, n_b,
         s_a / n_a - s_b / n_b AS delta,
         (q_a - s_a * s_a / n_a) / (n_a - 1) / n_a
           + (q_b - s_b * s_b / n_b) / (n_b - 1) / n_b AS v
  FROM paired
),
lam AS (
  SELECT day, n_a, n_b, delta, v,
         sqrt(v / (v + {MSPRT_TAU_SQ}))
           * EXP(delta * delta * {MSPRT_TAU_SQ}
                 / (2 * v * (v + {MSPRT_TAU_SQ}))) AS lambda_t
  FROM stat
),
runmax AS (
  SELECT day, n_a, n_b, delta, v, lambda_t,
         MAX(ROUND(lambda_t, 9)) OVER (ORDER BY day) AS lambda_max
  FROM lam
)
SELECT CAST(day AS BIGINT) AS epoch_day,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       ROUND(delta, 6) AS mean_diff,
       ROUND(sqrt(v), 6) AS se,
       ROUND(lambda_t, 6) AS lambda_t,
       ROUND(LEAST(1.0, 1.0 / lambda_max), 6) AS p_always_valid,
       CAST(CASE WHEN 1.0 / lambda_max < {MSPRT_ALPHA} THEN 1 ELSE 0 END
            AS INT) AS rejected
FROM runmax
ORDER BY epoch_day
"""


register(
    "ab_sequential_msprt",
    oracle=msprt_sql(DUCKDB),
    doc="Always-valid sequential A/B test (mSPRT mixture likelihood ratio, "
    "Johari et al. 2017) on the event-value mean difference: cumulative "
    "per-arm decimal moments per day, running-max likelihood, peeking-"
    "safe p-value; windows over the day-cardinality relation only",
)(sql_runner(msprt_sql, ("events",)))
