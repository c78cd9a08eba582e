"""Event-sequence analytics: per-user Markov transition matrix and
windowed rate-anomaly detection — the product-analytics operators layered
on ordered event streams.

Scale shapes (100 TB):

* ``event_transitions`` — LEAD over (user, time) gives each event its
  successor; the transition matrix is then one tiny keyed agg.  One
  user-keyed shuffle for the window (the sessionizer's layout — on a
  cluster the events table is bucketed by user_id and the window is
  exchange-free).
* ``events_hourly_anomalies`` — hourly counts first (event-cardinality agg),
  then a trailing-window z-score over the TINY hourly relation.  Variance
  comes from integer-exact window sums (Σx, Σx², n) rather than
  ``stddev_samp`` so both engines compute the identical rational number —
  Welford-vs-sum-of-squares implementation differences never surface.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_us, explode_seq, idiv
from serene_spark.registry import register

TRAIL = 24  # trailing window (hours) for the anomaly baseline
Z_THRESHOLD = 3.0


def transitions_sql(dialect: str) -> str:
    """P(next event_type | event_type) over per-user time-ordered streams,
    with counts and a row-conditional probability.  Ties on ts break by
    event_id (total order)."""
    us = epoch_us(dialect, "ts")
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY {us}, event_id) AS next_type
  FROM events
),
pairs AS (
  SELECT event_type, next_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type,
       CAST(n AS BIGINT) AS n_transitions,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY event_type), 6) AS p_next
FROM pairs
"""


def anomalies_sql(dialect: str) -> str:
    """Hourly event-rate z-scores against the trailing {TRAIL}-hour
    baseline per event_type; flags |z| >= {Z_THRESHOLD}.  Baseline mean and
    variance derive from integer window sums (exact).

    The baseline is a RANGE window over hour_bucket — true wall-clock
    {TRAIL} hours, not "{TRAIL} preceding observed rows" (a ROWS frame
    silently stretches over arbitrary wall-clock time for sparse types).
    Hours with zero events produce no row, so the baseline is the mean of
    OBSERVED hours and an all-quiet hour (outage) is not flagged — this is
    a spike detector; absence detection needs the gap-filled series
    (ts_gapfill_locf) upstream."""
    hour = idiv(dialect, epoch_us(dialect, "ts"), str(3600 * 1_000_000))
    w = (
        f"OVER (PARTITION BY event_type ORDER BY hour_bucket "
        f"RANGE BETWEEN {TRAIL} PRECEDING AND 1 PRECEDING)"
    )
    return f"""
WITH hourly AS (
  SELECT event_type, {hour} AS hour_bucket, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT event_type, hour_bucket, cnt,
         SUM(cnt) {w} AS s1,
         SUM(cnt * cnt) {w} AS s2,
         COUNT(*) {w} AS n
  FROM hourly
)
SELECT event_type,
       CAST(hour_bucket AS BIGINT) AS hour_bucket,
       CAST(cnt AS BIGINT) AS cnt,
       ROUND(CAST(s1 AS DOUBLE) / n, 6) AS baseline_mean,
       ROUND((cnt - CAST(s1 AS DOUBLE) / n)
             / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                    / (n - 1)), 6) AS z_score,
       CASE WHEN abs((cnt - CAST(s1 AS DOUBLE) / n)
                     / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                            / (n - 1))) >= {Z_THRESHOLD}
            THEN 1 ELSE 0 END AS is_anomaly
FROM win
WHERE n >= 12
  AND (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) > 0
"""


register(
    "event_transitions",
    oracle=transitions_sql(DUCKDB),
    doc="per-user Markov transition matrix: P(next event_type | event_type) "
    "with counts, LEAD over time-ordered streams",
)(sql_runner(transitions_sql, ("events",)))

register(
    "events_hourly_anomalies",
    oracle=anomalies_sql(DUCKDB),
    doc=f"hourly rate anomalies: z-score vs trailing {TRAIL}h baseline per "
    "event type from integer-exact window sums",
)(sql_runner(anomalies_sql, ("events",)))


N_POWER_ITER = 3  # unrolled power-iteration steps (oracle-checkable)


def stationary_sql(dialect: str) -> str:
    """Stationary distribution of the event-type Markov chain by
    ``N_POWER_ITER`` unrolled power-iteration steps from the uniform start.

    The transition matrix is the ``event_transitions`` relation (state
    cardinality = #event types, tiny); each step is one join + one keyed
    agg over that tiny relation, so the ONLY data-scale work is the single
    user-keyed LEAD window that builds the pair counts — identical to the
    ``pagerank_suppliers`` shape (data-scale edge build, then iterations on
    the reduced graph).  Numeric determinism is the pagerank convention:
    masses live in DECIMAL(18,9), every product is re-quantized to 9 dp
    before the exact decimal SUM, so partial-aggregation order can never
    surface.  The empirical long-run share is emitted beside pi as the
    fixed-point readout (for an ergodic chain the two converge); the
    convergence-looped sibling pattern lives in ``pagerank_converged``.
    """
    return compose_with(_stationary_bases(dialect), stationary_tail_sql(dialect))


def stationary_pairs_prologue(dialect: str) -> str:
    """The data-scale half: one user-keyed LEAD window → pair counts."""
    us = epoch_us(dialect, "ts")
    return f"""seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id
                                ORDER BY {us}, event_id) AS next_type
  FROM events
),
pairs AS (
  SELECT event_type, next_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)"""


def stationary_emp_prologue(dialect: str) -> str:
    return """emp AS (
  SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type
)"""


def stationary_tail_sql(dialect: str) -> str:
    """Iterations over the tiny materialized ``pairs``/``emp`` relations —
    Spark runs this against localCheckpoint'd views, because Catalyst
    inlines a CTE per reference and the un-materialized chain re-derived
    the data-scale LEAD window once per power-iteration step."""
    steps = []
    for i in range(1, N_POWER_ITER + 1):
        steps.append(f"""
pi{i} AS (
  SELECT p.nxt AS event_type,
         SUM(CAST(ROUND(CAST(a.pi AS DOUBLE) * CAST(p.prob AS DOUBLE), 9)
                  AS DECIMAL(18,9))) AS pi
  FROM pi{i - 1} a JOIN p ON a.event_type = p.prev
  GROUP BY p.nxt
)""")
    return f"""
WITH row_tot AS (
  SELECT event_type, SUM(n) AS ct FROM pairs GROUP BY event_type
),
p AS (
  SELECT pa.event_type AS prev, pa.next_type AS nxt,
         CAST(ROUND(CAST(pa.n AS DOUBLE) / rt.ct, 9) AS DECIMAL(18,9)) AS prob
  FROM pairs pa JOIN row_tot rt ON pa.event_type = rt.event_type
),
states AS (
  SELECT event_type FROM emp
),
pi0 AS (
  SELECT event_type,
         CAST(ROUND(CAST(1 AS DOUBLE) / (SELECT COUNT(*) FROM states), 9)
              AS DECIMAL(18,9)) AS pi
  FROM states
),{",".join(steps)}
SELECT s.event_type,
       ROUND(CAST(COALESCE(f.pi, 0) AS DOUBLE), 6) AS pi_stationary,
       ROUND(CAST(e.n_events AS DOUBLE) / SUM(e.n_events) OVER (), 6)
         AS empirical_share,
       CAST(e.n_events AS BIGINT) AS n_events
FROM states s
LEFT JOIN pi{N_POWER_ITER} f ON s.event_type = f.event_type
JOIN emp e ON s.event_type = e.event_type
"""


def _stationary_bases(dialect: str) -> list[tuple[str, str]]:
    return [("pairs", stationary_pairs_prologue(dialect)),
            ("emp", stationary_emp_prologue(dialect))]


register(
    "markov_stationary",
    oracle=stationary_sql(DUCKDB),
    doc=f"stationary distribution of the event-type chain: {N_POWER_ITER} "
    "unrolled decimal-exact power-iteration steps beside the empirical "
    "long-run share",
)(sql_runner(stationary_tail_sql, ("events",), stages=cte_stages(_stationary_bases)))


CONV_WINDOW_US = 24 * 3600 * 1_000_000  # purchase counts if within 24h of view


def funnel_windowed_sql(dialect: str) -> str:
    """Windowed funnel conversion: per user, did a purchase follow the
    FIRST view within {CONV_WINDOW_US/3600e6:.0f} hours?  The product
    metric events_funnel cannot express (it checks lifetime ordering only).

    One scan: first-view and first-qualifying-purchase both derive from a
    single per-user aggregation (conditional MINs) — no self-join.  The
    "first purchase after the first view" needs the view time first, so it
    is a MIN over a per-user window rather than a second pass.
    """
    us = epoch_us(dialect, "ts")
    return f"""
WITH ev AS (
  SELECT user_id, event_type, {us} AS ts_us FROM events
),
with_view AS (
  SELECT user_id, event_type, ts_us,
         MIN(CASE WHEN event_type = 'view' THEN ts_us END)
           OVER (PARTITION BY user_id) AS first_view_us
  FROM ev
),
per_user AS (
  SELECT user_id,
         MIN(first_view_us) AS first_view_us,
         MIN(CASE WHEN event_type = 'purchase' AND ts_us > first_view_us
                  THEN ts_us END) AS first_purchase_after_us
  FROM with_view
  GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN first_view_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
       CAST(SUM(CASE WHEN first_purchase_after_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_ever,
       CAST(SUM(CASE WHEN first_purchase_after_us - first_view_us <= {CONV_WINDOW_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_24h,
       ROUND(CAST(SUM(CASE WHEN first_purchase_after_us - first_view_us <= {CONV_WINDOW_US}
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / SUM(CASE WHEN first_view_us IS NOT NULL THEN 1 ELSE 0 END), 6) AS conv_rate_24h
FROM per_user
"""


def rolling_active_sql(dialect: str) -> str:
    """Rolling active users: per day, distinct users active that day (DAU)
    and in the trailing 7 days (WAU), plus stickiness DAU/WAU.

    COUNT(DISTINCT) over a window frame is unsupported everywhere, so the
    standard shape: reduce to the distinct (user, day) relation first (one
    event-cardinality agg), explode each user-day to the <=7 future days it
    keeps the user active for (map-only), and count distinct per day.
    """
    day = idiv(dialect, epoch_us(dialect, "ts"), str(24 * 3600 * 1_000_000))
    return f"""
WITH user_days AS (
  SELECT DISTINCT user_id, {day} AS d FROM events
),
dau AS (
  SELECT d, COUNT(*) AS dau FROM user_days GROUP BY d
),
contrib AS (
  SELECT user_id, d + i AS d
  FROM (SELECT user_id, d, {explode_seq(dialect, 0, 6)} AS i FROM user_days) x
),
wau AS (
  SELECT d, COUNT(DISTINCT user_id) AS wau FROM contrib GROUP BY d
)
SELECT CAST(dau.d AS BIGINT) AS day_bucket,
       CAST(dau.dau AS BIGINT) AS dau,
       CAST(wau.wau AS BIGINT) AS wau,
       ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
FROM dau JOIN wau ON dau.d = wau.d
"""


register(
    "events_funnel_windowed",
    oracle=funnel_windowed_sql(DUCKDB),
    doc="windowed funnel conversion: purchases within 24h of the first "
    "view, single-scan conditional-MIN shape",
)(sql_runner(funnel_windowed_sql, ("events",)))

register(
    "rolling_active_users",
    oracle=rolling_active_sql(DUCKDB),
    doc="DAU/WAU/stickiness per day via the user-day explode (no "
    "COUNT-DISTINCT windows)",
)(sql_runner(rolling_active_sql, ("events",)))


PATH_TOP_K = 25


def path_3gram_sql(dialect: str) -> str:
    """Path mining: the most common 3-step event sequences across user
    streams — the multi-step sibling of ``event_transitions`` (whose 1-step
    matrix cannot distinguish view>click>purchase from view>click>view).
    Two LEADs over the same (user, time, id) window give each event its
    next and next-next types; the path string aggregates globally and
    top-k resolves by ORDER BY + LIMIT (distributed TakeOrdered, never a
    one-task rank window).  Scale: one user-keyed shuffle for the window,
    one path-keyed aggregation with map-side combine.
    """
    us = epoch_us(dialect, "ts")
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER (PARTITION BY user_id
                                   ORDER BY {us}, event_id) AS t2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id
                                   ORDER BY {us}, event_id) AS t3
  FROM events
),
paths AS (
  SELECT event_type || '>' || t2 || '>' || t3 AS path,
         COUNT(*) AS n,
         COUNT(DISTINCT user_id) AS n_users
  FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
  GROUP BY event_type || '>' || t2 || '>' || t3
)
SELECT path, CAST(n AS BIGINT) AS n_occurrences,
       CAST(n_users AS BIGINT) AS n_users
FROM paths
ORDER BY n DESC, path
LIMIT {PATH_TOP_K}
"""


register(
    "event_path_3grams",
    oracle=path_3gram_sql(DUCKDB),
    doc=f"top-{PATH_TOP_K} 3-step event paths across user streams (double "
    "LEAD, path-keyed agg, TakeOrdered top-k) — the multi-step sibling of "
    "the Markov transition matrix",
)(sql_runner(path_3gram_sql, ("events",)))
