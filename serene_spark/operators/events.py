"""Event-stream operators: tumbling windows, sessionization, JSON extraction,
as-of join.

The reference has no streaming/temporal operators (SURVEY §2.12); these are
the engine's scale extensions over the `events` table. The same logic runs
under Structured Streaming in serene_spark/streaming/ (readStream + watermark);
here the batch form is oracle-checked.

Scale notes: tumbling windows are single-shuffle partial aggs; sessionization
partitions by user (one shuffle, no driver state); the as-of join is a tagged
union + one user-partitioned window (``last(..., ignorenulls)``) — each input
row is shuffled exactly once and no (event, order) pair set is ever
materialized; on a cluster both sides would be bucketed by user/custkey to
make it shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from serene_spark.catalog import (
    TABLES,
    compose_with,
    cte_stages,
    load_table,
    register_views,
    sql_runner,
)
from serene_spark.functions.sqlgen import DUCKDB, epoch_s, explode_seq, idiv
from serene_spark.registry import register

TUMBLING_SQL = """
SELECT
  CAST(date_trunc('hour', ts) AS STRING) AS window_start,
  event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""

register(
    "events_tumbling_hour",
    oracle=TUMBLING_SQL,
    doc="1-hour tumbling-window aggregation over events (batch form of the streaming op)",
)(lambda spark, sf_dir: (register_views(spark, sf_dir, ("events",)), spark.sql(TUMBLING_SQL))[1])


# Trending top-k: rank WITHIN each window (hour-keyed window function — a
# keyed shuffle over the already-reduced hourly relation, never a global
# sort). The streaming twin computes the same hourly counts incrementally
# and applies this exact rank read-side (ranks are not incrementally
# maintainable; re-ranking the tiny aggregate relation is the scale-correct
# split of work — serene_spark/streaming/events_stream.py:trending_rank_sql).
TRENDING_TOP_K = 3

TRENDING_SQL = f"""
WITH hourly AS (
  SELECT CAST(date_trunc('hour', ts) AS STRING) AS window_start,
         event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events
  GROUP BY date_trunc('hour', ts), event_type
)
SELECT window_start, event_type, n_events, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT window_start, event_type, n_events,
         ROW_NUMBER() OVER (PARTITION BY window_start
                            ORDER BY n_events DESC, event_type) AS rk
  FROM hourly
) r
WHERE rk <= {TRENDING_TOP_K}
"""

register(
    "events_trending_hourly",
    oracle=TRENDING_SQL,
    doc=f"top-{TRENDING_TOP_K} trending event types per hour (hour-keyed "
    "rank over the reduced hourly relation; streaming twin re-ranks the "
    "incrementally-maintained counts read-side)",
)(sql_runner(lambda _d: TRENDING_SQL, TABLES))


# --- JSON extraction (dialect-divergent: get_json_object vs json_extract_string)

JSON_SPARK_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
"""

JSON_ORACLE_SQL = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
"""

register(
    "events_json_stats",
    oracle=JSON_ORACLE_SQL,
    doc="semi-structured access: JSON property extraction + aggregation",
)(sql_runner(lambda _d: JSON_SPARK_SQL, TABLES))


# --- Sessionization (30-minute inactivity gap), DataFrame API on the Spark side

SESSION_GAP_US = 30 * 60 * 1_000_000


def session_assign_rel(dialect: str) -> str:
    """THE engine-wide session definition (30-minute inactivity gap,
    (ts, event_id) total order), as a spliceable marked+sess CTE pair —
    every consumer (the sessionizer oracle, the entry/exit routing
    report) splices this one body so the rule cannot desync."""
    from serene_spark.functions.sqlgen import epoch_us as _eus

    us = _eus(dialect, "ts")
    lag_us = _eus(
        dialect, "LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    )
    return f"""
marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN {us} - {lag_us} > {SESSION_GAP_US} THEN 1 ELSE 0 END
           AS new_session
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM marked
)"""


SESSIONIZE_ORACLE_SQL = f"""
WITH {session_assign_rel("duckdb")},
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS span_sec
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       round(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6) AS avg_events_per_session,
       CAST(MAX(span_sec) AS BIGINT) AS max_session_span_sec
FROM per_session GROUP BY user_id
"""


@register(
    "events_sessionize",
    oracle=SESSIONIZE_ORACLE_SQL,
    doc="sessionization with 30-min inactivity gap; per-user session stats",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # event_id tie-break keeps equal-timestamp events in the same order as the
    # new_session window — without it the cumulative sum is order-ambiguous
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = (
        ev.withColumn(
            "new_session",
            F.when(
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > SESSION_GAP_US, 1
            ).otherwise(0),
        )
        .withColumn("session_id", F.sum("new_session").over(wcum))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_ev"),
            ((F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / F.lit(1_000_000))
            .cast("bigint")
            .alias("span_sec"),
        )
    )
    return sess.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.round(F.sum("n_ev").cast("double") / F.count("*"), 6).alias("avg_events_per_session"),
        F.max("span_sec").cast("bigint").alias("max_session_span_sec"),
    )


# --- As-of join: each event matched to the customer's most recent order at
# event time. Oracle uses DuckDB's native ASOF JOIN; the Spark side expresses
# it as an inequality join + per-event argmax.

ASOF_ORACLE_SQL = """
SELECT e.event_id,
       e.user_id,
       o.o_orderkey AS last_orderkey,
       CAST(o.o_orderdate AS VARCHAR) AS last_orderdate
FROM events e
ASOF LEFT JOIN (
    SELECT o_custkey, o_orderdate,
           -- dedupe equal order dates per customer deterministically (keep max key)
           MAX(o_orderkey) AS o_orderkey
    FROM orders GROUP BY o_custkey, o_orderdate
) o
ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
WHERE e.event_id < 1000
"""


@register(
    "asof_join_events_orders",
    oracle=ASOF_ORACLE_SQL,
    doc="as-of join: latest order per customer at event time (custom operator, "
    "composed as union + single window — never materializes event x order pairs; "
    "reference lacks temporal joins entirely)",
)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe as-of join: tag events and orders, union them, and carry the
    most recent order forward with ``last(..., ignorenulls)`` over ONE
    user-partitioned window.

    The previous formulation (equi-join on user + ``o_orderdate <= ts`` filter
    + argmax) materialized every (event, earlier-order) pair — per-key blowup
    that explodes on power users at 100x data. This shape shuffles each input
    row exactly once: cost is O(|events| + |orders|) rows, one sort per user
    partition, no pair materialization. Orders sort before same-instant events
    (is_event 0 < 1) so the join is inclusive (order at ts == event ts matches).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    ev_side = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(None).cast("date").alias("o_orderdate"),
        F.lit(1).alias("is_event"),
    )
    ord_side = orders.select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.lit(None).cast("bigint").alias("event_id"),
        "o_orderkey",
        "o_orderdate",
        F.lit(0).alias("is_event"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_event", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev_side.unionByName(ord_side)
        .withColumn("last_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn("last_odate", F.last("o_orderdate", ignorenulls=True).over(w))
        .filter("is_event = 1")
        .select(
            "event_id",
            "user_id",
            "last_orderkey",
            F.col("last_odate").cast("string").alias("last_orderdate"),
        )
    )


# --- Range join: per order, aggregate the customer's events falling in
# [o_orderdate, o_orderdate + 7 days). Oracle uses a plain inequality join;
# the Spark side converts the non-equi range predicate into a DAY-BUCKET
# equi-join — the standard scale pattern for interval joins.

RANGE_JOIN_ORACLE_SQL = """
SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
       CAST(o.o_custkey AS BIGINT) AS user_id,
       CAST(o.o_orderdate AS VARCHAR) AS orderdate,
       CAST(COUNT(e.event_id) AS BIGINT) AS n_events,
       round(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_value
FROM orders o
LEFT JOIN events e
  ON e.user_id = o.o_custkey
 AND e.ts >= o.o_orderdate
 AND e.ts < o.o_orderdate + INTERVAL 7 DAY
WHERE o.o_custkey <= 50
GROUP BY o.o_orderkey, o.o_custkey, o.o_orderdate
"""


@register(
    "range_join_orders_events",
    oracle=RANGE_JOIN_ORACLE_SQL,
    doc="range join: per-order event aggregates over a 7-day window (custom "
    "operator: non-equi interval predicate converted to a day-bucket "
    "equi-join on the Spark side — the 100 TB interval-join shape)",
)
def range_join_orders_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: each order explodes into its 7 covering day buckets
    (constant factor), events carry their day — the join is then an EQUI-join
    on (user, day) with the exact range predicate as a post-filter. Candidate
    rows are bounded by events-per-user-day x 7, never the full per-user
    cross product; the shuffle key (user, day) is far finer than user alone,
    so one hot user cannot pin a reducer. A plain non-equi join would be a
    broadcast-nested-loop over all per-user pairs at scale.
    """
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    days = orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.explode(
            F.sequence(
                F.to_date("o_orderdate"), F.date_add(F.to_date("o_orderdate"), 6)
            )
        ).alias("day"),
    )
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value", F.to_date("ts").alias("day")
    )
    matched = (
        days.join(ev, (days.o_custkey == ev.user_id) & (days.day == ev.day))
        .filter(
            (F.col("ts") >= F.col("o_orderdate"))
            & (F.col("ts") < F.expr("o_orderdate + INTERVAL 7 DAY"))
        )
        .groupBy("o_orderkey", "o_custkey", "o_orderdate")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
    )
    return (
        orders.join(matched, ["o_orderkey", "o_custkey", "o_orderdate"], "left")
        .select(
            F.col("o_orderkey").cast("bigint"),
            F.col("o_custkey").cast("bigint").alias("user_id"),
            F.col("o_orderdate").cast("string").alias("orderdate"),
            F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias("n_events"),
            F.round(F.col("sum_value").cast("double"), 6).alias("sum_value"),
        )
    )


# --- Forward as-of join with tolerance: each click's NEXT purchase by the
# same user within a bounded horizon (the conversion-lookup join — "did this
# click convert, and to which purchase?"). Complements the backward as-of
# above: strict (> ts) direction, 7-day tolerance, unmatched probes kept
# with NULLs. Joins forward WITHIN events (orders all predate the event
# window in this corpus, so an events->orders forward join would be vacuous).

ASOF_FWD_TOLERANCE_DAYS = 7
ASOF_FWD_PROBE = "click"
ASOF_FWD_TARGET = "purchase"

ASOF_FWD_ORACLE_SQL = f"""
WITH cand AS (
  SELECT c.event_id, p.event_id AS p_id, p.ts AS p_ts,
         ROW_NUMBER() OVER (PARTITION BY c.event_id
                            ORDER BY p.ts ASC, p.event_id ASC) AS rn
  FROM events c
  JOIN events p
    ON p.user_id = c.user_id
   AND p.event_type = '{ASOF_FWD_TARGET}'
   AND p.ts > c.ts
   AND epoch_us(p.ts) - epoch_us(c.ts)
       <= CAST({ASOF_FWD_TOLERANCE_DAYS} AS BIGINT) * 86400 * 1000000
  WHERE c.event_type = '{ASOF_FWD_PROBE}'
)
SELECT e.event_id,
       e.user_id,
       c.p_id AS next_purchase_id,
       CAST(c.p_ts AS VARCHAR) AS next_purchase_ts
FROM events e
LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c ON c.event_id = e.event_id
WHERE e.event_type = '{ASOF_FWD_PROBE}'
"""


@register(
    "asof_fwd_click_purchase",
    oracle=ASOF_FWD_ORACLE_SQL,
    doc="forward as-of join with tolerance: each click's next purchase "
    "strictly after it and within 7 days (union + one forward-looking "
    "window — never materializes click x purchase pairs; the oracle is "
    "the naive inequality join + argmin)",
)
def asof_fwd_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward twin of ``asof_join_events_orders``: same union-then-window
    device, but the window looks FORWARD (frame current row ->
    unboundedFollowing, ``first(ignorenulls)``).  Sort key (ts, is_probe)
    with targets = 0 < probes = 1 makes the direction STRICT: a purchase
    at exactly the click's timestamp sorts BEFORE the click, lands
    outside the forward frame, and does not match — the complement of
    the backward join's inclusive boundary.  Equal-ts purchases tie-break
    on event_id.  The 7-day tolerance is a post-window filter (NULLing
    late matches), so the shuffle shape is unchanged:
    O(|probes| + |targets|) rows, one sort per user partition, no pair
    materialization at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    probe_side = ev.filter(F.col("event_type") == ASOF_FWD_PROBE).select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("bigint").alias("t_id"),
        F.lit(None).cast("timestamp").alias("t_ts"),
        F.lit(1).alias("is_probe"),
    )
    target_side = ev.filter(F.col("event_type") == ASOF_FWD_TARGET).select(
        "user_id",
        "ts",
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("event_id").alias("t_id"),
        F.col("ts").alias("t_ts"),
        F.lit(0).alias("is_probe"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe", F.col("t_id").asc_nulls_last())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    # microsecond horizon: unix_timestamp() truncates to seconds, which
    # would disagree with the oracle's epoch_us boundary on sub-second gaps
    horizon_us = ASOF_FWD_TOLERANCE_DAYS * 86400 * 1_000_000
    return (
        probe_side.unionByName(target_side)
        .withColumn("next_purchase_id", F.first("t_id", ignorenulls=True).over(w))
        .withColumn("next_p_ts", F.first("t_ts", ignorenulls=True).over(w))
        .filter("is_probe = 1")
        .withColumn(
            "in_horizon",
            (F.unix_micros("next_p_ts") - F.unix_micros("ts")) <= horizon_us,
        )
        .select(
            "event_id",
            "user_id",
            F.when(F.col("in_horizon"), F.col("next_purchase_id"))
            .cast("bigint")
            .alias("next_purchase_id"),
            F.when(F.col("in_horizon"), F.col("next_p_ts"))
            .cast("string")
            .alias("next_purchase_ts"),
        )
    )


# --- Sliding windows, exact quantiles, and funnel analysis --------------------


def sliding_counts_sql(dialect: str) -> str:
    """1-hour windows sliding every 15 minutes, as batch SQL both engines can
    run: every event belongs to exactly 4 windows, generated by an offset
    explode (k = 0..3), so there is no self-join and no per-row Python.
    Window starts are emitted as epoch seconds (BIGINT) — timezone-free.
    The streaming twin is ``F.window(ts, '1 hour', '15 minutes')``.
    """
    es = epoch_s(dialect, "ts")
    bucket = idiv(dialect, "es", 900)
    return f"""
WITH base AS (
  SELECT event_type, {es} AS es FROM events
),
slid AS (
  SELECT event_type, ({bucket} - k) * 900 AS ws
  FROM (SELECT event_type, es, {explode_seq(dialect, 0, "3")} AS k FROM base) x
)
SELECT CAST(ws AS BIGINT) AS window_start_s, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM slid GROUP BY ws, event_type
"""


def value_quantiles_sql(dialect: str) -> str:
    """Exact p50/p90/p99 of ``value`` per event_type via the count-based
    method (the same shape as the profiling medians): reduce to a
    (event_type, value) histogram first — map-side combine, high-cardinality
    keys — then one cumulative window over the tiny distinct-value relation.
    Never a per-row sort, never percentile_approx (engine-specific)."""
    return """
WITH counts AS (
  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY event_type, CAST(value AS DECIMAL(18,2))
),
cum AS (
  SELECT event_type, v,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cc,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM counts
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(MIN(CASE WHEN cc >= ceil(0.50 * n) THEN v END) AS DOUBLE) AS p50,
       CAST(MIN(CASE WHEN cc >= ceil(0.90 * n) THEN v END) AS DOUBLE) AS p90,
       CAST(MIN(CASE WHEN cc >= ceil(0.99 * n) THEN v END) AS DOUBLE) AS p99
FROM cum
GROUP BY event_type, n
"""


FUNNEL_SQL = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS step_view,
       CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS step_view_click,
       CAST(SUM(CASE WHEN t_purchase > t_click AND t_click > t_view
                     THEN 1 ELSE 0 END) AS BIGINT) AS step_view_click_purchase
FROM firsts
"""


register(
    "events_sliding_15m",
    oracle=sliding_counts_sql(DUCKDB),
    doc="1h/15m sliding-window counts via offset explode (no self-join)",
)(sql_runner(sliding_counts_sql, TABLES))

register(
    "events_value_quantiles",
    oracle=value_quantiles_sql(DUCKDB),
    doc="exact count-based p50/p90/p99 of value per event_type",
)(sql_runner(value_quantiles_sql, TABLES))

register(
    "events_funnel",
    oracle=FUNNEL_SQL,
    doc="view->click->purchase funnel: first-occurrence ordering per user",
)(sql_runner(lambda _d: FUNNEL_SQL, TABLES))


def retention_sql(dialect: str) -> str:
    """Weekly retention cohorts: users grouped by first-activity week, counted
    in each later week they return. Two keyed aggregations (user -> cohort
    week; then (cohort, offset) -> distinct users) — the user-keyed shuffle is
    the natural key, the cohort matrix is tiny. Weeks are epoch-day // 7
    buckets (timezone-free, no locale week rules on either engine).
    """
    es = epoch_s(dialect, "ts")
    week = idiv(dialect, f"({es})", 604800)
    return f"""
WITH activity AS (
  SELECT user_id, {week} AS w FROM events GROUP BY user_id, {week}
),
cohort AS (
  SELECT user_id, MIN(w) AS cohort_w FROM activity GROUP BY user_id
)
SELECT CAST(c.cohort_w AS BIGINT) AS cohort_week,
       CAST(a.w - c.cohort_w AS BIGINT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM activity a JOIN cohort c ON a.user_id = c.user_id
GROUP BY c.cohort_w, a.w - c.cohort_w
"""


register(
    "events_retention_cohorts",
    oracle=retention_sql(DUCKDB),
    doc="weekly retention cohort matrix (first-activity week x week offset)",
)(sql_runner(retention_sql, TABLES))


ATTRIBUTION_WINDOW_S = 3600  # last-touch lookback: 1 hour


def attribution_prologue(dialect: str, pairs_select: str) -> str:
    """Shared clicks/purchases/pairs prologue for the attribution model
    family (last-touch / linear / decay) — ONE definition of the event
    filters, the user equi-join, and the lookback window, so the three
    models (and their tests) cannot desynchronize on what a "touch" is.
    ``pairs_select`` is the model-specific projection (it may use the
    ``p``/``c`` aliases and its own epoch expressions)."""
    from serene_spark.functions.sqlgen import epoch_us

    cus = epoch_us(dialect, "c.ts")
    pus = epoch_us(dialect, "p.ts")
    return f"""
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
pairs AS (
  SELECT {pairs_select}
  FROM purchases p JOIN clicks c
    ON p.user_id = c.user_id
   AND {pus} - {cus} BETWEEN 0 AND CAST({ATTRIBUTION_WINDOW_S} AS BIGINT) * 1000000
)"""


def attribution_sql(dialect: str) -> str:
    """Last-touch click attribution: each purchase is credited to the same
    user's most recent click within the preceding hour (ties broken by
    highest click_id). The streaming twin
    (streaming/events_stream.attribution_pairs) runs the identical pair join
    as a watermarked stream-stream join; here the batch form is oracled.

    Scale shape: the pair join is an equi-join on user_id with a bounded
    time-range residual — at 100 TB both sides would be additionally
    bucketed by time (the day-bucket pattern of range_join_orders_events) so
    a user's full history never co-locates; per-purchase last-touch is one
    window partitioned by the high-cardinality purchase key.
    """
    from serene_spark.functions.sqlgen import epoch_us

    cus = epoch_us(dialect, "c.ts")
    pus = epoch_us(dialect, "p.ts")
    return attribution_prologue(dialect, f"""p.event_id AS purchase_id, p.user_id,
         {pus} AS purchase_us, p.value,
         c.event_id AS click_id, {cus} AS click_us""") + f"""
SELECT CAST(purchase_id AS BIGINT) AS purchase_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(purchase_us AS BIGINT) AS purchase_us,
       round(CAST(value AS DOUBLE), 6) AS value,
       CAST(click_id AS BIGINT) AS click_id,
       CAST(purchase_us - click_us AS BIGINT) AS gap_us
FROM (
  SELECT pairs.*,
         ROW_NUMBER() OVER (PARTITION BY purchase_id
                            ORDER BY click_us DESC, click_id DESC) AS rk
  FROM pairs
) t WHERE rk = 1
"""


register(
    "events_attribution",
    oracle=attribution_sql(DUCKDB),
    doc="last-touch click attribution within a 1-hour lookback (batch form "
    "of the stream-stream join twin)",
)(sql_runner(attribution_sql, TABLES))


def attribution_linear_sql(dialect: str) -> str:
    """Multi-touch LINEAR attribution: each purchase's value is split
    equally across ALL of the user's clicks in the lookback window —
    the position-independent multi-touch model marketing teams run beside
    last-touch (which the `events_attribution` twin covers).  Same bounded
    pair join as last-touch; the per-purchase touch count comes from a
    window over the pair relation (purchase-keyed — high cardinality), and
    credit = value / n_touches rounds at 6 dp.  A per-click rollup then
    answers the question the model exists for: how much revenue does each
    click actually deserve?  Output grain: one row per credited click.

    Scale: identical join shape to last-touch (user equi-join + time-range
    residual, time-bucketed at 100 TB); the rollup is one click-keyed
    aggregation with decimal-exact credit sums.
    """
    return attribution_prologue(
        dialect,
        "p.event_id AS purchase_id, p.user_id, p.value, c.event_id AS click_id",
    ) + f""",
credited AS (
  SELECT click_id, user_id, purchase_id,
         CAST(ROUND(CAST(value AS DOUBLE)
                    / COUNT(*) OVER (PARTITION BY purchase_id), 6)
              AS DECIMAL(18,6)) AS credit
  FROM pairs
)
SELECT CAST(click_id AS BIGINT) AS click_id,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases_touched,
       ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS attributed_value
FROM credited
GROUP BY click_id, user_id
"""


register(
    "events_attribution_linear",
    oracle=attribution_linear_sql(DUCKDB),
    doc="multi-touch linear attribution: purchase value split equally "
    "across the lookback window's clicks, per-click revenue rollup with "
    "decimal-exact credit sums",
)(sql_runner(attribution_linear_sql, TABLES))


DECAY_HALF_LIFE_S = 900  # 15-minute half-life for time-decay credit


def attribution_decay_sql(dialect: str) -> str:
    """Time-decay attribution, completing the model family (last-touch /
    linear / decay): each in-window click earns weight 2^(-age/half_life)
    where age = purchase_ts - click_ts, normalized per purchase so credits
    still conserve the purchase's value.  Recency matters but every touch
    counts — the middle ground between last-touch (all) and linear (none).

    Determinism: the weight exponent is an exact integer-microsecond ratio;
    each weight rounds at 9 dp before the per-purchase normalization sum
    (DECIMAL — aggregation order cannot move it), and the final credit
    rounds at 6 dp.  Residual risk (accepted, same as the POWER users in
    curation/prep): POWER is transcendental, so a 1-ulp libm-vs-Math.pow
    difference could straddle a 9-dp rounding boundary on an unlucky
    exponent — the 9-dp round makes this ~1e-7-probable per weight, and
    the parity gate would surface it loudly, not silently.  Same bounded
    pair join as the other two models.
    """
    from serene_spark.functions.sqlgen import epoch_us

    cus = epoch_us(dialect, "c.ts")
    pus = epoch_us(dialect, "p.ts")
    return attribution_prologue(dialect, f"""p.event_id AS purchase_id, p.user_id, p.value,
         c.event_id AS click_id,
         CAST(ROUND(
           POWER(CAST(2 AS DOUBLE),
                 -(({pus} - {cus})
                   / CAST({DECAY_HALF_LIFE_S} * 1000000 AS DOUBLE))),
         9) AS DECIMAL(18,9)) AS w""") + f""",
credited AS (
  SELECT click_id, user_id, purchase_id,
         CAST(ROUND(CAST(value AS DOUBLE) * CAST(w AS DOUBLE)
                    / CAST(SUM(w) OVER (PARTITION BY purchase_id) AS DOUBLE), 6)
              AS DECIMAL(18,6)) AS credit
  FROM pairs
)
SELECT CAST(click_id AS BIGINT) AS click_id,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases_touched,
       ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS attributed_value
FROM credited
GROUP BY click_id, user_id
"""


register(
    "events_attribution_decay",
    oracle=attribution_decay_sql(DUCKDB),
    doc=f"time-decay attribution ({DECAY_HALF_LIFE_S}s half-life), "
    "per-purchase normalized so value conserves; completes the "
    "last-touch/linear/decay model family",
)(sql_runner(attribution_decay_sql, TABLES))


RETENTION_DAYS = (1, 7, 14)


def retention_days_sql(dialect: str) -> str:
    """Classic Dn daily retention beside the weekly cohort matrix: per
    first-activity day (the cohort), the fraction of users active EXACTLY
    n days later, for n in RETENTION_DAYS.  Two keyed aggregations — user
    -> (first day, active-day set) then cohort-day rollup with conditional
    counts; the user-day relation is the only event-cardinality reduce.
    Rates are exact integer ratios rounded at 6 dp.

    RIGHT-CENSORED: a cohort whose day+n horizon exceeds the observed data
    range reports NULL for that horizon, not 0 — a zero there would be
    indistinguishable from genuine 0% retention and bias every
    across-cohort retention-curve average downward at the data edge.
    """
    day = idiv(dialect, f"({epoch_s(dialect, 'ts')})", 86400)
    observable = "first_day + {n} <= (SELECT MAX(day) FROM user_days)"
    flags = ",\n       ".join(
        f"CAST(CASE WHEN {observable.format(n=n)} THEN SUM(d{n}) END AS BIGINT)"
        f" AS d{n}_retained,\n"
        f"       CASE WHEN {observable.format(n=n)} THEN "
        f"ROUND(CAST(SUM(d{n}) AS DOUBLE) / COUNT(*), 6) END AS d{n}_rate"
        for n in RETENTION_DAYS
    )
    day_flags = ",\n         ".join(
        f"MAX(CASE WHEN ud.day = f.first_day + {n} THEN 1 ELSE 0 END) AS d{n}"
        for n in RETENTION_DAYS
    )
    return compose_with(retention_days_bases(dialect), retention_days_tail_sql(dialect))


def retention_days_bases(dialect: str) -> list[tuple[str, str]]:
    day = idiv(dialect, f"({epoch_s(dialect, 'ts')})", 86400)
    return [("user_days", f"""user_days AS (
  SELECT DISTINCT user_id, {day} AS day FROM events
)""")]


def retention_days_tail_sql(dialect: str) -> str:
    observable = "first_day + {n} <= (SELECT MAX(day) FROM user_days)"
    flags = ",\n       ".join(
        f"CAST(CASE WHEN {observable.format(n=n)} THEN SUM(d{n}) END AS BIGINT)"
        f" AS d{n}_retained,\n"
        f"       CASE WHEN {observable.format(n=n)} THEN "
        f"ROUND(CAST(SUM(d{n}) AS DOUBLE) / COUNT(*), 6) END AS d{n}_rate"
        for n in RETENTION_DAYS
    )
    day_flags = ",\n         ".join(
        f"MAX(CASE WHEN ud.day = f.first_day + {n} THEN 1 ELSE 0 END) AS d{n}"
        for n in RETENTION_DAYS
    )
    return f"""
WITH firsts AS (
  SELECT user_id, MIN(day) AS first_day FROM user_days GROUP BY user_id
),
per_user AS (
  SELECT f.user_id, f.first_day,
         {day_flags}
  FROM firsts f JOIN user_days ud ON f.user_id = ud.user_id
  GROUP BY f.user_id, f.first_day
)
SELECT CAST(first_day AS BIGINT) AS cohort_day,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       {flags}
FROM per_user
GROUP BY first_day
"""


register(
    "events_retention_days",
    oracle=retention_days_sql(DUCKDB),
    doc=f"D{'/D'.join(str(n) for n in RETENTION_DAYS)} daily retention per "
    "first-activity-day cohort (exact-day definition); two keyed "
    "aggregations over the reduced user-day relation",
)(sql_runner(retention_days_tail_sql, ("events",),
    stages=cte_stages(retention_days_bases)))


# --- Session entry/exit routes + bounce rate --------------------------------


def session_routes_sql(dialect: str) -> str:
    """Web-analytics session routing: per (entry event type, exit event
    type) route, session counts, bounce share (single-event sessions),
    mean events and span — the report behind "where do sessions start,
    where do they die".  Splices the SAME 30-minute-gap session
    assignment as ``events_sessionize`` (one definition of a session
    engine-wide); entry/exit are deterministic arg_min/arg_max by the
    zero-padded (epoch, event_id) total-order key, so equal-timestamp
    edges cannot flap between engines.  The corpus-wide bounce rate is
    repeated per row from exact integer counts.

    Scale shape: the session assignment is the sessionizer's one
    user-keyed window; everything after is a (route)-keyed agg over the
    session-cardinality relation.
    """
    from serene_spark.functions.sqlgen import arg_max_by, arg_min_by, epoch_us
    from serene_spark.operators.timeseries import _sortkey

    key = _sortkey(dialect)
    return f"""
WITH {session_assign_rel(dialect)},
per_session AS (
  SELECT user_id, session_id,
         COUNT(*) AS n_events,
         {arg_min_by(dialect, "event_type", key)} AS entry_type,
         {arg_max_by(dialect, "event_type", key)} AS exit_type,
         {epoch_us(dialect, "MAX(ts)")} - {epoch_us(dialect, "MIN(ts)")} AS span_us
  FROM sess GROUP BY user_id, session_id
),
tot AS (
  SELECT COUNT(*) AS n_total,
         SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS n_bounce_total
  FROM per_session
)
SELECT entry_type,
       exit_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6) AS avg_events,
       ROUND(CAST(SUM(span_us) AS DOUBLE) / COUNT(*) / 1000000, 6) AS avg_span_sec,
       ROUND(CAST((SELECT n_bounce_total FROM tot) AS DOUBLE)
             / (SELECT n_total FROM tot), 6) AS corpus_bounce_rate
FROM per_session
GROUP BY entry_type, exit_type
ORDER BY entry_type, exit_type
"""


register(
    "session_entry_exit",
    oracle=session_routes_sql("duckdb"),
    doc="session routing report: per (entry, exit) event-type route, "
    "session counts + bounce share + mean events/span; same 30-min "
    "session definition as events_sessionize, deterministic total-order "
    "entry/exit keys",
)(sql_runner(session_routes_sql, ("events",)))
