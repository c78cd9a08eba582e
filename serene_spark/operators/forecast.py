"""Forecasting: Holt's linear-trend exponential smoothing over monthly
revenue, as a recursive CTE over the month-cardinality series.

EWMA (operators/timeseries.py) handles level-only smoothing as a
geometric-weight window because its recurrence has scalar geometric
structure.  Holt's method tracks (level, trend) jointly —

    l_i = alpha*y_i + (1-alpha)*(l_{i-1} + b_{i-1})
    b_i = beta*(l_i - l_{i-1}) + (1-beta)*b_{i-1}

a coupled linear recurrence whose y-coefficients are NOT geometric, so
no window reformulation exists; this is exactly the tree/chain recursion
WITH RECURSIVE covers (supplier_hierarchy_rollup precedent — Spark 4.1
UNION ALL recursion, safe here because the chain advances i by exactly 1
per step: one row per iteration, no multiplicity possible).

Scale shape (100 TB): orders reduce to the MONTH-cardinality series in
one keyed agg (~80 rows here — bounded by the calendar, never data
volume); the recursion walks that tiny relation sequentially, which is
the honest cost of an inherently sequential recurrence.  Spark's
recursion-level limit (spark.sql.cteRecursionLevelLimit, default 100)
bounds the walk — monthly grain keeps any realistic horizon far under
it, and a longer series would aggregate to the same monthly grain first.

Determinism: level and trend are rounded to 9 dp at EVERY recursion step
(both engines re-quantize to the same value before the next step, so
float drift cannot compound); the input series is exact-decimal monthly
revenue cast once to DOUBLE.  Init: l_1 = y_1, b_1 = y_2 - y_1 (Hyndman
& Athanasopoulos, FPP3 ch. 8).  In-sample one-step forecasts join each
row to the previous state; a 3-month horizon extends the final state
linearly (revenue NULL, is_forecast = 1 — never fake actuals).

Reference has no forecasting; extends the analytics surface.
Independent non-SQL reference: pure-python Holt in tests/test_forecast.py.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, explode_seq
from serene_spark.registry import register

ALPHA = "0.3"
BETA = "0.1"
HORIZON = 3


def series_sql(dialect: str) -> str:
    """Month-spine series: a calendar gap month enters as an explicit
    zero-revenue row — without the spine, ROW_NUMBER would splice
    non-adjacent months into consecutive recurrence steps (the same
    reasoning as the CUSUM/ACF day spines)."""
    return f"""
SELECT s.month_key, COALESCE(m.y, CAST(0 AS DOUBLE)) AS y,
       ROW_NUMBER() OVER (ORDER BY s.month_key) AS i
FROM (
  SELECT {explode_seq(dialect, "(SELECT MIN(month_key) FROM __holt_monthly)",
                      "(SELECT MAX(month_key) FROM __holt_monthly)")} AS month_key
  FROM (SELECT 1 AS one) o
) s
LEFT JOIN __holt_monthly m ON m.month_key = s.month_key
"""


MONTHLY_SQL = """
SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
         AS month_key,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
FROM orders
GROUP BY year(o_orderdate), month(o_orderdate)
"""


def series_inline_sql(dialect: str) -> str:
    """Series with the monthly CTE inlined (oracle form)."""
    return (
        "(WITH __holt_monthly AS (" + MONTHLY_SQL + ")"
        + series_sql(dialect) + ")"
    )


def holt_sql(dialect: str, series_rel: str | None = None) -> str:
    """Shared recursion body; ``series_rel`` lets the Spark runner swap in
    a pre-materialized series view (the recursion otherwise re-plans the
    full orders lineage at every level)."""
    a = f"CAST({ALPHA} AS DOUBLE)"
    b = f"CAST({BETA} AS DOUBLE)"
    series = series_rel if series_rel is not None else series_inline_sql(dialect)
    return f"""
WITH RECURSIVE series AS (
  SELECT * FROM {series} s0
),
hw(i, lvl, trd) AS (
  SELECT CAST(1 AS BIGINT),
         s1.y,
         ROUND(s2.y - s1.y, 9)
  FROM series s1 JOIN series s2 ON s1.i = 1 AND s2.i = 2
  UNION ALL
  SELECT t.i, t.nl,
         ROUND({b} * (t.nl - t.lvl) + (1 - {b}) * t.trd, 9)
  FROM (
    SELECT s.i,
           ROUND({a} * s.y + (1 - {a}) * (h.lvl + h.trd), 9) AS nl,
           h.lvl, h.trd
    FROM hw h JOIN series s ON s.i = h.i + 1
  ) t
),
fitted AS (
  SELECT s.month_key, s.i, s.y, h.lvl, h.trd,
         hp.lvl + hp.trd AS forecast
  FROM series s
  JOIN hw h ON h.i = s.i
  LEFT JOIN hw hp ON hp.i = s.i - 1
),
last_state AS (
  SELECT s.month_key AS last_key, h.lvl, h.trd
  FROM hw h JOIN series s ON s.i = h.i
  WHERE h.i = (SELECT MAX(i) FROM series)
),
horizon AS (
  SELECT last_key + h AS month_key, lvl, trd,
         lvl + h * trd AS forecast, h
  FROM (SELECT ls.*, {explode_seq(dialect, 1, HORIZON)} AS h FROM last_state ls) x
)
SELECT CAST(month_key AS BIGINT) AS month_key,
       CAST({_div_mk(dialect)} AS INT) AS yr,
       CAST(month_key % 12 + 1 AS INT) AS mon,
       ROUND(y, 6) AS revenue,
       ROUND(lvl, 6) AS level,
       ROUND(trd, 6) AS trend,
       ROUND(forecast, 6) AS forecast,
       ROUND(y - forecast, 6) AS err,
       CAST(0 AS INT) AS is_forecast
FROM fitted
UNION ALL
SELECT CAST(month_key AS BIGINT),
       CAST({_div_mk(dialect)} AS INT),
       CAST(month_key % 12 + 1 AS INT),
       NULL, ROUND(lvl, 6), ROUND(trd, 6),
       ROUND(forecast, 6), NULL,
       CAST(1 AS INT)
FROM horizon
ORDER BY month_key
"""


def _div_mk(dialect: str) -> str:
    # month_key is non-negative, so truncating and flooring division agree
    from serene_spark.functions.sqlgen import idiv

    return idiv(dialect, "month_key", 12)


def holt_fold_sql(dialect: str) -> str:
    """Spark-only physical form of :func:`holt_sql`: the recursion as ONE
    array fold.

    Spark's WITH RECURSIVE executes one job per recursion level — ~84
    sequential jobs over an 84-row series (measured 19.4 s Spark-side at
    sf0.01 vs ~2 s for everything else in the query).  The series is
    month-cardinality by construction (bounded by the calendar, never data
    volume — the module docstring's scale argument), so the whole coupled
    (level, trend) recurrence fits one ``aggregate()`` over
    ``sort_array(collect_list(...))`` — the same bounded-array fold the
    textlen/numeric median tails use (guide §1.2/§2.4: the per-level
    scheduling was the cost, not the arithmetic).

    Value-identical to ``holt_sql`` by construction: identical init
    (l_1 = y_1, b_1 = round(y_2 - y_1, 9)), identical 9-dp re-quantization
    per step (``nl`` inlined twice — same double arithmetic), identical
    one-step forecast join semantics (``fc`` carries prev.lvl + prev.trd
    unrounded; NULL for i = 1 = the recursive form's LEFT JOIN miss), and
    the same empty/one-month edge (fewer than 2 series rows -> no states ->
    empty output, exactly the recursion's failed init join).  The DuckDB
    oracle keeps the recursive statement; parity pins equality.
    """
    a = f"CAST({ALPHA} AS DOUBLE)"
    b = f"CAST({BETA} AS DOUBLE)"
    prev = "element_at(acc, -1)"
    nl = f"ROUND({a} * x.y + (1 - {a}) * ({prev}.lvl + {prev}.trd), 9)"
    return f"""
WITH __holt_monthly AS ({MONTHLY_SQL}),
series AS ({series_sql(dialect)}),
arr_rel AS (
  SELECT sort_array(collect_list(struct(month_key, y))) AS arr FROM series
),
st AS (
  SELECT CASE WHEN size(arr) < 2 THEN
    CAST(array() AS ARRAY<STRUCT<month_key: BIGINT, y: DOUBLE, lvl: DOUBLE,
                                 trd: DOUBLE, fc: DOUBLE>>)
  ELSE
    aggregate(
      slice(arr, 2, size(arr) - 1),
      array(named_struct(
        'month_key', arr[0].month_key, 'y', arr[0].y,
        'lvl', arr[0].y,
        'trd', ROUND(arr[1].y - arr[0].y, 9),
        'fc', CAST(NULL AS DOUBLE))),
      (acc, x) -> concat(acc, array(named_struct(
        'month_key', x.month_key, 'y', x.y,
        'lvl', {nl},
        'trd', ROUND({b} * ({nl} - {prev}.lvl) + (1 - {b}) * {prev}.trd, 9),
        'fc', {prev}.lvl + {prev}.trd)))
    )
  END AS states
  FROM arr_rel
),
fitted AS (
  SELECT s.month_key, s.y, s.lvl, s.trd, s.fc AS forecast
  FROM st LATERAL VIEW explode(states) t AS s
),
horizon AS (
  SELECT element_at(states, -1).month_key + h AS month_key,
         element_at(states, -1).lvl AS lvl,
         element_at(states, -1).trd AS trd,
         element_at(states, -1).lvl + h * element_at(states, -1).trd AS forecast
  FROM st LATERAL VIEW explode(sequence(1, {HORIZON})) t AS h
  WHERE size(states) > 0
)
SELECT CAST(month_key AS BIGINT) AS month_key,
       CAST({_div_mk(dialect)} AS INT) AS yr,
       CAST(month_key % 12 + 1 AS INT) AS mon,
       ROUND(y, 6) AS revenue,
       ROUND(lvl, 6) AS level,
       ROUND(trd, 6) AS trend,
       ROUND(forecast, 6) AS forecast,
       ROUND(y - forecast, 6) AS err,
       CAST(0 AS INT) AS is_forecast
FROM fitted
UNION ALL
SELECT CAST(month_key AS BIGINT),
       CAST({_div_mk(dialect)} AS INT),
       CAST(month_key % 12 + 1 AS INT),
       NULL, ROUND(lvl, 6), ROUND(trd, 6),
       ROUND(forecast, 6), NULL,
       CAST(1 AS INT)
FROM horizon
ORDER BY month_key
"""


register(
    "holt_forecast_monthly",
    oracle=holt_sql(DUCKDB),
    doc="Holt linear-trend exponential smoothing over monthly revenue via "
    "WITH RECURSIVE on the month-cardinality series (9-dp re-quantized "
    "each step so float drift cannot compound across engines); "
    f"in-sample one-step forecasts + {HORIZON}-month horizon",
)(sql_runner(holt_fold_sql, ("orders",)))


# ---------------------------------------- Holt-Winters (additive, season 7)

HW_ALPHA = "0.3"
HW_BETA = "0.1"
HW_GAMMA = "0.2"
HW_M = 7
HW_HORIZON = 7


def hw_series_sql(dialect: str) -> str:
    """Zero-filled daily purchase-revenue spine with a 1-based index.
    The events window is calendar-bounded (30 days in the corpus; at any
    scale you fit seasonal smoothing on a bounded recent window), so the
    recursion depth is fixed regardless of data volume."""
    return f"""
SELECT s.day, COALESCE(p.rev, CAST(0 AS DECIMAL(18,2))) AS rev,
       CAST(COALESCE(p.rev, 0) AS DOUBLE) AS y,
       ROW_NUMBER() OVER (ORDER BY s.day) AS i
FROM (
  SELECT {explode_seq(dialect, "(SELECT MIN(day) FROM __hw_daily)",
                      "(SELECT MAX(day) FROM __hw_daily)")} AS day
  FROM (SELECT 1 AS one) o
) s
LEFT JOIN __hw_daily p ON p.day = s.day
"""


def hw_daily_sql(dialect: str) -> str:
    from serene_spark.functions.sqlgen import epoch_s

    day = f"CAST(FLOOR(({epoch_s(dialect, 'ts')}) / 86400.0) AS BIGINT)"
    return f"""
SELECT {day} AS day, SUM(CAST(value AS DECIMAL(18,2))) AS rev
FROM events
WHERE event_type = 'purchase' AND value IS NOT NULL
GROUP BY {day}
"""


def hw_series_inline_sql(dialect: str) -> str:
    return (
        "(WITH __hw_daily AS (" + hw_daily_sql(dialect) + ")"
        + hw_series_sql(dialect) + ")"
    )


def holt_winters_sql(dialect: str, series_rel: str | None = None) -> str:
    """Additive Holt-Winters (FPP3 ch. 8.3): level + trend + a ROTATING
    7-slot seasonal register carried through the recursion —

        l_t = a(y_t - s_{t-m}) + (1-a)(l_{t-1} + b_{t-1})
        b_t = B(l_t - l_{t-1}) + (1-B)b_{t-1}
        s_t = G(y_t - l_{t-1} - b_{t-1}) + (1-G)s_{t-m}

    WITH RECURSIVE carries (lvl, trd, s1..s7) where s1 is always the
    seasonal index the NEXT step consumes; each update shifts the
    register left and appends the refreshed index.  Init (classical):
    l_m = mean(week 1), b_m = (mean(week 2) - mean(week 1))/m, s_j =
    y_j - mean(week 1) — all from decimal-exact weekly sums.  Every
    state component re-quantizes to 9 dp per step, so float drift
    cannot compound across engines.  In-sample one-step forecasts join
    each row to the previous state; the {HW_HORIZON}-day horizon reads
    the final register directly (slot h seasons step N+h)."""
    a = f"CAST({HW_ALPHA} AS DOUBLE)"
    b = f"CAST({HW_BETA} AS DOUBLE)"
    g = f"CAST({HW_GAMMA} AS DOUBLE)"
    m = HW_M
    series = series_rel if series_rel is not None else hw_series_inline_sql(dialect)
    regs = ", ".join(f"s{j}" for j in range(1, m + 1))
    y_arms = ",\n         ".join(
        f"CAST(MAX(CASE WHEN i = {j} THEN rev END) AS DOUBLE) AS y{j}"
        for j in range(1, m + 1)
    )
    s_init = ",\n         ".join(
        f"ROUND(i0.y{j} - CAST(i0.w1 AS DOUBLE) / {m}, 9)" for j in range(1, m + 1)
    )
    rotate = ", ".join(f"t.s{j}" for j in range(2, m + 1))
    h_case = "CASE h " + " ".join(
        f"WHEN {j} THEN s{j}" for j in range(1, m + 1)
    ) + " END"
    return f"""
WITH RECURSIVE series AS (
  SELECT * FROM {series} s0
),
init AS (
  SELECT SUM(CASE WHEN i BETWEEN 1 AND {m} THEN rev END) AS w1,
         SUM(CASE WHEN i BETWEEN {m + 1} AND {2 * m} THEN rev END) AS w2,
         {y_arms}
  FROM series
),
hw(i, lvl, trd, {regs}) AS (
  SELECT CAST({m} AS BIGINT),
         ROUND(CAST(i0.w1 AS DOUBLE) / {m}, 9),
         ROUND((CAST(i0.w2 AS DOUBLE) - CAST(i0.w1 AS DOUBLE)) / ({m} * {m}), 9),
         {s_init}
  FROM init i0
  UNION ALL
  SELECT t.i,
         t.nl,
         ROUND({b} * (t.nl - t.lvl) + (1 - {b}) * t.trd, 9),
         {rotate},
         ROUND({g} * (t.y - t.lvl - t.trd) + (1 - {g}) * t.s1, 9)
  FROM (
    SELECT s.i, s.y, h.lvl, h.trd, {", ".join(f"h.s{j} AS s{j}" for j in range(1, m + 1))},
           ROUND({a} * (s.y - h.s1) + (1 - {a}) * (h.lvl + h.trd), 9) AS nl
    FROM hw h JOIN series s ON s.i = h.i + 1
  ) t
),
fitted AS (
  SELECT s.day, s.i, s.y, h.lvl, h.trd,
         hp.lvl + hp.trd + hp.s1 AS forecast
  FROM series s
  JOIN hw h ON h.i = s.i
  JOIN hw hp ON hp.i = s.i - 1
),
last_state AS (
  SELECT s.day AS last_day, h.*
  FROM hw h JOIN series s ON s.i = h.i
  WHERE h.i = (SELECT MAX(i) FROM series)
),
horizon AS (
  SELECT last_day + h AS day, lvl + h * trd + {h_case} AS forecast,
         lvl, trd, h
  FROM (SELECT ls.*, {explode_seq(dialect, 1, HW_HORIZON)} AS h
        FROM last_state ls) x
)
SELECT CAST(day AS BIGINT) AS day,
       ROUND(y, 6) AS revenue,
       ROUND(lvl, 6) AS level,
       ROUND(trd, 6) AS trend,
       ROUND(forecast, 6) AS forecast,
       ROUND(y - forecast, 6) AS err,
       CAST(0 AS INT) AS is_forecast
FROM fitted
UNION ALL
SELECT CAST(day AS BIGINT),
       NULL, ROUND(lvl, 6), ROUND(trd, 6), ROUND(forecast, 6), NULL,
       CAST(1 AS INT)
FROM horizon
ORDER BY day
"""


def holt_winters_fold_sql(dialect: str) -> str:
    """Spark-only physical form of :func:`holt_winters_sql` — the recursion
    as ONE array fold, exactly like :func:`holt_fold_sql` (one job instead
    of one job per recursion level; measured 9.3 s -> ~1 s Spark-side at
    sf0.01 over the ~30-day window).

    The state carries the rotating 7-slot register; the init CTE is the
    byte-identical classical-init aggregation from the recursive form, and
    each step re-quantizes to 9 dp with ``nl`` inlined — the same double
    arithmetic in the same order.  Fitted rows are states with i > m (the
    recursive form's INNER join to the previous state drops i = m); the
    horizon fires only when the last state's i equals the last series index
    (for n >= m that is always true; for n < m the recursion's init row
    never matches MAX(series.i) and the fold emits no states at all).
    """
    a = f"CAST({HW_ALPHA} AS DOUBLE)"
    b = f"CAST({HW_BETA} AS DOUBLE)"
    g = f"CAST({HW_GAMMA} AS DOUBLE)"
    m = HW_M
    prev = "element_at(acc, -1)"
    nl = f"ROUND({a} * (x.y - {prev}.s1) + (1 - {a}) * ({prev}.lvl + {prev}.trd), 9)"
    y_arms = ",\n         ".join(
        f"CAST(MAX(CASE WHEN i = {j} THEN rev END) AS DOUBLE) AS y{j}"
        for j in range(1, m + 1)
    )
    state_t = ("STRUCT<i: INT, day: BIGINT, y: DOUBLE, lvl: DOUBLE, trd: DOUBLE, "
               + ", ".join(f"s{j}: DOUBLE" for j in range(1, m + 1))
               + ", fc: DOUBLE>")
    init_fields = ", ".join(
        [f"'i', {m}", f"'day', element_at(arr, {m}).day",
         f"'y', element_at(arr, {m}).y",
         "'lvl', ROUND(CAST(i0.w1 AS DOUBLE) / 7, 9)",
         "'trd', ROUND((CAST(i0.w2 AS DOUBLE) - CAST(i0.w1 AS DOUBLE)) / 49, 9)"]
        + [f"'s{j}', ROUND(i0.y{j} - CAST(i0.w1 AS DOUBLE) / {m}, 9)"
           for j in range(1, m + 1)]
        + ["'fc', CAST(NULL AS DOUBLE)"]
    )
    step_fields = ", ".join(
        ["'i', x.i", "'day', x.day", "'y', x.y",
         f"'lvl', {nl}",
         f"'trd', ROUND({b} * ({nl} - {prev}.lvl) + (1 - {b}) * {prev}.trd, 9)"]
        + [f"'s{j}', {prev}.s{j + 1}" for j in range(1, m)]
        + [f"'s{m}', ROUND({g} * (x.y - {prev}.lvl - {prev}.trd) + (1 - {g}) * {prev}.s1, 9)",
           f"'fc', {prev}.lvl + {prev}.trd + {prev}.s1"]
    )
    h_case = "CASE h " + " ".join(
        f"WHEN {j} THEN last.s{j}" for j in range(1, m + 1)
    ) + " END"
    return f"""
WITH __hw_daily AS ({hw_daily_sql(dialect)}),
series AS ({hw_series_sql(dialect)}),
init AS (
  SELECT SUM(CASE WHEN i BETWEEN 1 AND {m} THEN rev END) AS w1,
         SUM(CASE WHEN i BETWEEN {m + 1} AND {2 * m} THEN rev END) AS w2,
         {y_arms}
  FROM series
),
arr_rel AS (
  SELECT sort_array(collect_list(struct(CAST(i AS INT) AS i, day, y))) AS arr
  FROM series
),
st AS (
  SELECT arr, CASE WHEN size(arr) < {m} THEN
    CAST(array() AS ARRAY<{state_t}>)
  ELSE
    aggregate(
      slice(arr, {m + 1}, size(arr) - {m}),
      array(named_struct({init_fields})),
      (acc, x) -> concat(acc, array(named_struct({step_fields})))
    )
  END AS states
  FROM arr_rel CROSS JOIN init i0
),
fitted AS (
  SELECT s.day, s.y, s.lvl, s.trd, s.fc AS forecast
  FROM st LATERAL VIEW explode(states) t AS s
  WHERE s.i > {m}
),
last_state AS (
  SELECT element_at(states, -1) AS last
  FROM st
  WHERE size(states) > 0
    AND element_at(states, -1).i = try_element_at(arr, -1).i
),
horizon AS (
  SELECT last.day + h AS day, last.lvl + h * last.trd + {h_case} AS forecast,
         last.lvl AS lvl, last.trd AS trd
  FROM last_state LATERAL VIEW explode(sequence(1, {HW_HORIZON})) t AS h
)
SELECT CAST(day AS BIGINT) AS day,
       ROUND(y, 6) AS revenue,
       ROUND(lvl, 6) AS level,
       ROUND(trd, 6) AS trend,
       ROUND(forecast, 6) AS forecast,
       ROUND(y - forecast, 6) AS err,
       CAST(0 AS INT) AS is_forecast
FROM fitted
UNION ALL
SELECT CAST(day AS BIGINT),
       NULL, ROUND(lvl, 6), ROUND(trd, 6), ROUND(forecast, 6), NULL,
       CAST(1 AS INT)
FROM horizon
ORDER BY day
"""


register(
    "holt_winters_daily",
    oracle=holt_winters_sql(DUCKDB),
    doc="additive Holt-Winters (season 7) over daily purchase revenue via "
    "WITH RECURSIVE carrying a rotating 7-slot seasonal register, 9-dp "
    "re-quantized per step; classical first/second-week init, in-sample "
    f"one-step forecasts + {HW_HORIZON}-day seasonal horizon",
)(sql_runner(holt_winters_fold_sql, ("events",)))
