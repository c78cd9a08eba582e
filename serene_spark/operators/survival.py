"""Survival analysis: Kaplan-Meier estimation of time-to-next-order.

The question every retention team asks — "how long until a customer
orders again, and how many never do?" — is a right-censored duration
problem: consecutive order gaps are OBSERVED events, while the gap from
each customer's last order to the end of the observation window is
CENSORED (the next order simply hasn't happened yet).  Treating censored
gaps as events (or dropping them) biases the curve optimistic; the
Kaplan-Meier product-limit estimator is the standard correction
(Kaplan & Meier 1958).

    S(t) = prod_{t_i <= t} (1 - d_i / n_i)

with d_i events at duration t_i and n_i the at-risk count (durations
>= t_i, censored included).

Scale shape (100 TB): ONE window pass over orders (LEAD per customer —
the same per-key shuffle every sessionization uses) reduces the corpus
to per-duration counts ``(gap_days, n_events, n_censored)`` — a relation
bounded by the calendar span (~2.4k rows here, never data-scale).  The
at-risk counts and the product-limit curve are cumulative windows over
that SMALL relation; the product is computed as EXP of a cumulative sum
of 12-dp-rounded log terms summed in DECIMAL, so partial-aggregation
order cannot move a digit and both engines agree bit-for-bit after the
6-dp output round.  The d = n_risk boundary (everything still at risk
dies at the largest duration) is emitted as an exact 0.0 rather than
LN(0), which Spark NULLs and DuckDB -infs — a real dialect divergence.

The stratified variant partitions every window by ``c_mktsegment``
(broadcast dim join) — per-stratum curves from the same single scan.

Reference has no survival analysis; this extends the analytics surface
(like the A/B and seasonality family in operators/experiments.py).
Independent non-SQL reference: pure-python KM in tests/test_survival.py.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_s, idiv
from serene_spark.registry import register


def _km_sql(dialect: str, stratified: bool) -> str:
    day = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    if stratified:
        seg_sel = "c.c_mktsegment AS seg,"
        seg_col = "seg,"
        part = "PARTITION BY seg"
        seg_out = "seg AS mktsegment,"
        join = "JOIN customer c ON c.c_custkey = o.o_custkey"
    else:
        seg_sel = "'ALL' AS seg,"
        seg_col = "seg,"
        part = "PARTITION BY seg"
        seg_out = ""
        join = ""
    return f"""
WITH ordered AS (
  SELECT {seg_sel} o.o_custkey, {day} AS day,
         LEAD({day}) OVER (PARTITION BY o.o_custkey ORDER BY {day}, o.o_orderkey)
           AS next_day
  FROM orders o {join}
),
horizon AS (
  SELECT MAX(day) AS mx FROM ordered
),
durs AS (
  -- one duration per order: observed gap to the customer's next order,
  -- or the censored gap from the last order to the observation horizon
  SELECT {seg_col}
         CASE WHEN next_day IS NULL THEN (SELECT mx FROM horizon) - day
              ELSE next_day - day END AS dur,
         CASE WHEN next_day IS NULL THEN 0 ELSE 1 END AS ev
  FROM ordered
),
hist AS (
  SELECT {seg_col} dur,
         SUM(ev) AS d,
         COUNT(*) - SUM(ev) AS c
  FROM durs GROUP BY {seg_col} dur
),
risk AS (
  SELECT {seg_col} dur, d, c,
         SUM(d + c) OVER ({part} ORDER BY dur DESC) AS n_risk
  FROM hist
),
km AS (
  SELECT {seg_col} dur, d, c, n_risk,
         SUM(CAST(CASE WHEN d < n_risk
                       THEN ROUND(LN(1 - CAST(d AS DOUBLE) / n_risk), 12)
                       ELSE 0 END AS DECIMAL(28,12)))
           OVER ({part} ORDER BY dur ASC) AS log_s,
         MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
           OVER ({part} ORDER BY dur ASC) AS absorbed
  FROM risk
)
SELECT {seg_out}
       CAST(dur AS BIGINT) AS gap_days,
       CAST(d AS BIGINT) AS n_events,
       CAST(c AS BIGINT) AS n_censored,
       CAST(n_risk AS BIGINT) AS n_risk,
       CASE WHEN absorbed = 1 THEN CAST(0.0 AS DOUBLE)
            ELSE ROUND(EXP(CAST(log_s AS DOUBLE)), 6) END AS survival
FROM km
ORDER BY {seg_col} gap_days
"""


def km_overall_sql(dialect: str) -> str:
    return _km_sql(dialect, stratified=False)


def km_segment_sql(dialect: str) -> str:
    return _km_sql(dialect, stratified=True)


register(
    "km_order_gap",
    oracle=km_overall_sql(DUCKDB),
    doc="Kaplan-Meier survival curve of time-to-next-order: consecutive "
    "gaps observed, last-order gaps right-censored at the horizon; "
    "product-limit via decimal-summed 12-dp log terms over the "
    "duration histogram (calendar-bounded, never data-scale)",
)(sql_runner(km_overall_sql, ("orders",)))

register(
    "km_order_gap_by_segment",
    oracle=km_segment_sql(DUCKDB),
    doc="segment-stratified Kaplan-Meier repurchase curves (broadcast "
    "customer-dim join, per-segment windows over the same one scan)",
)(sql_runner(km_segment_sql, ("orders", "customer")))


# ----------------------------------------------------------- log-rank test

LR_SEG_A = "BUILDING"
LR_SEG_B = "MACHINERY"


def logrank_bases(dialect: str) -> list[tuple[str, str]]:
    """Per-duration two-group histogram (d_j deaths, t_j total arrivals)
    from the SAME duration construction as the KM curves: consecutive
    order gaps observed, last-order gaps censored at the horizon.  One
    LEAD pass over two segments' orders -> a calendar-bounded relation;
    materialized because the tail reads it through two cumulative windows
    and the group-size scalars."""
    from serene_spark.functions.sqlgen import mat

    day = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    body = f"""ordered AS (
  SELECT c.c_mktsegment AS seg, o.o_custkey, {day} AS day,
         LEAD({day}) OVER (PARTITION BY o.o_custkey ORDER BY {day}, o.o_orderkey)
           AS next_day
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE c.c_mktsegment IN ('{LR_SEG_A}', '{LR_SEG_B}')
),
horizon AS (
  SELECT MAX(day) AS mx FROM ordered
),
durs AS (
  SELECT seg,
         CASE WHEN next_day IS NULL THEN (SELECT mx FROM horizon) - day
              ELSE next_day - day END AS dur,
         CASE WHEN next_day IS NULL THEN 0 ELSE 1 END AS ev
  FROM ordered
),
lr_hist AS {mat(dialect)}(
  SELECT dur,
         SUM(CASE WHEN seg = '{LR_SEG_A}' THEN ev ELSE 0 END) AS d1,
         SUM(CASE WHEN seg = '{LR_SEG_B}' THEN ev ELSE 0 END) AS d2,
         SUM(CASE WHEN seg = '{LR_SEG_A}' THEN 1 ELSE 0 END) AS t1,
         SUM(CASE WHEN seg = '{LR_SEG_B}' THEN 1 ELSE 0 END) AS t2
  FROM durs GROUP BY dur
)"""
    return [("lr_hist", body)]


def logrank_tail_sql(dialect: str) -> str:
    """Mantel-Haenszel log-rank over the pooled duration spine: at every
    duration with deaths, expected-under-H0 e1 = d*n1/n and the
    hypergeometric variance v = d*(n1/n)*(n2/n)*(n-d)/(n-1); terms are
    12-dp-quantized decimal sums (aggregation-order independent), the
    observed counts stay exact integers end-to-end."""
    return f"""
WITH risk AS (
  SELECT dur, d1, d2,
         SUM(t1) OVER (ORDER BY dur DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n1,
         SUM(t2) OVER (ORDER BY dur DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n2
  FROM lr_hist
),
contrib AS (
  SELECT dur, d1, d2, n1, n2, d1 + d2 AS d, n1 + n2 AS n
  FROM risk WHERE d1 + d2 > 0
),
terms AS (
  SELECT SUM(d1) AS o1, SUM(d2) AS o2,
         SUM(CAST(ROUND(CAST(d AS DOUBLE) * n1 / n, 12)
                  AS DECIMAL(28,12))) AS e1,
         SUM(CAST(ROUND(CAST(d AS DOUBLE) * n2 / n, 12)
                  AS DECIMAL(28,12))) AS e2,
         SUM(CAST(ROUND(CASE WHEN n > 1
                             THEN CAST(d AS DOUBLE) * n1 * n2 * (n - d)
                                  / (CAST(n AS DOUBLE) * n * (n - 1))
                             ELSE 0 END, 12) AS DECIMAL(28,12))) AS v
  FROM contrib
),
sizes AS (
  SELECT SUM(t1) AS subj1, SUM(t2) AS subj2 FROM lr_hist
)
SELECT '{LR_SEG_A}' AS seg_a,
       '{LR_SEG_B}' AS seg_b,
       CAST((SELECT subj1 FROM sizes) AS BIGINT) AS n_durations_a,
       CAST((SELECT subj2 FROM sizes) AS BIGINT) AS n_durations_b,
       CAST(o1 AS BIGINT) AS observed_a,
       ROUND(CAST(e1 AS DOUBLE), 6) AS expected_a,
       CAST(o2 AS BIGINT) AS observed_b,
       ROUND(CAST(e2 AS DOUBLE), 6) AS expected_b,
       CASE WHEN CAST(v AS DOUBLE) = 0 THEN NULL
            ELSE ROUND((o1 - CAST(e1 AS DOUBLE)) * (o1 - CAST(e1 AS DOUBLE))
                       / CAST(v AS DOUBLE), 6) END AS chi2,
       CASE WHEN CAST(v AS DOUBLE) = 0 THEN NULL
            ELSE ROUND((o1 - CAST(e1 AS DOUBLE)) / sqrt(CAST(v AS DOUBLE)), 6)
            END AS z
FROM terms
"""


def logrank_sql(dialect: str) -> str:
    return compose_with(logrank_bases(dialect), logrank_tail_sql(dialect))


register(
    "km_logrank_segments",
    oracle=logrank_sql(DUCKDB),
    doc=f"Mantel-Haenszel log-rank test comparing {LR_SEG_A} vs {LR_SEG_B} "
    "repurchase-gap survival (the KM curves' companion test): exact "
    "integer observed counts, 12-dp-quantized decimal expected/variance "
    "sums over the calendar-bounded duration spine",
)(sql_runner(logrank_tail_sql, ("orders", "customer"),
             stages=cte_stages(logrank_bases)))


# --- Nelson-Aalen cumulative hazard ------------------------------------------


def nelson_aalen_sql(dialect: str) -> str:
    """Nelson-Aalen cumulative-hazard estimator over the SAME
    time-to-next-order duration relation as Kaplan-Meier:

        H(t) = sum_{t_i <= t} d_i / n_i        (Nelson 1972; Aalen 1978)

    plus its standard error from the variance estimate sum d_i/n_i^2, and
    the Fleming-Harrington survival exp(-H) emitted beside KM's
    product-limit value — the two estimators' gap shrinks as risk sets
    grow, and emitting both makes that check readable.  Hazard increments
    are 12-dp-quantized and DECIMAL-summed (the KM log-term convention),
    so the cumulative sums are aggregation-order exact."""
    day = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    return f"""
WITH ordered AS (
  SELECT o.o_custkey, {day} AS day,
         LEAD({day}) OVER (PARTITION BY o.o_custkey ORDER BY {day}, o.o_orderkey)
           AS next_day
  FROM orders o
),
horizon AS (
  SELECT MAX(day) AS mx FROM ordered
),
durs AS (
  SELECT CASE WHEN next_day IS NULL THEN (SELECT mx FROM horizon) - day
              ELSE next_day - day END AS dur,
         CASE WHEN next_day IS NULL THEN 0 ELSE 1 END AS ev
  FROM ordered
),
hist AS (
  SELECT dur, SUM(ev) AS d, COUNT(*) - SUM(ev) AS c
  FROM durs GROUP BY dur
),
risk AS (
  SELECT dur, d, c,
         SUM(d + c) OVER (ORDER BY dur DESC) AS n_risk
  FROM hist
),
na AS (
  SELECT dur, d, c, n_risk,
         SUM(CAST(ROUND(CAST(d AS DOUBLE) / n_risk, 12) AS DECIMAL(28,12)))
           OVER (ORDER BY dur ASC) AS h,
         SUM(CAST(ROUND(CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * n_risk), 12)
                  AS DECIMAL(28,12)))
           OVER (ORDER BY dur ASC) AS var_h
  FROM risk
)
SELECT CAST(dur AS BIGINT) AS gap_days,
       CAST(d AS BIGINT) AS n_events,
       CAST(n_risk AS BIGINT) AS n_risk,
       ROUND(CAST(h AS DOUBLE), 6) AS cum_hazard,
       ROUND(sqrt(CAST(var_h AS DOUBLE)), 6) AS se_hazard,
       ROUND(EXP(-CAST(h AS DOUBLE)), 6) AS survival_fh
FROM na
ORDER BY gap_days
"""


register(
    "nelson_aalen_hazard",
    oracle=nelson_aalen_sql(DUCKDB),
    doc="Nelson-Aalen cumulative hazard + SE over the time-to-next-order "
    "durations (same risk-set relation as KM), with the Fleming-"
    "Harrington exp(-H) survival emitted for cross-checking the "
    "product-limit curve",
)(sql_runner(nelson_aalen_sql, ("orders",)))
