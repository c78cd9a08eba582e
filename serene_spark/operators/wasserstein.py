"""Optimal-transport drift metric — exact 1-D Wasserstein-1 (earth
mover's) distance between two value distributions.

``wasserstein_value_dist``: W₁ between the click-value and purchase-value
distributions.  In one dimension the transport problem has the closed
form W₁ = ∫|F_a(v) − F_b(v)| dv, which over a finite sample is an EXACT
sum over consecutive distinct values:
Σ_i |F_a(v_i) − F_b(v_i)| · (v_{i+1} − v_i).  Where KS (drift_ks_events)
reports only the worst vertical CDF gap and PSI needs binning choices,
W₁ integrates the whole discrepancy in the VALUE's own units (here:
currency) with no bins and no tuning — the modern distribution-shift
metric.  CDF values are exact integer-count ratios; each segment term is
12-dp-quantized and DECIMAL-summed.

Scale: one scan → per-(side, value) counts → cumulative windows over the
DISTINCT-value relation (bounded by value cardinality, never row count) —
the engine-wide exact-quantile shape.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.registry import register

SIDE_A = "click"
SIDE_B = "purchase"


def _w1_bases(dialect: str) -> list[tuple[str, str]]:
    """hist is referenced twice (totals + CDF); materialized so the events
    scan runs once instead of being inlined per reference."""
    v = "CAST(value AS DECIMAL(18,2))"
    return [("hist", f"""sides AS (
  SELECT CASE WHEN event_type = '{SIDE_A}' THEN 'a' ELSE 'b' END AS side, {v} AS v
  FROM events
  WHERE event_type IN ('{SIDE_A}', '{SIDE_B}') AND value IS NOT NULL
),
hist AS {mat(dialect)}(
  SELECT v,
         SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS ca,
         SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS cb
  FROM sides GROUP BY v
)""")]


def _w1_sql(dialect: str) -> str:
    return f"""
WITH tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM hist),
cdf AS (
  SELECT v,
         SUM(ca) OVER (ORDER BY v) AS cum_a,
         SUM(cb) OVER (ORDER BY v) AS cum_b,
         LEAD(v) OVER (ORDER BY v) AS v_next
  FROM hist
),
segs AS (
  SELECT CAST(ROUND(
           ABS(CAST(c.cum_a AS DOUBLE) / t.na - CAST(c.cum_b AS DOUBLE) / t.nb)
           * (CAST(c.v_next AS DOUBLE) - CAST(c.v AS DOUBLE)), 12)
         AS DECIMAL(28,12)) AS term
  FROM cdf c JOIN tot t ON 1 = 1
  WHERE c.v_next IS NOT NULL
)
SELECT CAST(t.na AS BIGINT) AS n_{SIDE_A},
       CAST(t.nb AS BIGINT) AS n_{SIDE_B},
       ROUND(CAST((SELECT SUM(term) FROM segs) AS DOUBLE), 6) AS wasserstein_1
FROM tot t
"""


register(
    "wasserstein_value_dist",
    oracle=compose_with(_w1_bases(DUCKDB), _w1_sql(DUCKDB)),
    doc=f"Exact 1-D Wasserstein-1 distance between {SIDE_A} and {SIDE_B} "
    "value distributions: closed-form CDF-gap integral over consecutive "
    "distinct values — binless drift in the value's own units; "
    "12-dp-quantized decimal segment sums",
)(sql_runner(_w1_sql, ("events",), stages=cte_stages(_w1_bases)))
