"""Test batteries and extreme-value statistics — the meta-layer over the
hypothesis-test family (operators/hypothesis_tests.py runs single tests;
real dashboards run MANY and must control the false-discovery rate) and
the tail-risk fit every ops/finance readout wants.

* ``multiple_testing_bh`` — one-vs-rest Welch t-test of event ``value``
  for EVERY event type, with Benjamini-Hochberg FDR adjustment across the
  battery: p-values from the large-df normal approximation using the
  Abramowitz-Stegun 7.1.26 erf polynomial (|ε| < 1.5e-7 — neither engine
  ships erf, so the SAME closed-form expression runs on both), BH
  adjusted p = the reverse cumulative minimum of p·m/rank (one window
  over the m-row battery), rejection flags at FDR_Q.  Per-test moments
  are the engine-standard exact decimal (n, Σx, Σx²) sums.
* ``evt_gumbel_return`` — Gumbel (EV-I) fit of MONTHLY MAXIMUM order
  value by the method of moments (σ̂ = s·√6/π, μ̂ = x̄ − γ·σ̂, Euler γ),
  with 12- and 120-month return levels μ − σ·ln(−ln(1−1/T)) — "the
  largest order we should expect in a decade".  Block maxima are one
  month-keyed agg; the fit runs on the ~84-row maxima relation with
  decimal-exact moments.

Scale: both reduce the fact table in one keyed pass; the batteries and
fits run on constant-size relations.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.registry import register

FDR_Q = 0.05
EULER_GAMMA = 0.5772156649015329


def normal_sf(z: str) -> str:
    """Upper-tail P(Z > z) for z >= 0 via Abramowitz-Stegun 7.1.26
    (|error| < 1.5e-7), dialect-shared: erfc(x) = poly(t)·exp(−x²),
    t = 1/(1 + 0.3275911·x), x = z/√2."""
    x = f"(({z}) / 1.4142135623730951)"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    poly = (f"((((1.061405429 * {t} - 1.453152027) * {t} + 1.421413741)"
            f" * {t} - 0.284496736) * {t} + 0.254829592)")
    return f"(0.5 * {poly} * {t} * EXP(-{x} * {x}))"


def _bh_sql(dialect: str) -> str:
    v = "CAST(value AS DECIMAL(18,2))"
    t_abs = """ABS((CAST(g.s AS DOUBLE) / g.n - (CAST(t.s_tot AS DOUBLE) - g.s) / (t.n_tot - g.n))
      / sqrt(
          (CAST(g.q AS DOUBLE) - CAST(g.s AS DOUBLE) * CAST(g.s AS DOUBLE) / g.n)
            / (g.n - 1) / g.n
          + ((CAST(t.q_tot AS DOUBLE) - g.q)
             - (CAST(t.s_tot AS DOUBLE) - g.s) * (CAST(t.s_tot AS DOUBLE) - g.s)
               / (t.n_tot - g.n))
            / (t.n_tot - g.n - 1) / (t.n_tot - g.n)))"""
    return f"""
WITH per AS {mat(dialect)}(
  SELECT event_type, COUNT(*) AS n, SUM({v}) AS s, SUM({v} * {v}) AS q
  FROM events WHERE value IS NOT NULL GROUP BY event_type
),
tot AS (
  SELECT SUM(n) AS n_tot, SUM(s) AS s_tot, SUM(q) AS q_tot, COUNT(*) AS m
  FROM per
),
tests AS (
  SELECT g.event_type,
         CAST(g.n AS BIGINT) AS n_group,
         ROUND({t_abs}, 6) AS t_abs,
         ROUND(LEAST(1.0, 2 * {normal_sf(t_abs)}), 9) AS p_raw,
         t.m
  FROM per g JOIN tot t ON 1 = 1
),
ranked AS (
  SELECT event_type, n_group, t_abs, p_raw, m,
         ROW_NUMBER() OVER (ORDER BY p_raw, event_type) AS rk
  FROM tests
),
adjusted AS (
  -- BH step-up: p_bh(i) = min_{{j >= i}} p(j)·m/j, a reverse running min
  SELECT event_type, n_group, t_abs, p_raw, rk, m,
         MIN(ROUND(LEAST(1.0, p_raw * m / rk), 9))
           OVER (ORDER BY rk DESC) AS p_bh
  FROM ranked
)
SELECT event_type,
       n_group,
       t_abs,
       ROUND(p_raw, 6) AS p_raw,
       ROUND(p_bh, 6) AS p_bh,
       CAST(CASE WHEN p_bh <= {FDR_Q} THEN 1 ELSE 0 END AS INT) AS rejected
FROM adjusted
ORDER BY p_raw, event_type
"""


register(
    "multiple_testing_bh",
    oracle=_bh_sql(DUCKDB),
    doc="One-vs-rest Welch t battery over event types with Benjamini-"
    "Hochberg FDR adjustment (reverse running-min window over the "
    "battery); p-values via the shared Abramowitz-Stegun erf polynomial",
)(sql_runner(_bh_sql, ("events",)))


def _gumbel_sql(dialect: str) -> str:
    mi = ("(CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) * 12"
          " + CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT))")
    # CAST to DOUBLE: a bare 1.0 literal is DECIMAL in both engines and
    # decimal division truncates at ENGINE-SPECIFIC scales (measured: the
    # 120-month level moved 0.32 between engines)
    rl = "ROUND(mu - sigma * ln(-ln(1.0 - CAST(1 AS DOUBLE) / {t})), 2)"
    return f"""
WITH maxima AS {mat(dialect)}(
  SELECT {mi} AS m, MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS mx
  FROM orders GROUP BY {mi}
),
mom AS (
  SELECT COUNT(*) AS n, SUM(mx) AS s, SUM(mx * mx) AS q FROM maxima
),
fit AS (
  SELECT n,
         CAST(s AS DOUBLE) / n AS mean_max,
         sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
              / (n - 1)) * 0.7796968012336092 AS sigma
  FROM mom
),
params AS (
  SELECT n, mean_max, sigma,
         mean_max - {EULER_GAMMA} * sigma AS mu
  FROM fit
)
SELECT CAST(n AS BIGINT) AS n_blocks,
       ROUND(mean_max, 2) AS mean_block_max,
       ROUND(mu, 2) AS gumbel_mu,
       ROUND(sigma, 2) AS gumbel_sigma,
       {rl.format(t=12)} AS return_level_12mo,
       {rl.format(t=120)} AS return_level_120mo
FROM params
"""


register(
    "evt_gumbel_return",
    oracle=_gumbel_sql(DUCKDB),
    doc="Gumbel (EV-I) fit of monthly-maximum order value by method of "
    "moments (sigma = s*sqrt(6)/pi, mu = mean - gamma*sigma) with 12- and "
    "120-month return levels; block maxima from one month-keyed agg",
)(sql_runner(_gumbel_sql, ("orders",)))
