"""Survey-sampling design — Neyman-optimal stratified allocation, the
design-side companion of the execution-side ``stratified_sample``
(operators/curation.py): before an engine DRAWS a stratified sample it
should compute how big each stratum's draw ought to be.

``neyman_allocation``: for a total sample budget of ``BUDGET`` rows over
order-priority strata, the Neyman allocation n_h ∝ N_h·σ_h (Neyman 1934)
against the proportional baseline n_h ∝ N_h.  Per stratum: population
size, exact-decimal-moment standard deviation of the target
(o_totalprice), both allocations, and — carried on every row — the
anticipated estimator variances V = Σ (N_h/N)²·σ_h²/n_h under each
design, whose ratio is the measured design effect (Neyman ≤ proportional
by Cauchy-Schwarz; the query emits the inequality's two sides instead of
assuming it).

Scale: one scan → per-stratum (n, Σx, Σx²) map-side-combinable sums on a
constant-cardinality key; the allocation algebra runs on the tiny stratum
relation.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.registry import register

BUDGET = 10000


def _neyman_sql(dialect: str) -> str:
    v = "CAST(o_totalprice AS DECIMAL(18,2))"
    return f"""
WITH m AS {mat(dialect)}(
  SELECT o_orderpriority AS stratum, COUNT(*) AS n, SUM({v}) AS s,
         SUM({v} * {v}) AS q
  FROM orders GROUP BY o_orderpriority
),
sd AS (
  SELECT stratum, n,
         sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
              / (n - 1)) AS sigma
  FROM m
),
tot AS (
  SELECT SUM(n) AS n_tot,
         SUM(CAST(ROUND(n * sigma, 6) AS DECIMAL(24,6))) AS ns_tot
  FROM sd
),
alloc AS (
  SELECT d.stratum, d.n, d.sigma,
         CAST({BUDGET} AS DOUBLE) * d.n * d.sigma / CAST(t.ns_tot AS DOUBLE) AS n_ney,
         CAST({BUDGET} AS DOUBLE) * d.n / t.n_tot AS n_prop,
         t.n_tot
  FROM sd d JOIN tot t ON 1 = 1
),
vv AS (
  SELECT SUM(CAST(ROUND((CAST(n AS DOUBLE) / n_tot) * (n / CAST(n_tot AS DOUBLE))
                        * sigma * sigma / n_ney, 12) AS DECIMAL(24,12))) AS v_ney,
         SUM(CAST(ROUND((CAST(n AS DOUBLE) / n_tot) * (n / CAST(n_tot AS DOUBLE))
                        * sigma * sigma / n_prop, 12) AS DECIMAL(24,12))) AS v_prop
  FROM alloc
)
SELECT a.stratum,
       CAST(a.n AS BIGINT) AS n_pop,
       ROUND(a.sigma, 6) AS sigma,
       ROUND(a.n_ney, 6) AS n_neyman,
       ROUND(a.n_prop, 6) AS n_proportional,
       ROUND(CAST(v.v_ney AS DOUBLE), 6) AS var_neyman,
       ROUND(CAST(v.v_prop AS DOUBLE), 6) AS var_proportional
FROM alloc a JOIN vv v ON 1 = 1
ORDER BY a.stratum
"""


register(
    "neyman_allocation",
    oracle=_neyman_sql(DUCKDB),
    doc=f"Neyman-optimal stratified allocation of a {BUDGET}-row sample "
    "budget over order-priority strata vs the proportional baseline, with "
    "both designs' anticipated estimator variances emitted (the design "
    "effect measured, not assumed)",
)(sql_runner(_neyman_sql, ("orders",)))
