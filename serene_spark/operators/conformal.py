"""Split conformal prediction — distribution-free prediction intervals for
the engine's regression stack (Vovk et al.; Lei et al., JASA 2018).  The
OLS family (operators/regression.py) reports parametric std errors, which
are honest only if the model is right; the conformal interval's
1−α coverage guarantee needs NO model correctness — only exchangeability.

``conformal_interval_revenue``: three deterministic folds by
l_orderkey % 3 — TRAIN (fit revenue ~ quantity + discount by the exact
decimal normal-equation moments + 3×3 cofactor solve shared with
ols_revenue_drivers), CALIBRATE (the conformal quantile: the
⌈(n+1)(1−α)⌉-th smallest absolute residual, selected by the engine-wide
histogram + cumulative-window rank selection — no global sort), TEST
(the guarantee CHECKED: empirical coverage of ŷ ± q̂ on rows the
procedure never saw).  Output: fold sizes, the fitted coefficients, q̂,
and the measured test coverage beside the nominal 1−α — the
measured-error convention applied to uncertainty itself.

Scale: three disjoint one-scan aggregations (moments; residual
histogram; coverage count), each map-side combinable; the solve and the
rank arithmetic run on constants / the distinct-residual relation.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.operators.regression import _inv3, _solve3
from serene_spark.registry import register

ALPHA = 0.1

_X1 = "CAST(l_quantity AS DECIMAL(18,2))"
_X2 = "CAST(l_discount AS DECIMAL(18,2))"
_Y = ("CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))"
      " * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DECIMAL(18,2))")


def _bases(dialect: str) -> list[tuple[str, str]]:
    m = mat(dialect)
    h = {
        "00": "CAST(mm.n AS DOUBLE)",
        "01": "CAST(mm.s1 AS DOUBLE)",
        "02": "CAST(mm.s2 AS DOUBLE)",
        "11": "CAST(mm.q11 AS DOUBLE)",
        "12": "CAST(mm.q12 AS DOUBLE)",
        "22": "CAST(mm.q22 AS DOUBLE)",
    }
    det, adj = _inv3(h)
    g = ["CAST(mm.sy AS DOUBLE)", "CAST(mm.x1y AS DOUBLE)", "CAST(mm.x2y AS DOUBLE)"]
    beta = [_solve3(det, adj, g, j) for j in range(3)]
    moments = f"""mm AS {m}(
  SELECT COUNT(*) AS n,
         SUM({_X1}) AS s1, SUM({_X2}) AS s2, SUM({_Y}) AS sy,
         SUM({_X1} * {_X1}) AS q11, SUM({_X2} * {_X2}) AS q22,
         SUM({_X1} * {_X2}) AS q12,
         SUM({_X1} * {_Y}) AS x1y, SUM({_X2} * {_Y}) AS x2y
  FROM lineitem WHERE l_orderkey % 3 = 0
)"""
    betas = f"""betas AS {m}(
  SELECT CAST(mm.n AS BIGINT) AS n_train,
         ROUND({beta[0]}, 9) AS b0, ROUND({beta[1]}, 9) AS b1,
         ROUND({beta[2]}, 9) AS b2
  FROM mm
)"""
    return [("mm", moments), ("betas", betas)]


def _resid(fold: int) -> str:
    """|y - yhat| rounded to 6 dp (both engines agree on the rounded value)."""
    yhat = (f"(b.b0 + b.b1 * CAST({_X1} AS DOUBLE)"
            f" + b.b2 * CAST({_X2} AS DOUBLE))")
    return (f"SELECT ROUND(ABS(CAST({_Y} AS DOUBLE) - {yhat}), 6) AS r\n"
            f"  FROM lineitem JOIN betas b ON 1 = 1"
            f" WHERE l_orderkey % 3 = {fold}")


def _tail(dialect: str) -> str:
    return f"""
WITH cal AS ({_resid(1)}),
hist AS (
  SELECT r, COUNT(*) AS c FROM cal GROUP BY r
),
cum AS (
  SELECT r, SUM(c) OVER (ORDER BY r) AS cum FROM hist
),
ncal AS {mat(dialect)}(SELECT SUM(c) AS n FROM hist),
qhat AS {mat(dialect)}(
  -- conformal rank: ceil((n+1)(1-alpha)), clamped to n
  SELECT MIN(c.r) AS q
  FROM cum c JOIN ncal ON
    c.cum >= LEAST(ncal.n,
                   CAST(CEIL((ncal.n + 1) * (1 - {ALPHA})) AS BIGINT))
),
test AS ({_resid(2)}),
cov AS (
  SELECT COUNT(*) AS n_test,
         SUM(CASE WHEN t.r <= q.q THEN 1 ELSE 0 END) AS covered
  FROM test t JOIN qhat q ON 1 = 1
)
SELECT b.n_train,
       CAST(ncal.n AS BIGINT) AS n_cal,
       CAST(cov.n_test AS BIGINT) AS n_test,
       ROUND(b.b0, 6) AS beta0,
       ROUND(b.b1, 6) AS beta1,
       ROUND(b.b2, 6) AS beta2,
       ROUND(q.q, 6) AS q_hat,
       {1 - ALPHA} AS nominal_coverage,
       ROUND(CAST(cov.covered AS DOUBLE) / cov.n_test, 6) AS test_coverage
FROM betas b JOIN ncal ON 1 = 1 JOIN qhat q ON 1 = 1 JOIN cov ON 1 = 1
"""


register(
    "conformal_interval_revenue",
    oracle=compose_with(_bases(DUCKDB), _tail(DUCKDB)),
    doc=f"Split conformal prediction interval (alpha={ALPHA}) for the "
    "revenue OLS: deterministic orderkey%3 train/calibrate/test folds, "
    "conformal quantile by histogram rank selection, and the coverage "
    "guarantee MEASURED on unseen rows beside the nominal level",
)(sql_runner(_tail, ("lineitem",), stages=cte_stages(_bases)))
