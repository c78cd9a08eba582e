"""Distributional treatment effects and model calibration.

* ``qte_deciles`` — quantile treatment effects: the A/B mean difference
  (ab_test_conversion / ab_sequential_msprt) answers "did the average
  move"; QTE answers WHERE in the distribution it moved, by differencing
  the two arms' decile quantiles (Doksum 1974).  Both arms' deciles come
  from the engine-wide histogram + cumulative rank selection — each
  decile is the first value whose cumulative count reaches ⌈q·n⌉ — so
  the whole effect profile is exact-rank deterministic, no interpolation
  conventions to desync.
* ``logit_calibration_bins`` — reliability table of the oracle-exact
  logistic fit (logit_session_conversion): sessions bucketed by
  predicted probability (10 fixed-width bins), observed conversion rate
  vs mean predicted rate per bin + each bin's Brier contribution.  A fit
  whose line the engine ships deserves its calibration measured — the
  quality_score_isotonic convention applied to the GLM family.

Scale: QTE is one scan → per-(arm, value) histogram → cumulative windows
over distinct values; calibration re-runs the materialized Newton bases
and reduces the session relation to 10 bins.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import variant_expr, DUCKDB, mat
from serene_spark.operators.regression import (
    N_NEWTON,
    logit_feature_bases,
    logit_newton_bases,
)
from serene_spark.registry import register

QTE_QS = tuple(i / 10 for i in range(1, 10))


def _qte_bases(dialect: str) -> list[tuple[str, str]]:
    """Per-(arm, value) histogram, MATERIALIZED: referenced by both the
    cumulative CDF and the per-arm totals."""
    variant = variant_expr(dialect)
    v = "CAST(value AS DECIMAL(18,2))"
    return [("hist", f"""hist AS {mat(dialect)}(
  SELECT {variant} AS arm, {v} AS v, COUNT(*) AS c
  FROM events WHERE value IS NOT NULL
  GROUP BY {variant}, {v}
)""")]


def _qte_tail(dialect: str) -> str:
    q_rows = " UNION ALL ".join(f"SELECT {q} AS q" for q in QTE_QS)
    return f"""
WITH cum AS (
  SELECT arm, v, SUM(c) OVER (PARTITION BY arm ORDER BY v) AS cum FROM hist
),
nn AS (
  SELECT arm, SUM(c) AS n FROM hist GROUP BY arm
),
qs AS ({q_rows}),
picked AS (
  SELECT q.q, n.arm, MIN(c.v) AS quantile
  FROM qs q
  JOIN nn n ON 1 = 1
  JOIN cum c ON c.arm = n.arm AND c.cum >= CEIL(q.q * n.n)
  GROUP BY q.q, n.arm
)
SELECT ROUND(a.q, 1) AS quantile_q,
       ROUND(CAST(a.quantile AS DOUBLE), 2) AS q_arm0,
       ROUND(CAST(b.quantile AS DOUBLE), 2) AS q_arm1,
       ROUND(CAST(b.quantile AS DOUBLE) - CAST(a.quantile AS DOUBLE), 2)
         AS qte
FROM (SELECT * FROM picked WHERE arm = 0) a
JOIN (SELECT * FROM picked WHERE arm = 1) b ON a.q = b.q
ORDER BY quantile_q
"""


register(
    "qte_deciles",
    oracle=compose_with(_qte_bases(DUCKDB), _qte_tail(DUCKDB)),
    doc="Quantile treatment effects at deciles between the A/B arms: both "
    "arms' exact-rank quantiles from per-arm value histograms, differenced "
    "— WHERE the distribution moved, not just whether the mean did",
)(sql_runner(_qte_tail, ("events",), stages=cte_stages(_qte_bases)))


N_CAL_BINS = 10


def _cal_tail(dialect: str) -> str:
    p = ("ROUND(1 / (1 + EXP(-(CAST(b.b0 AS DOUBLE)"
         " + CAST(b.b1 AS DOUBLE) * f.x1"
         " + CAST(b.b2 AS DOUBLE) * f.x2))), 9)")
    return f"""
WITH scored AS (
  SELECT f.y, {p} AS p
  FROM sess_features f JOIN nb{N_NEWTON} b ON 1 = 1
),
binned AS (
  SELECT LEAST({N_CAL_BINS} - 1, CAST(FLOOR(p * {N_CAL_BINS}) AS INT)) AS bin,
         y, p
  FROM scored
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(CAST(ROUND(p, 9) AS DECIMAL(18,9))) AS DOUBLE)
             / COUNT(*), 6) AS mean_predicted,
       ROUND(CAST(SUM(CAST(y AS INT)) AS DOUBLE) / COUNT(*), 6)
         AS observed_rate,
       ROUND(CAST(SUM(CAST(ROUND((p - y) * (p - y), 9) AS DECIMAL(18,9)))
             AS DOUBLE) / COUNT(*), 6) AS brier_contribution
FROM binned
GROUP BY bin
ORDER BY bin
"""


register(
    "logit_calibration_bins",
    oracle=compose_with(
        logit_feature_bases(DUCKDB) + logit_newton_bases(DUCKDB),
        _cal_tail(DUCKDB),
    ),
    doc="Reliability table of the oracle-exact logistic fit: 10 fixed-width "
    "probability bins with observed vs mean predicted rate and per-bin "
    "Brier contributions — the GLM family's calibration measured",
)(sql_runner(_cal_tail, ("events",),
    stages=cte_stages(lambda d: logit_feature_bases(d) + logit_newton_bases(d))))
