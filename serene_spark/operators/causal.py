"""Observational causal inference — propensity-score stratification, the
method tier above the raw diff-in-differences operator
(operators/experiments.py promo DiD) for when treatment is NOT randomly
assigned (Rosenbaum & Rubin 1983; Cochran 1968's five-strata result).

``psm_stratified_att``: treatment = "user's error share exceeds the corpus
mean error share" (an exact integer cross-multiplication test — no
division), outcome = the user's total purchase value, confounders =
ln(1+clicks), ln(1+views).  The propensity model is a LOGISTIC REGRESSION
fitted by the SAME family-generic unrolled-Newton machinery as
``logit_session_conversion`` (regression._newton_step, 8 steps, prefix
'pb') — so the entire fit, the per-user propensity scores, the
quintile stratification (deterministic integer-rank buckets, never
NTILE), the per-stratum treated/control outcome means, and the
treated-weighted pooled ATT are oracle-checked bit-for-bit against
DuckDB.  The naive unadjusted difference is emitted beside the ATT: the
gap between them is the measured confounding bias, not an assumption.
Strata missing either arm are excluded from pooling with their exclusion
visible in the output (att_stratum NULL) — stated, not silent.

Scale: one events scan → user-keyed agg (the feature relation); each
Newton step is one pass over that USER-cardinality relation (users ≪
events); scoring + stratification are a rank window over the same
relation.  Nothing data-scale shuffles more than once.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.operators.regression import LOGIT_MU, LOGIT_W, _newton_step
from serene_spark.registry import register

N_STEPS = 8
N_STRATA = 5


def _feature_bases(dialect: str) -> list[tuple[str, str]]:
    m = mat(dialect)
    body = f"""u AS (
  SELECT user_id,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err,
         COUNT(*) AS n_tot,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_click,
         SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_view,
         SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL
             THEN CAST(value AS DECIMAL(18,2))
             ELSE CAST(0 AS DECIMAL(18,2)) END) AS outcome
  FROM events GROUP BY user_id
),
g AS (SELECT SUM(n_err) AS gne, SUM(n_tot) AS gnt FROM u),
psm_features AS {m}(
  SELECT u.user_id,
         CAST(CASE WHEN u.n_err * g.gnt > g.gne * u.n_tot THEN 1 ELSE 0 END
              AS DOUBLE) AS y,
         CAST(ROUND(LN(1 + u.n_click), 9) AS DOUBLE) AS x1,
         CAST(ROUND(LN(1 + u.n_view), 9) AS DOUBLE) AS x2,
         u.outcome
  FROM u JOIN g ON 1 = 1
)"""
    return [("psm_features", body)]


def _newton_bases(dialect: str) -> list[tuple[str, str]]:
    m = mat(dialect)
    bases = [(
        "pb0",
        """pb0 AS (
  SELECT CAST(0 AS DECIMAL(18,9)) AS b0,
         CAST(0 AS DECIMAL(18,9)) AS b1,
         CAST(0 AS DECIMAL(18,9)) AS b2
)""",
    )]
    for k in range(1, N_STEPS + 1):
        bases.append(
            (f"pb{k}", _newton_step(k, m, "psm_features", LOGIT_MU, LOGIT_W, prefix="pb"))
        )
    return bases


def _bases(dialect: str) -> list[tuple[str, str]]:
    return _feature_bases(dialect) + _newton_bases(dialect)


def _tail(dialect: str) -> str:
    return f"""
WITH scored AS (
  SELECT f.user_id, CAST(f.y AS INT) AS treated, f.outcome,
         ROUND(1 / (1 + EXP(-(CAST(b.b0 AS DOUBLE)
                              + CAST(b.b1 AS DOUBLE) * f.x1
                              + CAST(b.b2 AS DOUBLE) * f.x2))), 9) AS p
  FROM psm_features f JOIN pb{N_STEPS} b ON 1 = 1
),
ranked AS (
  SELECT treated, outcome, p,
         ROW_NUMBER() OVER (ORDER BY p, user_id) AS rk,
         COUNT(*) OVER () AS n
  FROM scored
),
cells AS (
  SELECT CAST(CEIL({N_STRATA}.0 * rk / n) AS INT) AS stratum,
         SUM(treated) AS n_t,
         SUM(1 - treated) AS n_c,
         SUM(CASE WHEN treated = 1 THEN outcome
             ELSE CAST(0 AS DECIMAL(18,2)) END) AS y_t,
         SUM(CASE WHEN treated = 0 THEN outcome
             ELSE CAST(0 AS DECIMAL(18,2)) END) AS y_c
  FROM ranked GROUP BY CAST(CEIL({N_STRATA}.0 * rk / n) AS INT)
),
strata AS (
  SELECT stratum, n_t, n_c,
         CASE WHEN n_t > 0 THEN CAST(y_t AS DOUBLE) / n_t END AS mean_t,
         CASE WHEN n_c > 0 THEN CAST(y_c AS DOUBLE) / n_c END AS mean_c
  FROM cells
),
pooled AS (
  -- the WHERE already restricts to both-arm strata, so the weight sum
  -- ranges over exactly the pooled rows
  SELECT CAST(SUM(CAST(ROUND(n_t * (mean_t - mean_c), 9) AS DECIMAL(24,9)))
              AS DOUBLE)
           / SUM(n_t) AS att
  FROM strata WHERE mean_t IS NOT NULL AND mean_c IS NOT NULL
),
naive AS (
  SELECT CAST(SUM(CASE WHEN treated = 1 THEN outcome
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / SUM(treated)
         - CAST(SUM(CASE WHEN treated = 0 THEN outcome
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / SUM(1 - treated) AS d
  FROM ranked
)
SELECT CAST(s.stratum AS BIGINT) AS stratum,
       CAST(s.n_t AS BIGINT) AS n_treated,
       CAST(s.n_c AS BIGINT) AS n_control,
       ROUND(s.mean_t, 6) AS mean_outcome_treated,
       ROUND(s.mean_c, 6) AS mean_outcome_control,
       ROUND(s.mean_t - s.mean_c, 6) AS att_stratum,
       ROUND(p.att, 6) AS att_pooled,
       ROUND(n.d, 6) AS naive_diff
FROM strata s JOIN pooled p ON 1 = 1 JOIN naive n ON 1 = 1
ORDER BY stratum
"""


register(
    "psm_stratified_att",
    oracle=compose_with(_bases(DUCKDB), _tail(DUCKDB)),
    doc=f"Propensity-score stratification ATT: logistic propensity via the "
    f"shared {N_STEPS}-step unrolled-Newton machinery, deterministic "
    f"integer-rank quintiles, treated-weighted pooled ATT beside the naive "
    "difference (the gap = measured confounding bias); single-arm strata "
    "excluded from pooling with NULL att_stratum",
)(sql_runner(_tail, ("events",), stages=cte_stages(_bases)))


def _balance_tail(dialect: str) -> str:
    """Standardized-mean-difference balance audit (the table every PSM
    report must print before its ATT is believed): per confounder, SMD
    between arms RAW vs AFTER stratification (treated-weighted within-
    stratum differences over the raw pooled SD).  |SMD| < 0.1 is the
    conventional balance bar; emitting raw beside adjusted makes the
    stratification's work measurable."""
    return f"""
WITH scored AS (
  SELECT CAST(f.y AS INT) AS treated, f.x1, f.x2, f.user_id,
         ROUND(1 / (1 + EXP(-(CAST(b.b0 AS DOUBLE)
                              + CAST(b.b1 AS DOUBLE) * f.x1
                              + CAST(b.b2 AS DOUBLE) * f.x2))), 9) AS p
  FROM psm_features f JOIN pb{N_STEPS} b ON 1 = 1
),
ranked AS (
  SELECT treated, x1, x2,
         ROW_NUMBER() OVER (ORDER BY p, user_id) AS rk,
         COUNT(*) OVER () AS n
  FROM scored
),
cov AS (
  SELECT CAST(CEIL({N_STRATA}.0 * rk / n) AS INT) AS stratum, treated,
         'log1p_clicks' AS covariate, x1 AS x
  FROM ranked
  UNION ALL
  SELECT CAST(CEIL({N_STRATA}.0 * rk / n) AS INT), treated,
         'log1p_views', x2
  FROM ranked
),
raw AS (
  SELECT covariate,
         SUM(treated) AS n_t, SUM(1 - treated) AS n_c,
         SUM(CASE WHEN treated = 1
             THEN CAST(ROUND(x, 12) AS DECIMAL(28,12))
             ELSE CAST(0 AS DECIMAL(28,12)) END) AS s_t,
         SUM(CASE WHEN treated = 0
             THEN CAST(ROUND(x, 12) AS DECIMAL(28,12))
             ELSE CAST(0 AS DECIMAL(28,12)) END) AS s_c,
         SUM(CASE WHEN treated = 1
             THEN CAST(ROUND(x * x, 12) AS DECIMAL(28,12))
             ELSE CAST(0 AS DECIMAL(28,12)) END) AS q_t,
         SUM(CASE WHEN treated = 0
             THEN CAST(ROUND(x * x, 12) AS DECIMAL(28,12))
             ELSE CAST(0 AS DECIMAL(28,12)) END) AS q_c
  FROM cov GROUP BY covariate
),
raw_stats AS (
  SELECT covariate, n_t, n_c,
         CAST(s_t AS DOUBLE) / n_t AS mt, CAST(s_c AS DOUBLE) / n_c AS mc,
         (CAST(q_t AS DOUBLE) - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE) / n_t)
           / (n_t - 1) AS vt,
         (CAST(q_c AS DOUBLE) - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE) / n_c)
           / (n_c - 1) AS vc
  FROM raw
),
cells AS (
  SELECT covariate, stratum,
         SUM(treated) AS n_t, SUM(1 - treated) AS n_c,
         SUM(CASE WHEN treated = 1
             THEN CAST(ROUND(x, 12) AS DECIMAL(28,12))
             ELSE CAST(0 AS DECIMAL(28,12)) END) AS s_t,
         SUM(CASE WHEN treated = 0
             THEN CAST(ROUND(x, 12) AS DECIMAL(28,12))
             ELSE CAST(0 AS DECIMAL(28,12)) END) AS s_c
  FROM cov GROUP BY covariate, stratum
),
adj AS (
  SELECT covariate,
         CAST(SUM(CASE WHEN n_t > 0 AND n_c > 0 THEN CAST(ROUND(
             n_t * (CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c),
           9) AS DECIMAL(24,9)) ELSE CAST(0 AS DECIMAL(24,9)) END) AS DOUBLE)
           / SUM(CASE WHEN n_t > 0 AND n_c > 0 THEN n_t ELSE 0 END) AS d_adj
  FROM cells GROUP BY covariate
)
SELECT r.covariate,
       CAST(r.n_t AS BIGINT) AS n_treated,
       CAST(r.n_c AS BIGINT) AS n_control,
       ROUND((r.mt - r.mc) / sqrt((r.vt + r.vc) / 2), 6) AS smd_raw,
       ROUND(a.d_adj / sqrt((r.vt + r.vc) / 2), 6) AS smd_adjusted,
       CAST(CASE WHEN ABS(a.d_adj) <= ABS(r.mt - r.mc) THEN 1 ELSE 0 END
            AS INT) AS balance_improved
FROM raw_stats r JOIN adj a ON r.covariate = a.covariate
ORDER BY r.covariate
"""


register(
    "psm_balance_smd",
    oracle=compose_with(_bases(DUCKDB), _balance_tail(DUCKDB)),
    doc="PSM balance audit: per-confounder standardized mean difference "
    "raw vs after stratification (treated-weighted within-stratum "
    "differences over the raw pooled SD) — the table a PSM report must "
    "print before its ATT is believed; |SMD|<0.1 is the conventional bar",
)(sql_runner(_balance_tail, ("events",), stages=cte_stages(_bases)))
