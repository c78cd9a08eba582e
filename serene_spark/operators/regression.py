"""Parametric regression & inference family — the staples every analytics
engine ships next to the nonparametric tests (chi-square / MWU /
Kruskal-Wallis in operators/hypothesis_tests.py):

* ``ttest_welch_value`` — Welch's unequal-variance two-sample t on the
  event ``value`` distributions of two event types (the parametric
  sibling of ``mannwhitney_value``; same sides, same cents-quantized
  DECIMAL convention).  One scan reduces each side to (n, Σx, Σx²) in
  exact decimals; t and the Welch–Satterthwaite df are closed-form
  doubles over those exact moments.
* ``anova_value_by_type`` — one-way ANOVA of ``value`` across ALL event
  types.  One scan → per-group (n, Σx, Σx²); SSW/SSB contributions are
  12-dp-quantized and decimal-summed (aggregation-order independent),
  F / η² read off the tiny group relation.
* ``ols_revenue_drivers`` — multiple linear regression with inference:
  lineitem revenue = extendedprice·(1−discount) regressed on quantity +
  discount.  ONE scan reduces the fact table to the ten exact-decimal
  normal-equation moments (n, Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y,
  Σx₂y, Σy²); β = (XᵀX)⁻¹Xᵀy via the explicit 3×3 cofactor inverse,
  with per-coefficient std errors, t-stats, and R² — all closed-form
  doubles over the same exact moments, so partial-aggregation order
  cannot move a digit and both engines agree bit-for-bit.
* ``logit_session_conversion`` — logistic regression (session converts ~
  log1p(clicks) + log1p(views)) fitted by ``N_NEWTON`` unrolled Newton–
  Raphson/IRLS steps entirely in declarative SQL.  Sessions come from
  THE engine-wide session splice (events.session_assign_rel — one
  definition of a session).  Each step is one pass over the materialized
  session-feature relation computing the gradient and the 3×3 Hessian as
  12-dp-quantized decimal sums, then a closed-form Newton update
  re-quantized to 9 dp — the attribution_markov convention, so the whole
  optimization trajectory is oracle-checked bit-for-bit against DuckDB.
  The test additionally pins the converged fit against numpy's
  full-precision IRLS solution.

Scale: every operator is map-side-combinable aggregation over one scan
(the logit: one scan per Newton step over the SESSION-level relation —
bounded steps × (sessions ≪ events); at 100 TB you fit on the session
relation directly, or a stratified sample via ``stratified_sample``,
never on raw events).  No window ever sees a data-scale row count; the
solves are constant-size closed forms, not driver-side loops.
"""

from __future__ import annotations

from serene_spark.catalog import TABLES, compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, explode_seq, mat
from serene_spark.registry import register

TT_SIDE_A = "click"
TT_SIDE_B = "purchase"
N_NEWTON = 10


# --------------------------------------------------------------- Welch t


def ttest_bases(dialect: str) -> list[tuple[str, str]]:
    """One scan -> per-side exact moments; materialized because the tail
    reads the relation once per side."""
    return [("m", f"""sides AS (
  SELECT CASE WHEN event_type = '{TT_SIDE_A}' THEN 'a' ELSE 'b' END AS side,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
  WHERE event_type IN ('{TT_SIDE_A}', '{TT_SIDE_B}') AND value IS NOT NULL
),
m AS {mat(dialect)}(
  SELECT side, COUNT(*) AS n, SUM(v) AS s, SUM(v * v) AS q
  FROM sides GROUP BY side
)""")]


def ttest_tail_sql(dialect: str) -> str:
    return f"""
WITH w AS (
  SELECT a.n AS n_a, b.n AS n_b,
         CAST(a.s AS DOUBLE) / a.n AS mean_a,
         CAST(b.s AS DOUBLE) / b.n AS mean_b,
         (CAST(a.q AS DOUBLE) - CAST(a.s AS DOUBLE) * CAST(a.s AS DOUBLE) / a.n)
           / (a.n - 1) AS var_a,
         (CAST(b.q AS DOUBLE) - CAST(b.s AS DOUBLE) * CAST(b.s AS DOUBLE) / b.n)
           / (b.n - 1) AS var_b
  FROM (SELECT * FROM m WHERE side = 'a') a
  JOIN (SELECT * FROM m WHERE side = 'b') b ON 1 = 1
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       ROUND(mean_a, 6) AS mean_a,
       ROUND(mean_b, 6) AS mean_b,
       ROUND(var_a, 6) AS var_a,
       ROUND(var_b, 6) AS var_b,
       ROUND((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 6)
         AS t_stat,
       -- Welch–Satterthwaite effective degrees of freedom
       ROUND((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
             / (var_a * var_a / (CAST(n_a AS DOUBLE) * n_a * (n_a - 1))
                + var_b * var_b / (CAST(n_b AS DOUBLE) * n_b * (n_b - 1))), 6)
         AS df_welch
FROM w
"""


def ttest_sql(dialect: str) -> str:
    return compose_with(ttest_bases(dialect), ttest_tail_sql(dialect))


register(
    "ttest_welch_value",
    oracle=ttest_sql(DUCKDB),
    doc=f"Welch two-sample t-test on value ({TT_SIDE_A} vs {TT_SIDE_B}): "
    "decimal-exact (n, Σx, Σx²) per side from one scan, closed-form t + "
    "Welch–Satterthwaite df",
)(sql_runner(ttest_tail_sql, ("events",), stages=cte_stages(ttest_bases)))


# ------------------------------------------------------------ one-way ANOVA


def anova_groups_rel(dialect: str) -> str:
    """THE per-group moment relation (n, Σx, Σx²) — spliced by the ANOVA
    omnibus test and the Tukey HSD post-hoc so the group definition
    cannot desync."""
    return f"""g AS {mat(dialect)}(
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS s,
         SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS q
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type
)"""


def anova_groups_bases(dialect: str) -> list[tuple[str, str]]:
    return [("g", anova_groups_rel(dialect))]


def anova_tail_sql(dialect: str) -> str:
    return f"""
WITH tot AS {mat(dialect)}(
  SELECT SUM(n) AS n_tot, CAST(SUM(s) AS DOUBLE) AS s_tot, COUNT(*) AS k
  FROM g
),
parts AS {mat(dialect)}(
  -- per-group SSW / SSB contributions, 12-dp-quantized for
  -- aggregation-order independence
  SELECT event_type, n, CAST(s AS DOUBLE) / n AS mean_g,
         ROUND(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 12)
           AS ssw_g,
         ROUND(n * (CAST(s AS DOUBLE) / n - (SELECT s_tot / n_tot FROM tot))
                 * (CAST(s AS DOUBLE) / n - (SELECT s_tot / n_tot FROM tot)), 12)
           AS ssb_g
  FROM g
),
f AS (
  SELECT CAST(SUM(CAST(ssw_g AS DECIMAL(38,12))) AS DOUBLE) AS ssw,
         CAST(SUM(CAST(ssb_g AS DECIMAL(38,12))) AS DOUBLE) AS ssb,
         (SELECT k FROM tot) - 1 AS df_between,
         (SELECT n_tot FROM tot) - (SELECT k FROM tot) AS df_within
  FROM parts
)
SELECT p.event_type,
       CAST(p.n AS BIGINT) AS n,
       ROUND(p.mean_g, 6) AS mean_value,
       ROUND((SELECT ssb / df_between FROM f)
             / (SELECT ssw / df_within FROM f), 6) AS f_stat,
       CAST((SELECT df_between FROM f) AS BIGINT) AS df_between,
       CAST((SELECT df_within FROM f) AS BIGINT) AS df_within,
       ROUND((SELECT ssb / (ssb + ssw) FROM f), 6) AS eta_sq
FROM parts p
ORDER BY p.event_type
"""


def anova_sql(dialect: str) -> str:
    return compose_with(anova_groups_bases(dialect), anova_tail_sql(dialect))


register(
    "anova_value_by_type",
    oracle=anova_sql(DUCKDB),
    doc="one-way ANOVA of value across event types: per-group decimal-exact "
    "moments from one scan, 12-dp-quantized SSW/SSB decimal sums, F + eta^2",
)(sql_runner(anova_tail_sql, ("events",), stages=cte_stages(anova_groups_bases)))


def tukey_sql(dialect: str) -> str:
    """Tukey HSD post-hoc: which pairs differ, after the omnibus F.  The
    studentized-range statistic q = (m_i − m_j) / sqrt(MSW/2 · (1/n_i +
    1/n_j)) per unordered pair, from the SAME spliced group relation as
    the omnibus ANOVA — the pair cross is group-cardinality² (≤ 25 rows
    here), never data-scale."""
    return f"""
WITH msw AS (
  SELECT CAST(SUM(CAST(ROUND(CAST(q AS DOUBLE)
                             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 12)
                       AS DECIMAL(38,12))) AS DOUBLE)
           / (SUM(n) - COUNT(*)) AS msw,
         SUM(n) - COUNT(*) AS df_within
  FROM g
)
SELECT a.event_type AS type_a,
       b.event_type AS type_b,
       CAST(a.n AS BIGINT) AS n_a,
       CAST(b.n AS BIGINT) AS n_b,
       ROUND(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n, 6)
         AS mean_diff,
       ROUND(sqrt((SELECT msw FROM msw) / 2
                  * (1.0 / a.n + 1.0 / b.n)), 6) AS se_q,
       ROUND((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
             / sqrt((SELECT msw FROM msw) / 2 * (1.0 / a.n + 1.0 / b.n)), 6)
         AS q_stat,
       CAST((SELECT df_within FROM msw) AS BIGINT) AS df_within
FROM g a JOIN g b ON a.event_type < b.event_type
ORDER BY type_a, type_b
"""


def tukey_full_sql(dialect: str) -> str:
    return compose_with(anova_groups_bases(dialect), tukey_sql(dialect))


register(
    "anova_tukey_pairs",
    oracle=tukey_full_sql(DUCKDB),
    doc="Tukey HSD post-hoc after the one-way ANOVA: studentized-range q per "
    "type pair from the spliced group-moment relation (pair cross is "
    "group-cardinality squared, never data-scale)",
)(sql_runner(tukey_sql, ("events",), stages=cte_stages(anova_groups_bases)))


# ------------------------------------------------------- OLS with inference


def _inv3(h: dict[str, str]) -> tuple[str, dict[tuple[int, int], str]]:
    """Explicit symmetric-3×3 inverse: determinant + adjugate entries as SQL
    expressions over element names h[(i,j)] (doubles).  adj/det IS the
    inverse; only the needed entries are emitted."""
    a, b, c = h["00"], h["01"], h["02"]
    d, e, f = h["11"], h["12"], h["22"]
    det = (
        f"({a} * ({d} * {f} - {e} * {e}) - {b} * ({b} * {f} - {e} * {c})"
        f" + {c} * ({b} * {e} - {d} * {c}))"
    )
    adj = {
        (0, 0): f"({d} * {f} - {e} * {e})",
        (0, 1): f"({c} * {e} - {b} * {f})",
        (0, 2): f"({b} * {e} - {c} * {d})",
        (1, 1): f"({a} * {f} - {c} * {c})",
        (1, 2): f"({c} * {b} - {a} * {e})",
        (2, 2): f"({a} * {d} - {b} * {b})",
    }
    return det, adj


def _solve3(det: str, adj: dict[tuple[int, int], str], g: list[str], j: int) -> str:
    """(A⁻¹ g)_j via the adjugate (symmetric: adj[j][k] = adj[min,max])."""
    terms = " + ".join(
        f"{adj[(min(j, k), max(j, k))]} * {g[k]}" for k in range(3)
    )
    return f"(({terms}) / {det})"


OLS_TERMS = ("intercept", "l_quantity", "l_discount")


def ols_sql(dialect: str) -> str:
    x1 = "CAST(l_quantity AS DECIMAL(18,2))"
    x2 = "CAST(l_discount AS DECIMAL(18,2))"
    y = ("CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))"
         " * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DECIMAL(18,2))")
    h = {
        "00": "CAST(m.n AS DOUBLE)",
        "01": "CAST(m.s1 AS DOUBLE)",
        "02": "CAST(m.s2 AS DOUBLE)",
        "11": "CAST(m.q11 AS DOUBLE)",
        "12": "CAST(m.q12 AS DOUBLE)",
        "22": "CAST(m.q22 AS DOUBLE)",
    }
    det, adj = _inv3(h)
    g = ["CAST(m.sy AS DOUBLE)", "CAST(m.x1y AS DOUBLE)", "CAST(m.x2y AS DOUBLE)"]
    beta = [_solve3(det, adj, g, j) for j in range(3)]
    sse = (f"(CAST(m.yy AS DOUBLE) - ({beta[0]}) * CAST(m.sy AS DOUBLE)"
           f" - ({beta[1]}) * CAST(m.x1y AS DOUBLE)"
           f" - ({beta[2]}) * CAST(m.x2y AS DOUBLE))")
    sst = ("(CAST(m.yy AS DOUBLE)"
           " - CAST(m.sy AS DOUBLE) * CAST(m.sy AS DOUBLE) / m.n)")
    sigma2 = f"({sse} / (m.n - 3))"
    var = [f"({sigma2} * {adj[(j, j)]} / {det})" for j in range(3)]
    term_case = "CASE i " + " ".join(
        f"WHEN {j + 1} THEN '{t}'" for j, t in enumerate(OLS_TERMS)
    ) + " END"
    coef_case = "CASE i " + " ".join(
        f"WHEN {j + 1} THEN ROUND({beta[j]}, 6)" for j in range(3)
    ) + " END"
    se_case = "CASE i " + " ".join(
        f"WHEN {j + 1} THEN ROUND(sqrt({var[j]}), 6)" for j in range(3)
    ) + " END"
    t_case = "CASE i " + " ".join(
        f"WHEN {j + 1} THEN ROUND(({beta[j]}) / sqrt({var[j]}), 6)"
        for j in range(3)
    ) + " END"
    return f"""
WITH m AS {mat(dialect)}(
  -- the ten exact normal-equation moments, one scan
  SELECT COUNT(*) AS n,
         SUM({x1}) AS s1, SUM({x2}) AS s2, SUM({y}) AS sy,
         SUM({x1} * {x1}) AS q11, SUM({x2} * {x2}) AS q22,
         SUM({x1} * {x2}) AS q12,
         SUM({x1} * {y}) AS x1y, SUM({x2} * {y}) AS x2y,
         SUM({y} * {y}) AS yy
  FROM lineitem
)
SELECT {term_case} AS term,
       {coef_case} AS coefficient,
       {se_case} AS std_err,
       {t_case} AS t_stat,
       ROUND(1 - {sse} / {sst}, 6) AS r2,
       CAST(m.n AS BIGINT) AS n
FROM (SELECT m.*, {explode_seq(dialect, 1, 3)} AS i FROM m) m
ORDER BY term
"""


register(
    "ols_revenue_drivers",
    oracle=ols_sql(DUCKDB),
    doc="OLS with inference: revenue ~ quantity + discount on lineitem; ten "
    "decimal-exact moments from one scan, closed-form 3x3 normal-equation "
    "solve with std errors, t-stats, R^2",
)(sql_runner(ols_sql, TABLES))


# -------------------------------------------- logistic regression (Newton)


def logit_feature_bases(dialect: str) -> list[tuple[str, str]]:
    """Session-level design matrix via THE engine-wide session splice."""
    from serene_spark.operators.events import session_assign_rel

    m = mat(dialect)
    body = f"""{session_assign_rel(dialect).lstrip()},
sess_features AS {m}(
  SELECT CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS DOUBLE) AS y,
         CAST(ROUND(LN(1 + SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)), 9)
              AS DOUBLE) AS x1,
         CAST(ROUND(LN(1 + SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)), 9)
              AS DOUBLE) AS x2
  FROM sess GROUP BY user_id, session_id
)"""
    return [("sess_features", body)]


LINPRED = ("(CAST(b.b0 AS DOUBLE) + CAST(b.b1 AS DOUBLE) * f.x1"
           " + CAST(b.b2 AS DOUBLE) * f.x2)")


def _newton_step(
    k: int,
    m: str,
    feature_rel: str,
    mu_expr: str,
    weight_expr: str,
    prefix: str = "nb",
) -> str:
    """One GLM Newton/IRLS update, family-generic: score the previous β
    (``mu_expr`` over the linear predictor, 9-dp-quantized), reduce to
    the 12-dp-quantized gradient Σx(y−μ) + Hessian Σxxᵀw moments
    (``weight_expr`` over μ), apply the closed-form 3×3 solve,
    re-quantize β to 9 dp.  Shared by the logistic (μ = σ(z), w =
    μ(1−μ)) and Poisson (μ = eᶻ, w = μ) fits."""
    prev = f"{prefix}{k - 1}"
    h = {k2: f"CAST(m.h{k2} AS DOUBLE)" for k2 in ("00", "01", "02", "11", "12", "22")}
    det, adj = _inv3(h)
    g = [f"CAST(m.g{j} AS DOUBLE)" for j in range(3)]
    delta = [_solve3(det, adj, g, j) for j in range(3)]
    w = weight_expr
    mom_arms = ",\n         ".join(
        [
            "SUM(CAST(ROUND(y - p, 12) AS DECIMAL(28,12))) AS g0",
            "SUM(CAST(ROUND(x1 * (y - p), 12) AS DECIMAL(28,12))) AS g1",
            "SUM(CAST(ROUND(x2 * (y - p), 12) AS DECIMAL(28,12))) AS g2",
            f"SUM(CAST(ROUND({w}, 12) AS DECIMAL(28,12))) AS h00",
            f"SUM(CAST(ROUND(x1 * {w}, 12) AS DECIMAL(28,12))) AS h01",
            f"SUM(CAST(ROUND(x2 * {w}, 12) AS DECIMAL(28,12))) AS h02",
            f"SUM(CAST(ROUND(x1 * x1 * {w}, 12) AS DECIMAL(28,12))) AS h11",
            f"SUM(CAST(ROUND(x1 * x2 * {w}, 12) AS DECIMAL(28,12))) AS h12",
            f"SUM(CAST(ROUND(x2 * x2 * {w}, 12) AS DECIMAL(28,12))) AS h22",
        ]
    )
    return f"""z{prefix}{k} AS (
  SELECT f.y, f.x1, f.x2,
         ROUND({mu_expr}, 9) AS p
  FROM {feature_rel} f CROSS JOIN {prev} b
),
mom{prefix}{k} AS (
  SELECT {mom_arms}
  FROM z{prefix}{k}
),
{prefix}{k} AS {m}(
  SELECT CAST(ROUND(CAST(b.b0 AS DOUBLE) + {delta[0]}, 9) AS DECIMAL(18,9)) AS b0,
         CAST(ROUND(CAST(b.b1 AS DOUBLE) + {delta[1]}, 9) AS DECIMAL(18,9)) AS b1,
         CAST(ROUND(CAST(b.b2 AS DOUBLE) + {delta[2]}, 9) AS DECIMAL(18,9)) AS b2
  FROM mom{prefix}{k} m CROSS JOIN {prev} b
)"""


LOGIT_MU = f"1 / (1 + EXP(-{LINPRED}))"
LOGIT_W = "p * (1 - p)"


def logit_newton_bases(dialect: str) -> list[tuple[str, str]]:
    m = mat(dialect)
    bases = [(
        "nb0",
        """nb0 AS (
  SELECT CAST(0 AS DECIMAL(18,9)) AS b0,
         CAST(0 AS DECIMAL(18,9)) AS b1,
         CAST(0 AS DECIMAL(18,9)) AS b2
)""",
    )]
    for k in range(1, N_NEWTON + 1):
        bases.append((
            f"nb{k}",
            _newton_step(k, m, "sess_features", LOGIT_MU, LOGIT_W),
        ))
    return bases


LOGIT_TERMS = ("intercept", "log1p_clicks", "log1p_views")


def logit_tail_sql(dialect: str) -> str:
    term_case = "CASE i " + " ".join(
        f"WHEN {j + 1} THEN '{t}'" for j, t in enumerate(LOGIT_TERMS)
    ) + " END"
    coef_case = ("CASE i WHEN 1 THEN s.b0 WHEN 2 THEN s.b1"
                 " WHEN 3 THEN s.b2 END")
    return f"""
WITH scored AS (
  SELECT f.y,
         ROUND(1 / (1 + EXP(-(CAST(b.b0 AS DOUBLE)
                              + CAST(b.b1 AS DOUBLE) * f.x1
                              + CAST(b.b2 AS DOUBLE) * f.x2))), 9) AS p
  FROM sess_features f CROSS JOIN nb{N_NEWTON} b
),
fit AS {mat(dialect)}(
  SELECT COUNT(*) AS n, SUM(y) AS n_pos,
         SUM(CAST(ROUND(CASE WHEN y > 0.5 THEN LN(GREATEST(p, 1e-12))
                             ELSE LN(GREATEST(1 - p, 1e-12)) END, 12)
                  AS DECIMAL(28,12))) AS loglik,
         SUM(CASE WHEN (CASE WHEN p >= 0.5 THEN 1.0 ELSE 0.0 END) = y
                  THEN 1 ELSE 0 END) AS n_correct
  FROM scored
),
nullfit AS (
  SELECT n,
         n * ((CAST(n_pos AS DOUBLE) / n) * LN(CAST(n_pos AS DOUBLE) / n)
              + (1 - CAST(n_pos AS DOUBLE) / n)
                * LN(1 - CAST(n_pos AS DOUBLE) / n)) AS loglik0
  FROM fit
),
summary AS (
  SELECT b.b0, b.b1, b.b2,
         f.n, CAST(f.loglik AS DOUBLE) AS loglik, nf.loglik0,
         CAST(f.n_correct AS DOUBLE) / f.n AS accuracy
  FROM nb{N_NEWTON} b CROSS JOIN fit f CROSS JOIN nullfit nf
)
SELECT {term_case} AS term,
       ROUND(CAST(({coef_case}) AS DOUBLE), 6) AS coefficient,
       CAST(s.n AS BIGINT) AS n_sessions,
       ROUND(s.loglik, 6) AS log_lik,
       ROUND(1 - s.loglik / s.loglik0, 6) AS mcfadden_r2,
       ROUND(s.accuracy, 6) AS accuracy
FROM (SELECT s.*, {explode_seq(dialect, 1, 3)} AS i FROM summary s) s
ORDER BY term
"""


def logit_sql(dialect: str) -> str:
    return compose_with(
        logit_feature_bases(dialect) + logit_newton_bases(dialect),
        logit_tail_sql(dialect),
    )


register(
    "logit_session_conversion",
    oracle=logit_sql(DUCKDB),
    doc=f"logistic regression (session converts ~ log1p clicks + log1p views) "
    f"by {N_NEWTON} unrolled Newton/IRLS steps: 12-dp-quantized decimal "
    "gradient/Hessian sums per step, closed-form 3x3 solve, 9-dp beta — "
    "oracle-exact optimization trajectory; engine-wide session splice",
)(sql_runner(logit_tail_sql, ("events",),
    stages=cte_stages(lambda d: logit_feature_bases(d) + logit_newton_bases(d))))


# ------------------------------------------- Poisson GLM (diurnal counts)

N_POISSON = 8
TWO_PI = "6.283185307179586"
POISSON_TERMS = ("intercept", "sin_hour", "cos_hour")
POISSON_MU = f"EXP({LINPRED})"
POISSON_W = "p"


def poisson_feature_bases(dialect: str) -> list[tuple[str, str]]:
    """Hourly purchase counts on a ZERO-FILLED hour spine (an hour with no
    purchases is a real observation — dropping it biases the rate up),
    with first-harmonic diurnal regressors sin/cos(2π·hod/24), 9-dp
    quantized so engine libm ulp differences cannot leak."""
    from serene_spark.functions.sqlgen import epoch_s

    m = mat(dialect)
    hour = f"CAST(FLOOR(({epoch_s(dialect, 'ts')}) / 3600.0) AS BIGINT)"
    body = f"""per_hour AS (
  SELECT {hour} AS hr, COUNT(*) AS y
  FROM events WHERE event_type = 'purchase'
  GROUP BY {hour}
),
hbounds AS (
  SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM per_hour
),
hspine AS (
  SELECT {explode_seq(dialect, "(SELECT h0 FROM hbounds)", "(SELECT h1 FROM hbounds)")} AS hr
  FROM hbounds
),
hour_features AS {m}(
  SELECT CAST(COALESCE(p.y, 0) AS DOUBLE) AS y,
         ROUND(SIN({TWO_PI} * (s.hr % 24) / 24), 9) AS x1,
         ROUND(COS({TWO_PI} * (s.hr % 24) / 24), 9) AS x2
  FROM hspine s LEFT JOIN per_hour p ON p.hr = s.hr
)"""
    return [("hour_features", body)]


def poisson_newton_bases(dialect: str) -> list[tuple[str, str]]:
    m = mat(dialect)
    bases = [(
        "pb0",
        """pb0 AS (
  -- init at the null model: b0 = ln(mean rate), harmonics 0 —
  -- Newton then converges in a handful of steps
  SELECT CAST(ROUND(LN(SUM(y) / COUNT(*)), 9) AS DECIMAL(18,9)) AS b0,
         CAST(0 AS DECIMAL(18,9)) AS b1,
         CAST(0 AS DECIMAL(18,9)) AS b2
  FROM hour_features
)""",
    )]
    for k in range(1, N_POISSON + 1):
        bases.append((
            f"pb{k}",
            _newton_step(k, m, "hour_features", POISSON_MU, POISSON_W,
                         prefix="pb"),
        ))
    return bases


def poisson_tail_sql(dialect: str) -> str:
    term_case = "CASE i " + " ".join(
        f"WHEN {j + 1} THEN '{t}'" for j, t in enumerate(POISSON_TERMS)
    ) + " END"
    coef_case = ("CASE i WHEN 1 THEN s.b0 WHEN 2 THEN s.b1"
                 " WHEN 3 THEN s.b2 END")
    return f"""
WITH scored AS (
  SELECT f.y, ROUND(EXP(CAST(b.b0 AS DOUBLE)
                        + CAST(b.b1 AS DOUBLE) * f.x1
                        + CAST(b.b2 AS DOUBLE) * f.x2), 9) AS lam
  FROM hour_features f CROSS JOIN pb{N_POISSON} b
),
fit AS {mat(dialect)}(
  SELECT COUNT(*) AS n,
         -- Poisson deviance: 2 Σ [y ln(y/λ) − (y − λ)], y = 0 term → λ
         SUM(CAST(ROUND(2 * (CASE WHEN y > 0 THEN y * LN(y / lam) ELSE 0 END
                              - (y - lam)), 12) AS DECIMAL(28,12))) AS deviance
  FROM scored
),
summary AS (
  SELECT b.b0, b.b1, b.b2, f.n,
         CAST(f.deviance AS DOUBLE) AS deviance,
         -- amplitude + peak hour of the fitted diurnal cycle
         sqrt(CAST(b.b1 AS DOUBLE) * CAST(b.b1 AS DOUBLE)
              + CAST(b.b2 AS DOUBLE) * CAST(b.b2 AS DOUBLE)) AS amplitude,
         (24 / CAST({TWO_PI} AS DOUBLE))
           * ATAN2(CAST(b.b1 AS DOUBLE), CAST(b.b2 AS DOUBLE)) AS phase_h
  FROM pb{N_POISSON} b CROSS JOIN fit f
)
SELECT {term_case} AS term,
       ROUND(CAST(({coef_case}) AS DOUBLE), 6) AS coefficient,
       CAST(s.n AS BIGINT) AS n_hours,
       ROUND(s.deviance, 6) AS deviance,
       ROUND(s.deviance / (s.n - 3), 6) AS dispersion,
       ROUND(s.amplitude, 6) AS amplitude,
       ROUND(CASE WHEN s.phase_h < 0 THEN s.phase_h + 24
                  ELSE s.phase_h END, 6) AS peak_hour
FROM (SELECT s.*, {explode_seq(dialect, 1, 3)} AS i FROM summary s) s
ORDER BY term
"""


def poisson_sql(dialect: str) -> str:
    return compose_with(
        poisson_feature_bases(dialect) + poisson_newton_bases(dialect),
        poisson_tail_sql(dialect),
    )


register(
    "poisson_hourly_glm",
    oracle=poisson_sql(DUCKDB),
    doc=f"Poisson GLM of hourly purchase counts on first-harmonic diurnal "
    f"regressors, {N_POISSON} unrolled Newton steps via the shared GLM "
    "machinery (12-dp decimal gradient/Hessian sums, 9-dp beta) — "
    "deviance/dispersion + fitted cycle amplitude and peak hour",
)(sql_runner(poisson_tail_sql, ("events",),
    stages=cte_stages(lambda d: poisson_feature_bases(d) + poisson_newton_bases(d))))


# ------------------------------------------- OLS residual diagnostics


def ols_moment_bases(dialect: str) -> list[tuple[str, str]]:
    """The OLS moments + solved coefficients as materialized one-row
    relations, so the diagnostics pass can score residuals without
    re-deriving the solve (and the 9-dp-quantized β is THE shared fit)."""
    m = mat(dialect)
    x1 = "CAST(l_quantity AS DECIMAL(18,2))"
    x2 = "CAST(l_discount AS DECIMAL(18,2))"
    y = ("CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))"
         " * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DECIMAL(18,2))")
    h = {
        "00": "CAST(m.n AS DOUBLE)",
        "01": "CAST(m.s1 AS DOUBLE)",
        "02": "CAST(m.s2 AS DOUBLE)",
        "11": "CAST(m.q11 AS DOUBLE)",
        "12": "CAST(m.q12 AS DOUBLE)",
        "22": "CAST(m.q22 AS DOUBLE)",
    }
    det, adj = _inv3(h)
    g = ["CAST(m.sy AS DOUBLE)", "CAST(m.x1y AS DOUBLE)", "CAST(m.x2y AS DOUBLE)"]
    beta = [_solve3(det, adj, g, j) for j in range(3)]
    mom = f"""ols_m AS {m}(
  SELECT COUNT(*) AS n,
         SUM({x1}) AS s1, SUM({x2}) AS s2, SUM({y}) AS sy,
         SUM({x1} * {x1}) AS q11, SUM({x2} * {x2}) AS q22,
         SUM({x1} * {x2}) AS q12,
         SUM({x1} * {y}) AS x1y, SUM({x2} * {y}) AS x2y,
         SUM({y} * {y}) AS yy
  FROM lineitem
)"""
    betas = f"""ols_beta AS (
  SELECT CAST(ROUND({beta[0]}, 9) AS DECIMAL(28,9)) AS b0,
         CAST(ROUND({beta[1]}, 9) AS DECIMAL(28,9)) AS b1,
         CAST(ROUND({beta[2]}, 9) AS DECIMAL(28,9)) AS b2,
         m.n
  FROM (SELECT * FROM ols_m) m
)"""
    return [("ols_m", mom), ("ols_beta", betas)]


def ols_diag_tail_sql(dialect: str) -> str:
    """Breusch-Pagan (LM form) + Jarque-Bera over the OLS residuals.

    Second pass over lineitem: residuals e = y − Xβ̂ from the shared
    9-dp β, quantized to 6 dp; the auxiliary regression e² ~ x1 + x2
    solves with the same closed 3×3 machinery (BP = n·R²_aux), skewness
    and kurtosis come from decimal-exact Σe..Σe⁴ (JB = n/6·(S² +
    (K−3)²/4)).  Everything reduces to one wide aggregation — the
    data-scale work is two scans total (moments, then residual
    moments), never a window."""
    x1d = "CAST(l_quantity AS DOUBLE)"
    x2d = "CAST(l_discount AS DOUBLE)"
    yd = ("CAST(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))"
          " * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)"
          " AS DECIMAL(18,2)) AS DOUBLE)")
    h = {
        "00": "CAST(a.n AS DOUBLE)",
        "01": "CAST(a.as1 AS DOUBLE)",
        "02": "CAST(a.as2 AS DOUBLE)",
        "11": "CAST(a.aq11 AS DOUBLE)",
        "12": "CAST(a.aq12 AS DOUBLE)",
        "22": "CAST(a.aq22 AS DOUBLE)",
    }
    det, adj = _inv3(h)
    g = ["CAST(a.su AS DOUBLE)", "CAST(a.x1u AS DOUBLE)", "CAST(a.x2u AS DOUBLE)"]
    bu = [_solve3(det, adj, g, j) for j in range(3)]
    sse_aux = (f"(CAST(a.uu AS DOUBLE) - ({bu[0]}) * CAST(a.su AS DOUBLE)"
               f" - ({bu[1]}) * CAST(a.x1u AS DOUBLE)"
               f" - ({bu[2]}) * CAST(a.x2u AS DOUBLE))")
    sst_aux = ("(CAST(a.uu AS DOUBLE)"
               " - CAST(a.su AS DOUBLE) * CAST(a.su AS DOUBLE) / a.n)")
    return f"""
WITH scored AS (
  SELECT CAST(ROUND({yd} - (CAST(b.b0 AS DOUBLE)
                            + CAST(b.b1 AS DOUBLE) * {x1d}
                            + CAST(b.b2 AS DOUBLE) * {x2d}), 6)
              AS DECIMAL(24,6)) AS e,
         CAST(l_quantity AS DECIMAL(18,2)) AS x1,
         CAST(l_discount AS DECIMAL(18,2)) AS x2
  FROM lineitem CROSS JOIN ols_beta b
),
a AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(e AS DECIMAL(38,6))) AS se1,
         SUM(CAST(ROUND(CAST(e AS DOUBLE) * CAST(e AS DOUBLE), 6)
                  AS DECIMAL(38,6))) AS se2,
         SUM(CAST(ROUND(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)
                        * CAST(e AS DOUBLE), 4) AS DECIMAL(38,4))) AS se3,
         SUM(CAST(ROUND(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)
                        * CAST(e AS DOUBLE) * CAST(e AS DOUBLE), 2)
                  AS DECIMAL(38,2))) AS se4,
         -- auxiliary-regression moments: u = e^2 on (x1, x2)
         SUM(CAST(x1 AS DECIMAL(18,2))) AS as1,
         SUM(CAST(x2 AS DECIMAL(18,2))) AS as2,
         SUM(CAST(x1 AS DECIMAL(18,2)) * x1) AS aq11,
         SUM(CAST(x2 AS DECIMAL(18,2)) * x2) AS aq22,
         SUM(CAST(x1 AS DECIMAL(18,2)) * x2) AS aq12,
         SUM(CAST(ROUND(CAST(e AS DOUBLE) * CAST(e AS DOUBLE), 6)
                  AS DECIMAL(38,6))) AS su,
         SUM(CAST(ROUND(CAST(x1 AS DOUBLE) * CAST(e AS DOUBLE)
                        * CAST(e AS DOUBLE), 4) AS DECIMAL(38,4))) AS x1u,
         SUM(CAST(ROUND(CAST(x2 AS DOUBLE) * CAST(e AS DOUBLE)
                        * CAST(e AS DOUBLE), 6) AS DECIMAL(38,6))) AS x2u,
         SUM(CAST(ROUND(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)
                        * CAST(e AS DOUBLE) * CAST(e AS DOUBLE), 2)
                  AS DECIMAL(38,2))) AS uu
  FROM scored
),
stats AS (
  SELECT n,
         CAST(se1 AS DOUBLE) / n AS m1,
         CAST(se2 AS DOUBLE) / n AS m2r,
         CAST(se3 AS DOUBLE) / n AS m3r,
         CAST(se4 AS DOUBLE) / n AS m4r,
         1 - {sse_aux} / {sst_aux} AS r2_aux
  FROM a
),
shaped AS (
  -- central moments from raw moments (mean residual ~ 0 but not exactly,
  -- because beta is 9-dp-quantized)
  SELECT n, r2_aux,
         m2r - m1 * m1 AS mu2,
         m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1 AS mu3,
         m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r - 3 * m1 * m1 * m1 * m1 AS mu4
  FROM stats
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND(mu3 / (mu2 * sqrt(mu2)), 6) AS resid_skewness,
       ROUND(mu4 / (mu2 * mu2), 6) AS resid_kurtosis,
       ROUND(n / 6.0 * (mu3 / (mu2 * sqrt(mu2)) * (mu3 / (mu2 * sqrt(mu2)))
             + (mu4 / (mu2 * mu2) - 3) * (mu4 / (mu2 * mu2) - 3) / 4), 6)
         AS jarque_bera,
       ROUND(n * r2_aux, 6) AS breusch_pagan_lm,
       CAST(2 AS BIGINT) AS bp_df
FROM shaped
"""


def ols_diag_sql(dialect: str) -> str:
    return compose_with(ols_moment_bases(dialect), ols_diag_tail_sql(dialect))


register(
    "ols_residual_diagnostics",
    oracle=ols_diag_sql(DUCKDB),
    doc="OLS residual diagnostics for the revenue model: Jarque-Bera "
    "normality (skew/kurtosis from decimal-exact residual moment sums) + "
    "Breusch-Pagan LM heteroskedasticity (auxiliary e^2 ~ x regression via "
    "the shared 3x3 solve); two scans total, no windows",
)(sql_runner(ols_diag_tail_sql, ("lineitem",), stages=cte_stages(ols_moment_bases)))
