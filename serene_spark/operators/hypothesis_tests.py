"""Classical hypothesis tests as one-scan aggregations: chi-square
independence and the Mann-Whitney U rank test.

These join the experiments family (A/B z-test, A/A calibration in
operators/experiments.py) with the two tests every analytics engine is
asked for next:

* ``chisq_type_dow`` — Pearson chi-square independence of event type vs
  day-of-week ("does traffic mix shift across the week?").  One scan
  reduces events to the contingency counts; the complete grid (including
  empty cells — omitting them understates the statistic) is the cross of
  the two MARGIN relations (5 x 7 rows here — margin-cardinality, never
  data-scale; the same tiny-grid device as the basket-pair generator).
  chi2 = sum (O-E)^2 / E with E = row_total * col_total / N from exact
  integer counts; per-cell contributions are rounded to 12 dp and summed
  in DECIMAL so the total is aggregation-order independent.
* ``mannwhitney_value`` — Mann-Whitney U comparing the `value`
  distribution of two event types without normality assumptions (the
  robust sibling of the A/B z-test).  The scale device: ranks are never
  assigned per row.  Values quantize to DECIMAL(18,2) cents (the drift
  suite's convention, making ties well-defined and engine-exact), reduce
  to a per-(value, side) count histogram, and every tied-average rank
  comes from cumulative windows over the DISTINCT-value relation.
  Working in doubled-rank units (avgrank2 = 2*cum_before + t + 1) keeps
  the whole rank algebra in exact BIGINTs — U is computed integer-exact
  and only the final z divides in DOUBLE.  The variance carries the
  standard tie correction sigma^2 = nA*nB/12 * ((N+1) - sum(t^3-t) /
  (N*(N-1))) (Lehmann, Nonparametrics 1975).

At 100 TB both tests stay two-level aggregations (map-side partial
counts -> margin/histogram relations); no window ever sees a data-scale
row count.  Independent non-SQL reference: numpy implementations in
tests/test_hypothesis_tests.py (scipy is not in the container).
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import (
    DUCKDB,
    epoch_s,
    epoch_us,
    explode_seq,
    idiv,
    mat,
    re_extract,
)
from serene_spark.registry import register

MWU_SIDE_A = "click"
MWU_SIDE_B = "purchase"


def chisq_sql(dialect: str) -> str:
    return compose_with(chisq_bases(dialect), chisq_tail_sql(dialect))


def chisq_bases(dialect: str) -> list[tuple[str, str]]:
    day = idiv(dialect, f"({epoch_s(dialect, 'ts')})", 86400)
    return [("cells", f"""cells AS (
  SELECT event_type, (({day}) + 4) % 7 AS dow, COUNT(*) AS n
  FROM events
  GROUP BY event_type, (({day}) + 4) % 7
)""")]


def chisq_tail_sql(dialect: str) -> str:
    return f"""
WITH row_m AS (
  SELECT event_type, SUM(n) AS n_row FROM cells GROUP BY event_type
),
col_m AS (
  SELECT dow, SUM(n) AS n_col FROM cells GROUP BY dow
),
tot AS (
  SELECT SUM(n) AS n_tot FROM cells
),
grid AS (
  -- complete contingency grid: cross of the two margin relations
  -- (margin-cardinality, never data-scale), zero-filled observed counts
  SELECT r.event_type, c.dow, r.n_row, c.n_col,
         COALESCE(x.n, 0) AS n_obs,
         CAST(r.n_row AS DOUBLE) * c.n_col / (SELECT n_tot FROM tot)
           AS expected
  FROM row_m r
  JOIN col_m c ON 1 = 1
  LEFT JOIN cells x ON x.event_type = r.event_type AND x.dow = c.dow
),
contrib AS (
  SELECT event_type, dow, n_obs, expected,
         ROUND((n_obs - expected) * (n_obs - expected) / expected, 12)
           AS cell_chi2
  FROM grid
),
total AS (
  SELECT ROUND(CAST(SUM(CAST(cell_chi2 AS DECIMAL(28,12))) AS DOUBLE), 6)
           AS chi2,
         (COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT dow) - 1) AS dof
  FROM contrib
)
SELECT event_type,
       CAST(dow AS INT) AS dow,
       CAST(n_obs AS BIGINT) AS n_obs,
       ROUND(expected, 6) AS expected,
       ROUND(cell_chi2, 6) AS cell_chi2,
       (SELECT chi2 FROM total) AS chi2_total,
       CAST((SELECT dof FROM total) AS BIGINT) AS dof
FROM contrib
ORDER BY event_type, dow
"""


def mwu_sql(dialect: str) -> str:
    return f"""
WITH hist AS (
  SELECT CAST(value AS DECIMAL(18,2)) AS v,
         SUM(CASE WHEN event_type = '{MWU_SIDE_A}' THEN 1 ELSE 0 END) AS na_v,
         SUM(CASE WHEN event_type = '{MWU_SIDE_B}' THEN 1 ELSE 0 END) AS nb_v
  FROM events
  WHERE event_type IN ('{MWU_SIDE_A}', '{MWU_SIDE_B}') AND value IS NOT NULL
  GROUP BY CAST(value AS DECIMAL(18,2))
),
ranked AS (
  -- doubled-rank units keep tied-average ranks in exact BIGINTs:
  -- avgrank2(v) = 2 * (# strictly smaller) + t_v + 1
  SELECT na_v, nb_v, na_v + nb_v AS t_v,
         2 * (SUM(na_v + nb_v) OVER (ORDER BY v ASC)
              - (na_v + nb_v)) + (na_v + nb_v) + 1 AS avgrank2
  FROM hist
),
sums AS (
  -- DECIMAL(38,0) accumulators: ra2 ~ N^2 and tie_cube ~ N^3 wrap a
  -- BIGINT sum past ~3e9 valued rows in non-ANSI Spark while DuckDB
  -- promotes to HUGEINT — the drift-KS decimal-factor convention
  SELECT SUM(na_v) AS n_a, SUM(nb_v) AS n_b,
         SUM(CAST(na_v AS DECIMAL(19,0)) * avgrank2) AS ra2,
         SUM(CAST(t_v AS DECIMAL(19,0)) * t_v * t_v - t_v) AS tie_cube
  FROM ranked
),
stat AS (
  -- tie-corrected variance computed ONCE, guarded: all-tied samples (or
  -- N < 2) make it 0, and the z would be 0/0 — which ANSI Spark RAISES
  -- while DuckDB NULLs; the guard emits NULL (undecidable), never a crash
  SELECT n_a, n_b, ra2,
         CASE WHEN n_a + n_b < 2 THEN NULL
              ELSE CAST(n_a AS DOUBLE) * n_b / 12
                   * ((n_a + n_b + 1)
                      - CAST(tie_cube AS DOUBLE)
                        / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))
              END AS var_u
  FROM sums
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(ra2 - n_a * (n_a + 1) AS DOUBLE) / 2 AS u_a,
       CAST(n_a AS DOUBLE) * n_b
         - CAST(ra2 - n_a * (n_a + 1) AS DOUBLE) / 2 AS u_b,
       CASE WHEN var_u IS NULL OR var_u <= 0 THEN NULL
            ELSE ROUND((CAST(ra2 - n_a * (n_a + 1) AS DOUBLE) / 2
                        - CAST(n_a AS DOUBLE) * n_b / 2) / sqrt(var_u), 6)
            END AS z,
       CASE WHEN var_u IS NULL OR var_u <= 0 THEN NULL
            WHEN ABS((CAST(ra2 - n_a * (n_a + 1) AS DOUBLE) / 2
                      - CAST(n_a AS DOUBLE) * n_b / 2) / sqrt(var_u))
                 > 1.959964
            THEN 1 ELSE 0 END AS reject_95
FROM stat
"""


register(
    "chisq_type_dow",
    oracle=chisq_sql(DUCKDB),
    doc="Pearson chi-square independence of event type vs day-of-week: "
    "complete margin-cross grid with zero cells, integer-exact "
    "expected counts, decimal-summed contributions",
)(sql_runner(chisq_tail_sql, ("events",), stages=cte_stages(chisq_bases)))

register(
    "mannwhitney_value",
    oracle=mwu_sql(DUCKDB),
    doc="Mann-Whitney U (tie-corrected normal approximation) comparing "
    "event values across two types via the per-value count histogram "
    "in doubled-rank BIGINT units — ranks never assigned per row",
)(sql_runner(mwu_sql, ("events",)))


# --- Benford first-digit conformity audit -----------------------------------


def benford_sql(dialect: str) -> str:
    """Benford's-law conformity audit over order totals — the classic
    financial-forensics screen (fabricated or systematically generated
    amounts rarely reproduce the log-uniform leading-digit law).  Reports
    per-digit observed vs expected log10(1 + 1/d) shares, the chi-square
    distance, and Nigrini's Mean Absolute Deviation statistic with his
    published conformity bands (MAD <= 0.006 close, <= 0.012 acceptable,
    <= 0.015 marginal, else nonconforming).

    The leading SIGNIFICANT digit comes from the DECIMAL's string form
    (first [1-9] character — amounts in (0, 1) like 0.75 lead with
    '0.', and Benford's law is about the first significant digit, so
    '7' is the correct read; a bare first-character substr would bin
    them into a phantom digit 0 outside the 1..9 spine and deflate
    every share).  String extraction, never log10 + FLOOR, whose
    last-ulp libm behavior at exact powers of ten could split the
    engines.  Amounts rounding to 0.00 cents have no significant digit
    and are excluded from both numerator and denominator.  The digit
    spine 1..9 is generated so zero-count digits still contribute their
    expected share.  One scan to a 9-row relation; every ratio an exact
    integer-count division.
    """
    return compose_with(benford_bases(dialect), benford_tail_sql(dialect))


def benford_bases(dialect: str) -> list[tuple[str, str]]:
    dec_str = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING)"
    first_digit = re_extract(dialect, dec_str, "([1-9])", 1)
    return [("digits", f"""digits AS (
  SELECT CAST({first_digit} AS INT) AS d, COUNT(*) AS n
  FROM orders
  WHERE o_totalprice > 0 AND {first_digit} <> ''
  GROUP BY 1
)""")]


def benford_tail_sql(dialect: str) -> str:
    return f"""
WITH tot AS (SELECT SUM(n) AS n_tot FROM digits),
spine AS (
  SELECT {explode_seq(dialect, 1, 9)} AS d FROM (SELECT 1 AS one) o
),
cells AS (
  SELECT s.d,
         COALESCE(g.n, 0) AS n_obs,
         CAST(COALESCE(g.n, 0) AS DOUBLE) / (SELECT n_tot FROM tot) AS obs_frac,
         LOG10(1.0 + 1.0 / s.d) AS exp_frac
  FROM spine s LEFT JOIN digits g ON g.d = s.d
),
stats AS (
  SELECT ROUND(CAST(SUM(CAST(ROUND(
             (n_obs - exp_frac * (SELECT n_tot FROM tot))
             * (n_obs - exp_frac * (SELECT n_tot FROM tot))
             / (exp_frac * (SELECT n_tot FROM tot)), 12) AS DECIMAL(28,12)))
           AS DOUBLE), 6) AS chi2,
         ROUND(CAST(SUM(CAST(ROUND(ABS(obs_frac - exp_frac) / 9, 12)
                             AS DECIMAL(28,12))) AS DOUBLE), 6) AS mad
  FROM cells
)
SELECT CAST(d AS INT) AS digit,
       CAST(n_obs AS BIGINT) AS n_obs,
       ROUND(obs_frac, 6) AS obs_frac,
       ROUND(exp_frac, 6) AS exp_frac,
       (SELECT chi2 FROM stats) AS chi2_total,
       (SELECT mad FROM stats) AS mad,
       CASE WHEN (SELECT mad FROM stats) <= 0.006 THEN 'close'
            WHEN (SELECT mad FROM stats) <= 0.012 THEN 'acceptable'
            WHEN (SELECT mad FROM stats) <= 0.015 THEN 'marginal'
            ELSE 'nonconforming' END AS conformity
FROM cells
ORDER BY d
"""


register(
    "benford_audit_prices",
    oracle=benford_sql(DUCKDB),
    doc="Benford first-digit conformity audit over order totals: "
    "representation-exact digit extraction (never log10+FLOOR), "
    "chi-square distance + Nigrini MAD conformity bands",
)(sql_runner(benford_tail_sql, ("orders",), stages=cte_stages(benford_bases)))


# --- Kruskal-Wallis k-sample rank test --------------------------------------


def kruskal_sql(dialect: str) -> str:
    """Kruskal-Wallis H test across ALL event types' value distributions —
    the k-sample generalization of the Mann-Whitney U (Kruskal & Wallis
    1952): one rank algebra answers "do ANY of the k groups differ"
    before pairwise tests are even justified.

    Same scale device as the MWU: values quantize to DECIMAL(18,2)
    cents, reduce to a per-(value, group) count histogram, and the
    doubled-rank units avgrank2 = 2*cum_before + t + 1 keep every rank
    sum in exact BIGINTs; H and its tie correction
    1 - sum(t^3 - t)/(N^3 - N) divide in double only at the end.  One
    row per group (n, integer-exact mean rank) with the global H, dof,
    and the chi-square(k-1) 95% decision repeated.

    The chi-square critical value is looked up from a fixed dof table
    (1..8) — evaluating the inverse-chi-square CDF engine-side would
    need special functions neither dialect shares.
    """
    return compose_with(kruskal_bases(dialect), kruskal_tail_sql(dialect))


def kruskal_bases(dialect: str) -> list[tuple[str, str]]:
    return [("hist", """hist AS (
  SELECT event_type AS grp, CAST(value AS DECIMAL(18,2)) AS v, COUNT(*) AS c
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, CAST(value AS DECIMAL(18,2))
)""")]


def kruskal_tail_sql(dialect: str) -> str:
    crit = {1: 3.841459, 2: 5.991465, 3: 7.814728, 4: 9.487729,
            5: 11.070498, 6: 12.591587, 7: 14.067140, 8: 15.507313}
    crit_case = "CASE (SELECT k FROM groups_n) - 1 " + " ".join(
        f"WHEN {d} THEN {v}" for d, v in crit.items()
    ) + " ELSE NULL END"
    return f"""
WITH vals AS (
  SELECT v, SUM(c) AS t_v FROM hist GROUP BY v
),
ranked_vals AS (
  SELECT v, t_v,
         2 * (SUM(t_v) OVER (ORDER BY v ASC) - t_v) + t_v + 1 AS avgrank2
  FROM vals
),
per_group AS (
  -- DECIMAL accumulators: rank sums ~ N^2 wrap BIGINT in non-ANSI
  -- Spark past ~3e9 rows while DuckDB promotes to HUGEINT
  SELECT h.grp,
         SUM(h.c) AS n_g,
         SUM(CAST(h.c AS DECIMAL(19,0)) * r.avgrank2) AS r2_g
  FROM hist h JOIN ranked_vals r ON r.v = h.v
  GROUP BY h.grp
),
groups_n AS (
  SELECT COUNT(*) AS k, SUM(n_g) AS n_tot FROM per_group
),
ties AS (
  SELECT SUM(CAST(t_v AS DECIMAL(19,0)) * t_v * t_v - t_v) AS tie_cube FROM vals
),
h_stat AS (
  -- H = 12/(N(N+1)) * sum(R_g^2 / n_g) - 3(N+1), with R_g = r2_g / 2;
  -- divided by the tie correction 1 - tie_cube/(N^3 - N).  Guard: an
  -- all-tied corpus (or N < 2) zeroes the correction — ANSI Spark
  -- RAISES on the 0/0 where DuckDB NULLs, so emit NULL explicitly
  SELECT CASE
    WHEN n_tot < 2 THEN NULL  -- separate branch: OR may not short-circuit
    WHEN 1.0 - CAST((SELECT tie_cube FROM ties) AS DOUBLE)
               / (CAST(n_tot AS DOUBLE) * n_tot * n_tot - n_tot) <= 0
    THEN NULL
    ELSE ROUND(
      (12.0 / (CAST(n_tot AS DOUBLE) * (n_tot + 1))
       * (SELECT SUM(CAST(r2_g AS DOUBLE) * r2_g / (4.0 * n_g)) FROM per_group)
       - 3.0 * (n_tot + 1))
      / (1.0 - CAST((SELECT tie_cube FROM ties) AS DOUBLE)
               / (CAST(n_tot AS DOUBLE) * n_tot * n_tot - n_tot)), 6)
    END AS h
  FROM groups_n
)
SELECT g.grp AS event_type,
       CAST(g.n_g AS BIGINT) AS n,
       ROUND(CAST(g.r2_g AS DOUBLE) / (2.0 * g.n_g), 6) AS mean_rank,
       (SELECT h FROM h_stat) AS h_stat,
       CAST((SELECT k FROM groups_n) - 1 AS BIGINT) AS dof,
       -- dof beyond the table OR a degenerate (all-tied) H -> NULL
       -- (undecidable), never a silent "not rejected": x > NULL is NULL
       -- and would fall through to ELSE 0 without the explicit branches
       CAST(CASE WHEN {crit_case} IS NULL THEN NULL
                 WHEN (SELECT h FROM h_stat) IS NULL THEN NULL
                 WHEN (SELECT h FROM h_stat) > {crit_case}
                 THEN 1 ELSE 0 END AS INT) AS reject_95
FROM per_group g
ORDER BY g.grp
"""


register(
    "kruskal_wallis_value",
    oracle=kruskal_sql(DUCKDB),
    doc="Kruskal-Wallis H across all event types (k-sample MWU sibling): "
    "doubled-rank BIGINT algebra over the value histogram, tie-corrected, "
    "chi-square(k-1) decision from a fixed critical table",
)(sql_runner(kruskal_tail_sql, ("events",), stages=cte_stages(kruskal_bases)))


# --- goodness of fit vs a FITTED continuous distribution ---------------------


def gof_exponential_sql(dialect: str) -> str:
    """Kolmogorov-Smirnov goodness-of-fit of inter-purchase gaps against a
    FITTED exponential (lambda-hat = 1/mean gap): where drift_ks_events
    compares two empirical samples, this tests one sample against the
    memoryless model a Poisson-process assumption implies.  D is maximized
    over the distinct-gap relation at BOTH sides of each CDF step (the
    sup over a right-continuous step function needs the pre-jump gap too);
    the parameter is estimated from the same data, so the plain KS
    critical value is conservative — the Lilliefors-corrected 5% value
    (1.06/sqrt(n), Lilliefors 1969 table, alpha=0.05 for the exponential
    with estimated mean) is emitted
    beside D and the decision uses it.  Exact integer CDF counts; exp()
    at the edge.

    Scale: one events scan -> per-user LEAD gaps -> distinct-gap
    histogram + cumulative window (the engine-wide quantile shape)."""
    us = epoch_us(dialect, "ts")
    return f"""
WITH pur AS (
  SELECT user_id, {us} AS t FROM events WHERE event_type = 'purchase'
),
gaps AS (
  SELECT CAST(nxt - t AS DOUBLE) / 86400000000 AS g
  FROM (
    SELECT t, LEAD(t) OVER (PARTITION BY user_id ORDER BY t) AS nxt
    FROM pur
  ) x WHERE nxt IS NOT NULL
),
hist AS (
  SELECT g, COUNT(*) AS c FROM gaps GROUP BY g
),
nn AS {mat(dialect)}(
  SELECT SUM(c) AS n, SUM(CAST(ROUND(g * c, 9) AS DECIMAL(28,9))) AS s
  FROM hist
),
lam AS (
  SELECT n, CAST(n AS DOUBLE) / CAST(s AS DOUBLE) AS lambda_hat FROM nn
),
cdf AS (
  SELECT h.g, h.c, SUM(h.c) OVER (ORDER BY h.g) AS cum
  FROM hist h
),
dstat AS (
  -- sup over a right-continuous step function: check the CDF at the top
  -- AND the bottom (cum - c) of every jump
  SELECT MAX(GREATEST(
           ABS(CAST(c.cum AS DOUBLE) / l.n - (1 - EXP(-l.lambda_hat * c.g))),
           ABS(CAST(c.cum - c.c AS DOUBLE) / l.n
               - (1 - EXP(-l.lambda_hat * c.g))))) AS d
  FROM cdf c JOIN lam l ON 1 = 1
)
SELECT CAST(l.n AS BIGINT) AS n_gaps,
       ROUND(l.lambda_hat, 6) AS lambda_per_day,
       ROUND(1.0 / l.lambda_hat, 6) AS mean_gap_days,
       ROUND(d.d, 6) AS ks_d,
       ROUND(1.06 / sqrt(l.n), 6) AS lilliefors_crit_5pct,
       CAST(CASE WHEN d.d > 1.06 / sqrt(l.n) THEN 1 ELSE 0 END AS INT)
         AS reject_exponential
FROM lam l JOIN dstat d ON 1 = 1
"""


register(
    "gof_exponential_gaps",
    oracle=gof_exponential_sql(DUCKDB),
    doc="Lilliefors-corrected KS goodness-of-fit of inter-purchase gaps "
    "against the fitted exponential: both-sides-of-step D over the "
    "distinct-gap relation, estimated-parameter critical value emitted",
)(sql_runner(gof_exponential_sql, ("events",)))


GOF_MIN_EXP = 5.0


def gof_poisson_sql(dialect: str) -> str:
    """Chi-square goodness-of-fit of HOURLY PURCHASE COUNTS against a
    fitted Poisson(lambda-hat = mean count) — the discrete sibling of the
    exponential-gap KS above, and the direct test of the Poisson-process
    assumption the hourly GLM builds on.  The pmf needs k!: ln k! is a
    cumulative 9-dp-quantized decimal sum of ln(k) over the k spine, so
    the expected counts are engine-identical.  Tail categories with
    expected < {GOF_MIN_EXP} merge into the last bin (the textbook rule);
    chi2 sums 9-dp-quantized terms; df = bins − 2 (one for totals, one
    for the estimated lambda).

    Scale: one events scan -> hour counts -> count-of-counts histogram
    (k-cardinality); the pmf spine and the chi2 run on that tiny
    relation."""
    hour = idiv(dialect, f"({epoch_s(dialect, 'ts')})", 3600)
    return f"""
WITH hourly AS (
  SELECT {hour} AS h, COUNT(*) AS k
  FROM events WHERE event_type = 'purchase' GROUP BY {hour}
),
bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
spine AS (
  SELECT {explode_seq(dialect, "(SELECT h0 FROM bounds)", "(SELECT h1 FROM bounds)")} AS h
  FROM bounds
),
counts AS (
  -- zero-purchase hours are k = 0 observations, not gaps
  SELECT s.h, COALESCE(y.k, 0) AS k
  FROM spine s LEFT JOIN hourly y ON s.h = y.h
),
nn AS {mat(dialect)}(
  SELECT COUNT(*) AS n, SUM(k) AS total, MAX(k) AS kmax FROM counts
),
obs AS (
  SELECT k, COUNT(*) AS o FROM counts GROUP BY k
),
kspine AS (
  SELECT {explode_seq(dialect, 0, "(SELECT kmax FROM nn)")} AS k FROM nn
),
lnfact AS (
  SELECT k,
         SUM(CAST(ROUND(CASE WHEN k = 0 THEN 0.0 ELSE LN(k) END, 9)
                  AS DECIMAL(28,9))) OVER (ORDER BY k) AS lnk
  FROM kspine
),
expected AS (
  SELECT f.k,
         n.n * EXP(-CAST(n.total AS DOUBLE) / n.n
                   + f.k * LN(CAST(n.total AS DOUBLE) / n.n)
                   - CAST(f.lnk AS DOUBLE)) AS e
  FROM lnfact f JOIN nn n ON 1 = 1
),
-- textbook tail merge: categories from the first k whose expected count
-- drops below the minimum all collapse into one bin
cut AS {mat(dialect)}(
  SELECT COALESCE(MIN(k), (SELECT kmax FROM nn) + 1) AS k_cut
  FROM expected WHERE e < {GOF_MIN_EXP} AND k > 0
),
binned AS (
  SELECT LEAST(e.k, c.k_cut) AS bin,
         SUM(CAST(ROUND(e.e, 9) AS DECIMAL(28,9))) AS e,
         SUM(COALESCE(o.o, 0)) AS o
  FROM expected e
  LEFT JOIN obs o ON e.k = o.k
  JOIN cut c ON 1 = 1
  GROUP BY LEAST(e.k, c.k_cut)
),
chi AS (
  SELECT COUNT(*) AS n_bins,
         SUM(CAST(ROUND((o - CAST(e AS DOUBLE)) * (o - CAST(e AS DOUBLE))
                        / CAST(e AS DOUBLE), 9) AS DECIMAL(28,9))) AS x2
  FROM binned
)
SELECT CAST(n.n AS BIGINT) AS n_hours,
       ROUND(CAST(n.total AS DOUBLE) / n.n, 6) AS lambda_hat,
       CAST(c.n_bins AS BIGINT) AS n_bins,
       CAST(c.n_bins - 2 AS BIGINT) AS dof,
       ROUND(CAST(c.x2 AS DOUBLE), 6) AS chi2
FROM nn n JOIN chi c ON 1 = 1
"""


register(
    "gof_poisson_hourly",
    oracle=gof_poisson_sql(DUCKDB),
    doc="Chi-square GoF of hourly purchase counts vs the fitted Poisson: "
    "ln k! as a quantized cumulative spine sum, expected<5 tail merged "
    "(textbook rule), zero-purchase hours counted as k=0 observations",
)(sql_runner(gof_poisson_sql, ("events",)))


def runs_test_sql(dialect: str) -> str:
    """Wald-Wolfowitz runs test for randomness of the daily revenue series
    around its MEDIAN (the engine-wide exact-rank median, never an
    interpolation): R = number of sign runs, compared to the conditional
    null E[R] = 2*n1*n0/n + 1 and Var[R] = (E[R]-1)(E[R]-2)/(n-1), z with
    continuity correction.  Too many runs = oscillation, too few =
    clustering/trend — the nonparametric cousin of the ACF diagnostic.
    Median-equal days are EXCLUDED (the standard convention).  Run
    boundaries come from one LAG over the day series — no state beyond
    the calendar-bounded relation.

    Scale: one orders scan -> day agg -> median by histogram rank
    selection -> one LAG window."""
    day = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    return f"""
WITH daily AS (
  SELECT {day} AS d, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY {day}
),
hist AS (SELECT rev, COUNT(*) AS c FROM daily GROUP BY rev),
nn AS {mat(dialect)}(SELECT SUM(c) AS n FROM hist),
med AS {mat(dialect)}(
  SELECT MIN(h.rev) AS v
  FROM (SELECT rev, SUM(c) OVER (ORDER BY rev) AS cum FROM hist) h
  JOIN nn ON h.cum * 2 >= nn.n
),
signs AS (
  SELECT d.d, CASE WHEN d.rev > m.v THEN 1 ELSE 0 END AS s
  FROM daily d JOIN med m ON 1 = 1
  WHERE d.rev <> m.v
),
runs AS (
  SELECT s,
         CASE WHEN LAG(s) OVER (ORDER BY d) IS NULL
                OR LAG(s) OVER (ORDER BY d) <> s THEN 1 ELSE 0 END AS starts
  FROM signs
),
stats AS (
  SELECT SUM(starts) AS r, SUM(s) AS n1, COUNT(*) - SUM(s) AS n0, COUNT(*) AS n
  FROM runs
),
z AS (
  SELECT r, n1, n0, n,
         -- CAST: a bare 2.0 literal is DECIMAL(2,1) in Spark, so e_r would
         -- reach the output as DECIMAL while DuckDB emits DOUBLE — equal
         -- values, divergent types (the raw-tuple driver check fails)
         CAST(2.0 AS DOUBLE) * n1 * n0 / n + 1 AS e_r,
         (CAST(2.0 AS DOUBLE) * n1 * n0 / n + 1 - 1)
           * (CAST(2.0 AS DOUBLE) * n1 * n0 / n + 1 - 2) / (n - 1)
           AS v_r
  FROM stats
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(n1 AS BIGINT) AS n_above,
       CAST(n0 AS BIGINT) AS n_below,
       CAST(r AS BIGINT) AS n_runs,
       ROUND(e_r, 6) AS expected_runs,
       ROUND((r - e_r + CASE WHEN r < e_r THEN 0.5 ELSE -0.5 END)
             / sqrt(v_r), 6) AS z_stat
FROM z
"""


register(
    "runs_test_daily",
    oracle=runs_test_sql(DUCKDB),
    doc="Wald-Wolfowitz runs test of daily revenue around its exact-rank "
    "median (median-equal days excluded): run boundaries from one LAG, "
    "conditional-null z with continuity correction",
)(sql_runner(runs_test_sql, ("orders",)))
