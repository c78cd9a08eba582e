"""Feature-engineering operators for tabular ML pipelines — smoothed target
encoding and weight-of-evidence / information-value scoring, the two
categorical-encoding staples a training-data platform ships beside its
profiling stack (the scalar/type-inference features in operators/profile_*).

* ``target_encode_event_type`` — m-estimate (smoothed) mean-target encoding
  of the categorical ``event_type`` against the continuous ``value`` target:
  enc = (Σy + m·ȳ_global)/(n + m), m = ``SMOOTH_M``.  Σy is an exact DECIMAL
  sum (cents-quantized), counts are integers, so the encoding is
  aggregation-order exact.  The smoothing is what makes the encoding safe
  for rare categories (a 1-row category shrinks to the global mean instead
  of memorizing its single target — the classic target-leak failure).
* ``woe_iv_discount`` — weight of evidence per discount bin against the
  binary "returned" label (l_returnflag = 'R'), plus the feature's total
  information value: WoE_b = ln((good_b/good_tot)/(bad_b/bad_tot)),
  IV = Σ_b (good share − bad share)·WoE_b.  All shares are exact integer
  ratios; only the final ln is floating point (rounded 6 dp).  Degenerate
  bins (zero goods or zero bads) yield NULL WoE and are excluded from IV —
  stated, not silent.

Scale: each is ONE scan → one keyed agg on a constant-cardinality key (+ a
broadcast 1-row global relation).  Nothing shuffles at data scale.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.registry import register

SMOOTH_M = 20


def _target_encode_sql(dialect: str) -> str:
    v = "CAST(value AS DECIMAL(18,2))"
    return f"""
WITH g AS {mat(dialect)}(
  SELECT COUNT(*) AS n_tot, SUM({v}) AS s_tot
  FROM events WHERE value IS NOT NULL
),
per AS (
  SELECT event_type, COUNT(*) AS n, SUM({v}) AS s
  FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT per.event_type,
       CAST(per.n AS BIGINT) AS n,
       ROUND(CAST(per.s AS DOUBLE) / per.n, 6) AS mean_raw,
       ROUND((CAST(per.s AS DOUBLE) + {SMOOTH_M} * CAST(g.s_tot AS DOUBLE) / g.n_tot)
             / (per.n + {SMOOTH_M}), 6) AS enc_smoothed,
       ROUND(CAST(g.s_tot AS DOUBLE) / g.n_tot, 6) AS global_mean
FROM per JOIN g ON 1 = 1
ORDER BY event_type
"""


register(
    "target_encode_event_type",
    oracle=_target_encode_sql(DUCKDB),
    doc=f"m-estimate smoothed mean-target encoding (m={SMOOTH_M}) of "
    "event_type against value: exact decimal sums + integer counts, "
    "rare categories shrink to the global mean",
)(sql_runner(_target_encode_sql, ("events",)))


def _woe_sql(dialect: str) -> str:
    return f"""
WITH bins AS (
  SELECT CAST(l_discount AS DECIMAL(18,2)) AS discount,
         SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS bad,
         SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END) AS good
  FROM lineitem
  GROUP BY CAST(l_discount AS DECIMAL(18,2))
),
tot AS {mat(dialect)}(
  SELECT SUM(bad) AS bad_tot, SUM(good) AS good_tot FROM bins
),
scored AS (
  SELECT b.discount, b.good, b.bad,
         CASE WHEN b.good = 0 OR b.bad = 0 THEN NULL
              ELSE ln((CAST(b.good AS DOUBLE) / t.good_tot)
                      / (CAST(b.bad AS DOUBLE) / t.bad_tot)) END AS woe,
         CASE WHEN b.good = 0 OR b.bad = 0 THEN NULL
              ELSE (CAST(b.good AS DOUBLE) / t.good_tot
                    - CAST(b.bad AS DOUBLE) / t.bad_tot)
                   * ln((CAST(b.good AS DOUBLE) / t.good_tot)
                        / (CAST(b.bad AS DOUBLE) / t.bad_tot)) END AS iv_contrib
  FROM bins b JOIN tot t ON 1 = 1
),
iv AS (
  SELECT SUM(CAST(ROUND(iv_contrib, 12) AS DECIMAL(20,12))) AS iv_total
  FROM scored WHERE iv_contrib IS NOT NULL
)
SELECT ROUND(CAST(s.discount AS DOUBLE), 2) AS discount,
       CAST(s.good AS BIGINT) AS n_good,
       CAST(s.bad AS BIGINT) AS n_bad,
       ROUND(s.woe, 6) AS woe,
       ROUND(s.iv_contrib, 6) AS iv_contrib,
       ROUND(CAST(i.iv_total AS DOUBLE), 6) AS iv_total
FROM scored s JOIN iv i ON 1 = 1
ORDER BY discount
"""


register(
    "woe_iv_discount",
    oracle=_woe_sql(DUCKDB),
    doc="Weight-of-evidence per discount bin against the returned label + "
    "total information value: exact integer shares, ln only at the edge, "
    "degenerate bins NULL and excluded from IV",
)(sql_runner(_woe_sql, ("lineitem",)))


def _eb_sql(dialect: str) -> str:
    """Empirical-Bayes (James-Stein style) shrinkage of per-brand mean
    retail prices: each brand's mean is pulled toward the grand mean by
    B_i = (sigma2/n_i) / (tau2 + sigma2/n_i), with the within-variance
    sigma2 pooled from the one-way ANOVA MSW and the between-brand
    variance tau2 by method of moments, floored at 0 (a negative moment
    estimate means the groups are indistinguishable and everything
    shrinks fully).  The parametric-prior sibling of the m-estimate
    target encoder above: the smoothing strength here is ESTIMATED from
    the data instead of fixed.  All moments exact decimals; the solve is
    constant-size."""
    v = "CAST(p_retailprice AS DECIMAL(18,2))"
    return f"""
WITH g AS (
  SELECT p_brand, COUNT(*) AS n, SUM({v}) AS s, SUM({v} * {v}) AS q
  FROM part GROUP BY p_brand
),
tot AS {mat(dialect)}(
  SELECT COUNT(*) AS k, SUM(n) AS n_tot, SUM(s) AS s_tot,
         SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n, 6)
                  AS DECIMAL(28,6))) AS ssb_part,
         SUM(q) AS q_tot,
         SUM(CAST(n AS DECIMAL(19,0)) * n) AS n_sq_sum
  FROM g
),
hyper AS (
  -- method of moments: E[SSB] = (k-1)*sigma2 + tau2*(N - Sum n_i^2 / N)
  -- => tau2 = max(0, (SSB - (k-1)*sigma2) / (N - Sum n_i^2 / N))
  -- (the earlier weighted form under-corrected by ~sigma2, leaving
  -- near-zero shrinkage exactly when groups are indistinguishable)
  SELECT k, n_tot,
         CAST(s_tot AS DOUBLE) / n_tot AS grand,
         (CAST(q_tot AS DOUBLE) - CAST(ssb_part AS DOUBLE)) / (n_tot - k)
           AS sigma2,
         GREATEST(0.0,
           ((CAST(ssb_part AS DOUBLE)
             - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / n_tot)
            - (k - 1) * (CAST(q_tot AS DOUBLE) - CAST(ssb_part AS DOUBLE))
              / (n_tot - k))
           / (n_tot - CAST(n_sq_sum AS DOUBLE) / n_tot)) AS tau2
  FROM tot
)
SELECT g.p_brand,
       CAST(g.n AS BIGINT) AS n,
       ROUND(CAST(g.s AS DOUBLE) / g.n, 6) AS mean_raw,
       ROUND(h.sigma2 / g.n / (h.tau2 + h.sigma2 / g.n), 6) AS shrink_b,
       ROUND(h.grand
             + (1 - h.sigma2 / g.n / (h.tau2 + h.sigma2 / g.n))
               * (CAST(g.s AS DOUBLE) / g.n - h.grand), 6) AS mean_eb,
       ROUND(h.grand, 6) AS grand_mean,
       ROUND(h.tau2, 6) AS tau2
FROM g JOIN hyper h ON 1 = 1
ORDER BY g.p_brand
"""


register(
    "eb_shrunk_brand_means",
    oracle=_eb_sql(DUCKDB),
    doc="Empirical-Bayes shrinkage of per-brand mean retail prices: pooled "
    "within-variance + method-of-moments between-variance (floored at 0), "
    "per-brand shrink factors and shrunk means — the estimated-prior "
    "sibling of the fixed-m target encoder",
)(sql_runner(_eb_sql, ("part",)))
