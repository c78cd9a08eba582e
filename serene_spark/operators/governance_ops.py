"""Governance and operations audits — the fairness check a curation
pipeline owes its corpus, and the SLO burn-rate alerting an event stream
owes its operators.

* ``fairness_quality_by_lang`` — disparate-impact audit of the
  ``text_quality`` gate across document languages: per-language pass
  rate, the ratio to the most-passing language, and the four-fifths-rule
  flag (EEOC 80 % convention — a selection procedure whose rate for a
  group is under 0.8× the top group's is presumptively adverse).  A
  quality filter that silently drops one language's documents at twice
  the rate of another's SKEWS the training mix — this audit makes that
  measurable before the filter ships.  Exact integer pass counts; the
  gate is re-derived from the SAME text_quality expression the filter
  uses.
* ``slo_burn_rate`` — multi-window error-budget burn (the SRE workbook
  alerting pattern): with SLO = 0.93 non-error share, the burn rate of a
  window is (error share)/(1 − SLO); the page fires when BOTH windows
  burn above threshold — here 2.0× over 1h AND 1.5× over 6h (the
  workbook's canonical 14.4×/6× pair assumes a 99.9 % SLO and month-long
  budgets; these are scaled to the synthetic corpus's 7 % error base
  rate and 30-day span).  Emits per-hour short/long burn rates and the
  joint alert flag.  Zero-filled hour spine so quiet hours read burn 0,
  not a gap.

Scale: fairness is one scan + constant-key agg; burn-rate is one scan →
hourly agg → two running-window sums over the HOUR-cardinality spine.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_s, explode_seq, idiv, mat
from serene_spark.registry import register

FOUR_FIFTHS = 0.8
SLO_TARGET = 0.93  # non-error share; the corpus error share is ~5-6%
BURN_SHORT_H = 1
BURN_LONG_H = 6
BURN_SHORT_T = 2.0  # thresholds scaled to the synthetic corpus's noise
BURN_LONG_T = 1.5


def _fairness_sql(dialect: str) -> str:
    from serene_spark.operators.text_analysis import text_quality_sql

    # the filter's own pass flag, re-derived -- one definition of "passes"
    return f"""
WITH tq AS ({text_quality_sql(dialect).strip().rstrip()}),
per_lang AS (
  SELECT d.lang, COUNT(*) AS n,
         SUM(CASE WHEN tq.quality_pass = 1.0 THEN 1 ELSE 0 END) AS n_pass
  FROM documents d JOIN tq ON d.doc_id = tq.doc_id
  GROUP BY d.lang
),
top AS {mat(dialect)}(
  SELECT MAX(CAST(n_pass AS DOUBLE) / n) AS best_rate FROM per_lang
)
SELECT p.lang,
       CAST(p.n AS BIGINT) AS n_docs,
       CAST(p.n_pass AS BIGINT) AS n_pass,
       ROUND(CAST(p.n_pass AS DOUBLE) / p.n, 6) AS pass_rate,
       ROUND(CAST(p.n_pass AS DOUBLE) / p.n / t.best_rate, 6) AS impact_ratio,
       CAST(CASE WHEN CAST(p.n_pass AS DOUBLE) / p.n / t.best_rate
                      < {FOUR_FIFTHS} THEN 1 ELSE 0 END AS INT)
         AS adverse_impact
FROM per_lang p JOIN top t ON 1 = 1
ORDER BY p.lang
"""


register(
    "fairness_quality_by_lang",
    oracle=_fairness_sql(DUCKDB),
    doc="Disparate-impact audit of the text_quality gate across languages: "
    "pass rates, ratio to the top group, EEOC four-fifths flag — the "
    "filter's mix skew measured before it ships",
)(sql_runner(_fairness_sql, ("documents",), spread=True))


def burn_fold_sql(dialect: str, hourly_body: str) -> str:
    """The SHARED burn-rate fold over an (h, n, errs) hourly relation —
    one definition used by BOTH the batch operator and the streaming
    monitor's read side (streaming/burn_stream.py), so the streamed
    readout cannot desync numerically from the batch twin."""
    budget = round(1 - SLO_TARGET, 6)
    return f"""
WITH hourly AS ({hourly_body}),
bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
spine AS (
  SELECT {explode_seq(dialect, "(SELECT h0 FROM bounds)", "(SELECT h1 FROM bounds)")} AS h
  FROM bounds
),
filled AS (
  SELECT s.h, COALESCE(y.n, 0) AS n, COALESCE(y.errs, 0) AS errs
  FROM spine s LEFT JOIN hourly y ON s.h = y.h
),
windows AS (
  SELECT h, n, errs,
         SUM(n) OVER (ORDER BY h ROWS BETWEEN {BURN_SHORT_H - 1} PRECEDING
                      AND CURRENT ROW) AS n_s,
         SUM(errs) OVER (ORDER BY h ROWS BETWEEN {BURN_SHORT_H - 1} PRECEDING
                         AND CURRENT ROW) AS e_s,
         SUM(n) OVER (ORDER BY h ROWS BETWEEN {BURN_LONG_H - 1} PRECEDING
                      AND CURRENT ROW) AS n_l,
         SUM(errs) OVER (ORDER BY h ROWS BETWEEN {BURN_LONG_H - 1} PRECEDING
                         AND CURRENT ROW) AS e_l
  FROM filled
),
rates AS (
  SELECT h, n, errs,
         CASE WHEN n_s > 0
              THEN CAST(e_s AS DOUBLE) / n_s / {budget} ELSE 0.0 END AS burn_s,
         CASE WHEN n_l > 0
              THEN CAST(e_l AS DOUBLE) / n_l / {budget} ELSE 0.0 END AS burn_l
  FROM windows
)
SELECT CAST(h AS BIGINT) AS epoch_hour,
       CAST(n AS BIGINT) AS n_events,
       CAST(errs AS BIGINT) AS n_errors,
       ROUND(burn_s, 6) AS burn_rate_{BURN_SHORT_H}h,
       ROUND(burn_l, 6) AS burn_rate_{BURN_LONG_H}h,
       CAST(CASE WHEN burn_s > {BURN_SHORT_T} AND burn_l > {BURN_LONG_T}
            THEN 1 ELSE 0 END AS INT) AS page_alert
FROM rates
ORDER BY epoch_hour
"""


def _burn_sql(dialect: str) -> str:
    hour = idiv(dialect, f"({epoch_s(dialect, 'ts')})", 3600)
    hourly = f"""
  SELECT {hour} AS h,
         COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs
  FROM events GROUP BY {hour}
"""
    return burn_fold_sql(dialect, hourly)


register(
    "slo_burn_rate",
    oracle=_burn_sql(DUCKDB),
    doc=f"Multi-window SLO error-budget burn alerting (SRE workbook): "
    f"{BURN_SHORT_H}h and {BURN_LONG_H}h rolling burn rates vs the "
    f"{SLO_TARGET} SLO over the zero-filled hour spine; the page fires "
    "only when BOTH windows burn hot",
)(sql_runner(_burn_sql, ("events",)))
