"""Rolling-origin forecast backtesting — the evaluation harness every
forecasting stack needs under its models (the Holt / Holt-Winters / AR(2)
fits in operators/forecast.py report in-sample fits; this operator measures
OUT-OF-SAMPLE error the way production forecast evals do).

``forecast_backtest_baselines``: the monthly-revenue series is backtested
with the three standard baseline forecasters every real model must beat
(Hyndman & Athanasopoulos, "Forecasting: Principles and Practice", §5.2):

* naive            — f(o+h) = y(o)
* seasonal naive   — f(o+h) = y(o+h−12)
* drift            — f(o+h) = y(o) + h·(y(o) − y(first))/(o − first)

Every month with ≥ 12 months of history becomes an origin; horizons 1–3
are scored against the actual, and the output is per (model, horizon):
origin count, MAPE and MAE (APE/AE terms 12-dp-quantized and
DECIMAL-summed — the engine's aggregation-order convention).  Zero-actual
months are excluded from MAPE (division guard) but kept in MAE — stated,
not silent.

Scale: ONE orders scan reduces to the month-cardinality series relation
(zero-filled spine so gap months forecast as zeros instead of splicing
non-adjacent months — the calendar-spine convention); all the
origin × horizon joins are equi-joins on month index over that tiny
relation.  At 100 TB the fact scan dominates and nothing else grows.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, explode_seq, mat
from serene_spark.registry import register

H_MAX = 3
SEASON = 12


def _bases(dialect: str) -> list[tuple[str, str]]:
    m = mat(dialect)
    mi = "(CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) * 12 + CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT))"
    return [
        ("series", f"""raw AS (
  SELECT {mi} AS m, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY {mi}
),
bounds AS (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM raw),
spine AS (
  SELECT {explode_seq(dialect, "(SELECT m0 FROM bounds)", "(SELECT m1 FROM bounds)")} AS m
  FROM bounds
),
series AS {m}(
  SELECT s.m, COALESCE(r.rev, CAST(0 AS DECIMAL(18,2))) AS rev
  FROM spine s LEFT JOIN raw r ON s.m = r.m
)"""),
    ]


def _tail(dialect: str) -> str:
    ape = "CASE WHEN actual > 0 THEN ABS(f - actual) / actual END"
    return f"""
WITH first_m AS (SELECT m AS mf, CAST(rev AS DOUBLE) AS rev_f FROM series
                 WHERE m = (SELECT MIN(m) FROM series)),
h AS (SELECT {explode_seq(dialect, 1, H_MAX)} AS h),
fc AS (
  SELECT s_o.m AS origin, h.h,
         CAST(s_a.rev AS DOUBLE) AS actual,
         CAST(s_o.rev AS DOUBLE) AS f_naive,
         CAST(s_sn.rev AS DOUBLE) AS f_snaive,
         CAST(s_o.rev AS DOUBLE)
           + h.h * (CAST(s_o.rev AS DOUBLE) - f.rev_f) / (s_o.m - f.mf)
           AS f_drift
  FROM series s_o
  JOIN h ON 1 = 1
  JOIN series s_a ON s_a.m = s_o.m + h.h
  JOIN series s_sn ON s_sn.m = s_o.m + h.h - {SEASON}
  -- origins need >= SEASON months of history, so the seasonal lag always
  -- lands on the spine and all three models share each origin
  JOIN first_m f ON s_o.m >= f.mf + {SEASON}
),
unpiv AS (
  SELECT 'naive' AS model, h, actual, f_naive AS f FROM fc
  UNION ALL
  SELECT 'snaive' AS model, h, actual, f_snaive AS f FROM fc
  UNION ALL
  SELECT 'drift' AS model, h, actual, f_drift AS f FROM fc
)
SELECT model,
       CAST(h AS BIGINT) AS horizon,
       CAST(COUNT(*) AS BIGINT) AS n_origins,
       ROUND(CAST(SUM(CAST(ROUND({ape}, 12) AS DECIMAL(20,12))) AS DOUBLE)
             / COUNT({ape}), 6) AS mape,
       ROUND(CAST(SUM(CAST(ROUND(ABS(f - actual), 6) AS DECIMAL(24,6)) ) AS DOUBLE)
             / COUNT(*), 6) AS mae
FROM unpiv
GROUP BY model, h
ORDER BY model, horizon
"""


register(
    "forecast_backtest_baselines",
    oracle=compose_with(_bases(DUCKDB), _tail(DUCKDB)),
    doc="Rolling-origin backtest of the naive / seasonal-naive / drift "
    "baseline forecasters over monthly revenue: per (model, horizon 1-3) "
    "MAPE + MAE with 12-dp-quantized decimal error sums; zero-actual "
    "months excluded from MAPE only",
)(sql_runner(_tail, ("orders",), stages=cte_stages(_bases)))
