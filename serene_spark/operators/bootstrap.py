"""Distributed uncertainty quantification: Poisson-bootstrap confidence
interval for the mean order value.

``bootstrap_ci_revenue`` — the Poisson bootstrap (Chamandy et al.,
"Estimating uncertainty for massive data streams", Google tech report
2012; Kleiner et al.'s bag-of-little-bootstraps is the other scale
answer): classical bootstrap resampling draws n-out-of-n WITH replacement,
which is unimplementable on a distributed table (it needs global
coordination of the multinomial draw); the Poisson approximation gives
every row an INDEPENDENT Poisson(1) replicate weight, so all
``B_REPS`` resamples materialize in ONE scan as per-row weight vectors —
map-side partial sums, one tiny (rep)-keyed agg, no shuffle of the fact
table and no driver-side loop.  From the B replicate means: the
percentile CI (2.5/97.5, index-selected over the sorted replicate means
with rep-id tie-break) and the bootstrap SE.

Determinism / parity: the Poisson(1) draw inverts the exact CDF against
the engine-shared md5 uniform (``u01``: exact binary fraction, identical
bit-for-bit in both engines); CDF thresholds are CAST'd DOUBLE literals
(a bare decimal literal is DECIMAL in DuckDB); revenue sums are exact
DECIMAL; replicate means are rounded once and the SE derives from
decimal-exact sums of those rounded means.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, explode_seq, hex_to_int
from serene_spark.registry import register

B_REPS = 100

# Poisson(1) CDF: P(X <= k) for k = 0..6; beyond that weight 7 (p ~ 8e-5)
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.919698602928606,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


def _u01(dialect: str, key: str) -> str:
    h = hex_to_int(dialect, f"substr(md5(CAST({key} AS STRING)), 1, 8)")
    return f"({h} / CAST(4294967296 AS DOUBLE))"


def bootstrap_sql(dialect: str) -> str:
    # correlated scalar subqueries for the CASE would defeat pushdown; inline
    u = _u01(dialect, "CONCAT(CAST(o_orderkey AS STRING), '#', CAST(rep AS STRING))")
    arms = "\n".join(
        f"           WHEN {u} < CAST({c!r} AS DOUBLE) THEN {k}"
        for k, c in enumerate(_POIS_CDF)
    )
    lo_idx = 3   # ceil(0.025 * B) for B = 100
    hi_idx = 98  # ceil(0.975 * B)
    return f"""
WITH weighted AS (
  SELECT rep,
         CASE
{arms}
           ELSE 7 END AS w,
         CAST(o_totalprice AS DECIMAL(18,2)) AS rev
  FROM (
    SELECT o_orderkey, o_totalprice, {explode_seq(dialect, 1, str(B_REPS))} AS rep
    FROM orders
  ) r
),
rep_means AS (
  SELECT rep,
         ROUND(CAST(SUM(w * rev) AS DOUBLE) / SUM(w), 6) AS m
  FROM weighted
  GROUP BY rep
),
ranked AS (
  SELECT m, ROW_NUMBER() OVER (ORDER BY m, rep) AS pos FROM rep_means
),
folded AS (
  -- ONE pass over the B replicate means folds the CI indices and the SE
  -- moments together: a scalar subquery per statistic would make Catalyst
  -- inline (and re-execute) the whole exploded CTE chain per reference —
  -- measured as 3 extra scans of the 100x-exploded fact relation
  SELECT CAST(COUNT(*) AS BIGINT) AS b,
         MIN(CASE WHEN pos = {lo_idx} THEN m END) AS ci_lo,
         MIN(CASE WHEN pos = {hi_idx} THEN m END) AS ci_hi,
         SUM(CAST(m AS DECIMAL(28,6))) AS s1,
         SUM(CAST(m AS DECIMAL(28,6)) * CAST(m AS DECIMAL(28,6))) AS s2
  FROM ranked
),
point AS (
  SELECT ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*), 6) AS m,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders
)
SELECT p.m AS mean_rev,
       p.n AS n_orders,
       f.ci_lo,
       f.ci_hi,
       ROUND(sqrt((CAST(f.s2 AS DOUBLE) - CAST(f.s1 AS DOUBLE) * CAST(f.s1 AS DOUBLE) / f.b)
                  / (f.b - 1)), 6) AS bootstrap_se,
       f.b AS n_reps
FROM folded f CROSS JOIN point p
"""


register(
    "bootstrap_ci_revenue",
    oracle=bootstrap_sql(DUCKDB),
    doc=f"Poisson-bootstrap percentile CI + SE for mean order value: "
    f"{B_REPS} replicates materialized in ONE scan via independent "
    "deterministic Poisson(1) weights — no global resampling coordination",
)(sql_runner(bootstrap_sql, ("orders",)))
