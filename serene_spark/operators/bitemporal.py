"""Bitemporal state reconstruction — the two-axis sibling of the CDC
point-in-time join (operators/cdc.py): VALID time (when the fact was true)
× TRANSACTION time (when the warehouse learned it).  "What did we believe
the state was, then?" vs "what do we now know it was?" is the question
every late-data audit and every regulatory restatement asks; a single-axis
SCD2 cannot answer it.

``bitemporal_as_of``: the CDC op stream (signup/click/view = upserts,
error = delete — the engine-wide fixture) gets a deterministic ingest lag
(1–7 hours, keyed on event_id) as its transaction time.  Four evenly
spaced valid-time audit points are each reconstructed twice:

* knowledge = 'then'  — ops with txn_time ≤ the audit instant (what the
  warehouse could see at that moment);
* knowledge = 'final' — all ops with valid_time ≤ the instant (what we
  know today).

Per reconstruction: live-key count and live value sum.  The 'then' rows
systematically undercount (in-flight ops invisible), and the delta IS the
late-data correction the audit quantifies.

Scale: the audit grid is constant-size (8 cells); the grid⋈ops candidate
relation is |grid| × |ops| = a constant number of passes over one events
scan, then ONE (cell, key)-keyed window picks the latest op per key per
cell.  No data-scale pair blowup — the grid is the small side by
construction.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_us, explode_seq, idiv, mat
from serene_spark.registry import register

N_POINTS = 4
LAG_HOURS_MOD = 7


def _bitemporal_sql(dialect: str) -> str:
    us = epoch_us(dialect, "ts")
    seq = explode_seq(dialect, 1, N_POINTS)
    return f"""
WITH ops AS (
  SELECT user_id, event_id, {us} AS valid_us,
         {us} + (event_id % {LAG_HOURS_MOD} + 1) * 3600000000 AS txn_us,
         CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error' THEN 'D'
              ELSE 'U' END AS op,
         value
  FROM events
),
bounds AS {mat(dialect)}(
  SELECT MIN(valid_us) AS v0, MAX(valid_us) AS v1 FROM ops
),
grid AS (
  SELECT k, v0 + k * {idiv(dialect, "(v1 - v0)", N_POINTS + 1)} AS v_at, know
  FROM (SELECT {seq} AS k, v0, v1 FROM bounds) g
  JOIN (SELECT 'then' AS know UNION ALL SELECT 'final' AS know) kk ON 1 = 1
),
visible AS (
  SELECT g.k, g.know, g.v_at, o.user_id, o.op, o.value, o.valid_us, o.event_id
  FROM grid g
  JOIN ops o
    ON o.valid_us <= g.v_at
   AND (g.know = 'final' OR o.txn_us <= g.v_at)
),
latest AS (
  SELECT k, know, v_at, user_id, op, value,
         ROW_NUMBER() OVER (PARTITION BY k, know, user_id
                            ORDER BY valid_us DESC, event_id DESC) AS rk
  FROM visible
)
SELECT CAST(k AS BIGINT) AS audit_point,
       know AS knowledge,
       CAST(v_at AS BIGINT) AS valid_us,
       CAST(SUM(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       ROUND(CAST(SUM(CASE WHEN op <> 'D'
                  THEN CAST(value AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE), 2)
         AS live_value
FROM latest
WHERE rk = 1
GROUP BY k, know, v_at
ORDER BY audit_point, knowledge
"""


register(
    "bitemporal_as_of",
    oracle=_bitemporal_sql(DUCKDB),
    doc="Bitemporal audit: 4 valid-time points reconstructed under "
    "'as known then' (txn-time filtered) vs 'as known now' knowledge; "
    "live-key count + value sum per cell — the delta is the late-data "
    "correction; constant-size audit grid, one keyed window",
)(sql_runner(_bitemporal_sql, ("events",)))
