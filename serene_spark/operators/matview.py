"""Incremental materialized-view maintenance — merge a stored aggregate
snapshot with the partial aggregates of newly-arrived data instead of
recomputing the view from scratch.

The lakehouse pattern behind every "refresh incrementally" feature
(self-maintainable aggregate views; Mumick et al., "Maintenance of Data
Cubes and Summary Tables in a Warehouse", SIGMOD 1997): for distributive /
algebraic aggregates (count, sum, min, max, avg = sum/count) the view over
``base ∪ delta`` equals a per-group MERGE of partials computed over each
part separately.

``matview_incremental_hourly`` splits events at ``SPLIT_TS`` into a
"stored snapshot" (everything before — in production, the materialized
table on disk) and a "new arrivals" delta, computes hourly per-event-type
partials over EACH side, and FULL-OUTER merges them.  The oracle is the
*full recompute* over all of events — the parity gate therefore proves the
maintenance identity itself (incremental == recompute), not just that two
engines agree on one formula.

Scale shape (100 TB): the snapshot side is already aggregated (group-key
cardinality, not event cardinality — hours × types, millions of rows at
most); only the delta is scanned at event granularity.  The merge join is
keyed on the group key, with the snapshot readable pre-partitioned by that
key (bucketed layout), so a day's refresh costs O(delta) scan + one
group-key-sized join — the whole point of maintenance vs recompute.
min/max are NOT self-maintainable under deletes (retracting the current
min needs the base data); this view is insert-only, which the op feed
guarantees upstream (deletes route to the CDC path, operators/cdc.py).
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_us, idiv
from serene_spark.registry import register

# snapshot/delta boundary: mid-corpus so both sides are non-trivial and
# some groups exist only in one side (pass-through and new-group cases all
# exercised)
SPLIT_TS = "2024-01-16 00:00:00"

_V = "CAST(value AS DECIMAL(18,2))"


def _partials(dialect: str, pred: str) -> str:
    """Hourly (hour, event_type) partial aggregates over a slice of events."""
    hour = idiv(dialect, epoch_us(dialect, "ts"), str(3600 * 1_000_000))
    return f"""(
  SELECT {hour} AS hour_bucket, event_type,
         COUNT(*) AS n_events,
         SUM({_V}) AS sum_value,
         MIN({_V}) AS min_value,
         MAX({_V}) AS max_value
  FROM events
  WHERE {pred}
  GROUP BY 1, 2
)"""


def matview_incremental_sql(dialect: str) -> str:
    """Merged view: snapshot partials FULL OUTER JOIN delta partials on the
    group key; count/sum add, min/max combine, avg derives at read time.
    Groups untouched by the delta pass through from the snapshot unscanned
    (coalesce arms), which is what makes the refresh O(delta)."""
    snap = _partials(dialect, f"ts < TIMESTAMP '{SPLIT_TS}'")
    delta = _partials(dialect, f"ts >= TIMESTAMP '{SPLIT_TS}'")
    return f"""
WITH snap AS {snap},
delta AS {delta},
merged AS (
  SELECT COALESCE(s.hour_bucket, d.hour_bucket) AS hour_bucket,
         COALESCE(s.event_type, d.event_type) AS event_type,
         COALESCE(s.n_events, 0) + COALESCE(d.n_events, 0) AS n_events,
         CASE WHEN s.sum_value IS NULL AND d.sum_value IS NULL THEN NULL
              ELSE COALESCE(s.sum_value, 0) + COALESCE(d.sum_value, 0)
              END AS sum_value,
         CASE WHEN s.min_value IS NULL THEN d.min_value
              WHEN d.min_value IS NULL THEN s.min_value
              WHEN s.min_value < d.min_value THEN s.min_value
              ELSE d.min_value END AS min_value,
         CASE WHEN s.max_value IS NULL THEN d.max_value
              WHEN d.max_value IS NULL THEN s.max_value
              WHEN s.max_value > d.max_value THEN s.max_value
              ELSE d.max_value END AS max_value
  FROM snap s
  FULL OUTER JOIN delta d
    ON s.hour_bucket = d.hour_bucket AND s.event_type = d.event_type
)
SELECT CAST(hour_bucket AS BIGINT) AS hour_bucket,
       event_type,
       CAST(n_events AS BIGINT) AS n_events,
       ROUND(CAST(sum_value AS DOUBLE), 6) AS sum_value,
       ROUND(CAST(min_value AS DOUBLE), 6) AS min_value,
       ROUND(CAST(max_value AS DOUBLE), 6) AS max_value,
       ROUND(CAST(sum_value AS DOUBLE) / n_events, 6) AS avg_value
FROM merged
"""


def matview_recompute_sql(dialect: str) -> str:
    """Full recompute of the same view — the ORACLE for the incremental
    query.  Hash-equality of the two statements is the maintenance
    identity: merge(partials(base), partials(delta)) == agg(base ∪ delta)."""
    hour = idiv(dialect, epoch_us(dialect, "ts"), str(3600 * 1_000_000))
    return f"""
SELECT CAST({hour} AS BIGINT) AS hour_bucket,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(CAST(SUM({_V}) AS DOUBLE), 6) AS sum_value,
       ROUND(CAST(MIN({_V}) AS DOUBLE), 6) AS min_value,
       ROUND(CAST(MAX({_V}) AS DOUBLE), 6) AS max_value,
       ROUND(CAST(SUM({_V}) AS DOUBLE) / COUNT(*), 6) AS avg_value
FROM events
GROUP BY 1, 2
"""


def snapshot_partials_sql(dialect: str) -> str:
    """Standalone snapshot-partials statement — what a refresh job MATERIALIZES
    to the stored view table (everything before SPLIT_TS)."""
    return "SELECT * FROM " + _partials(dialect, f"ts < TIMESTAMP '{SPLIT_TS}'")


def merge_with_stored_sql(dialect: str) -> str:
    """The production refresh statement: merge the STORED aggregate table
    (view ``snap_stored`` — group-key cardinality, read from disk) with
    delta partials computed from events arriving at/after SPLIT_TS.  The
    delta predicate sits directly on the scan, so at 100 TB a
    time-partitioned events layout prunes to just the new partitions."""
    delta = _partials(dialect, f"ts >= TIMESTAMP '{SPLIT_TS}'")
    return f"""
WITH delta AS {delta},
merged AS (
  SELECT COALESCE(s.hour_bucket, d.hour_bucket) AS hour_bucket,
         COALESCE(s.event_type, d.event_type) AS event_type,
         COALESCE(s.n_events, 0) + COALESCE(d.n_events, 0) AS n_events,
         CASE WHEN s.sum_value IS NULL AND d.sum_value IS NULL THEN NULL
              ELSE COALESCE(s.sum_value, 0) + COALESCE(d.sum_value, 0)
              END AS sum_value,
         CASE WHEN s.min_value IS NULL THEN d.min_value
              WHEN d.min_value IS NULL THEN s.min_value
              WHEN s.min_value < d.min_value THEN s.min_value
              ELSE d.min_value END AS min_value,
         CASE WHEN s.max_value IS NULL THEN d.max_value
              WHEN d.max_value IS NULL THEN s.max_value
              WHEN s.max_value > d.max_value THEN s.max_value
              ELSE d.max_value END AS max_value
  FROM snap_stored s
  FULL OUTER JOIN delta d
    ON s.hour_bucket = d.hour_bucket AND s.event_type = d.event_type
)
SELECT CAST(hour_bucket AS BIGINT) AS hour_bucket,
       event_type,
       CAST(n_events AS BIGINT) AS n_events,
       ROUND(CAST(sum_value AS DOUBLE), 6) AS sum_value,
       ROUND(CAST(min_value AS DOUBLE), 6) AS min_value,
       ROUND(CAST(max_value AS DOUBLE), 6) AS max_value,
       ROUND(CAST(sum_value AS DOUBLE) / n_events, 6) AS avg_value
FROM merged
"""


register(
    "matview_incremental_hourly",
    # oracle = FULL RECOMPUTE: parity proves incremental merge == recompute
    oracle=matview_recompute_sql(DUCKDB),
    doc="incremental materialized-view maintenance: hourly per-type "
    "aggregate snapshot merged with delta partials; oracle is the full "
    "recompute, so parity checks the maintenance identity itself",
)(sql_runner(matview_incremental_sql, ("events",)))


# --- Retractable aggregate maintenance (updates + deletes) ------------------


def retractable_delta_sql(dialect: str) -> str:
    """Incremental aggregate maintenance under a FULL CDC feed — the step
    past matview_incremental_hourly: that one merges append-only
    partials; this one maintains an aggregate over keys that UPDATE and
    DELETE.  The device is signed deltas: every op contributes
    (live_after - live_before) to the sum and a +/-1/0 transition to the
    live count, so the maintained aggregate is ONE summation over the
    changelog — no per-key state table, no reprocessing.

    live_before derives from the per-key LAG (a value is live unless the
    previous op was a DELETE); the whole query is one key-partitioned
    window plus one global aggregation of decimal-exact deltas.  The
    ORACLE is the full recompute over the latest-state relation (count +
    sum of live keys) — parity between the two formulations IS the
    maintenance-identity proof, the matview_incremental convention.
    """
    from serene_spark.operators.cdc import _ops_rel

    return f"""
WITH {_ops_rel(dialect)},
seq AS (
  SELECT user_id, op,
         CAST(COALESCE(value, 0) AS DECIMAL(18,2)) AS v,
         LAG(op) OVER (PARTITION BY user_id
                       ORDER BY ts_us, event_id) AS prev_op,
         LAG(CAST(COALESCE(value, 0) AS DECIMAL(18,2)))
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_v
  FROM ops
),
deltas AS (
  SELECT CASE WHEN op = 'D' THEN CAST(0 AS DECIMAL(18,2)) ELSE v END
         - CASE WHEN prev_op IS NULL OR prev_op = 'D'
                THEN CAST(0 AS DECIMAL(18,2)) ELSE prev_v END AS dv,
         (CASE WHEN op = 'D' THEN 0 ELSE 1 END)
         - (CASE WHEN prev_op IS NULL OR prev_op = 'D' THEN 0 ELSE 1 END)
           AS dc,
         op
  FROM seq
)
SELECT CAST(SUM(dc) AS BIGINT) AS n_live,
       ROUND(CAST(SUM(CAST(dv AS DECIMAL(28,2))) AS DOUBLE), 6) AS total_value,
       CAST(COUNT(*) AS BIGINT) AS n_ops,
       CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
       CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
       CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
FROM deltas
"""


def retractable_recompute_sql(dialect: str) -> str:
    """The recompute twin: aggregate the latest live state directly."""
    from serene_spark.operators.cdc import _ops_rel

    return f"""
WITH {_ops_rel(dialect)},
latest AS (
  SELECT user_id, op,
         CAST(COALESCE(value, 0) AS DECIMAL(18,2)) AS v,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts_us DESC, event_id DESC) AS rk
  FROM ops
),
counts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_ops,
         CAST(SUM(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
         CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
         CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
  FROM ops
)
SELECT CAST(SUM(CASE WHEN l.op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
       ROUND(CAST(SUM(CASE WHEN l.op <> 'D'
                           THEN CAST(l.v AS DECIMAL(28,2))
                           ELSE CAST(0 AS DECIMAL(28,2)) END) AS DOUBLE), 6)
         AS total_value,
       (SELECT n_ops FROM counts) AS n_ops,
       (SELECT n_inserts FROM counts) AS n_inserts,
       (SELECT n_updates FROM counts) AS n_updates,
       (SELECT n_deletes FROM counts) AS n_deletes
FROM latest l WHERE l.rk = 1
"""


register(
    "matview_retractable_agg",
    # oracle = recompute over latest state: parity IS the signed-delta
    # maintenance-identity proof (the matview_incremental convention)
    oracle=retractable_recompute_sql(DUCKDB),
    doc="retractable aggregate maintenance under updates + deletes: "
    "signed (live_after - live_before) deltas summed once over the "
    "changelog, proven equal to the latest-state recompute by parity",
)(sql_runner(retractable_delta_sql, ("events",)))
