"""Change-data-capture apply and SCD2 history — the lakehouse upsert
semantics (Delta/Iceberg MERGE, Debezium-style op streams) expressed as
pure windowed SQL over the events table.

The events stream reads naturally as a CDC feed keyed by user_id:
``signup`` = INSERT, ``click``/``view``/``purchase`` = UPDATE (new value),
``error`` = DELETE. Two consumers:

* cdc_latest_state — the MERGE/upsert result: per key, the latest op wins
  (event-time order, event_id tie-break); a key whose latest op is DELETE
  is absent from the output. One window partitioned by the natural key —
  the exact shape a 100 TB snapshot rebuild runs (and the per-partition
  compaction a lakehouse MERGE performs under the hood).
* scd2_history — the slowly-changing-dimension type-2 table: every
  value-bearing op becomes a versioned row with [valid_from, valid_to)
  micros, closed by the NEXT op on the same key (LEAD) and left open
  (NULL) for the current version; a DELETE closes the last version without
  opening a new one. This is the warehouse history-tracking pattern, one
  LEAD window per key.

Both are single-statement, dialect-shared, oracle-checked; both shuffle
once on the key.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_us
from serene_spark.registry import register


def _ops_rel(dialect: str) -> str:
    us = epoch_us(dialect, "ts")
    return f"""
ops AS (
  SELECT user_id, event_id, {us} AS ts_us,
         CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error' THEN 'D'
              ELSE 'U' END AS op,
         value
  FROM events
)"""


def cdc_latest_state_sql(dialect: str) -> str:
    """MERGE semantics: latest op per key wins; DELETE-latest keys vanish."""
    return f"""
WITH {_ops_rel(dialect)},
latest AS (
  SELECT user_id, event_id, ts_us, op, value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts_us DESC, event_id DESC) AS rk
  FROM ops
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(ts_us AS BIGINT) AS last_ts_us,
       op AS last_op,
       round(CAST(value AS DOUBLE), 6) AS last_value
FROM latest
WHERE rk = 1 AND op <> 'D'
"""


def scd2_history_sql(dialect: str) -> str:
    """SCD2: one versioned row per value-bearing op, valid until the next op
    on the key (any type — a DELETE closes the version too); the newest
    version stays open unless closed by a DELETE."""
    return f"""
WITH {_ops_rel(dialect)},
versioned AS (
  SELECT user_id, event_id, ts_us, op, value,
         LEAD(ts_us) OVER (PARTITION BY user_id
                           ORDER BY ts_us, event_id) AS next_ts_us
  FROM ops
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(event_id AS BIGINT) AS version_id,
       round(CAST(value AS DOUBLE), 6) AS value,
       CAST(ts_us AS BIGINT) AS valid_from_us,
       CAST(next_ts_us AS BIGINT) AS valid_to_us,
       CASE WHEN next_ts_us IS NULL THEN 1 ELSE 0 END AS is_current
FROM versioned
WHERE op <> 'D'
"""


register("cdc_latest_state", oracle=cdc_latest_state_sql(DUCKDB),
         doc="CDC/MERGE apply: latest op per key wins, DELETE-latest keys "
         "absent (lakehouse upsert semantics)")(sql_runner(cdc_latest_state_sql, ("events",)))
register("scd2_history", oracle=scd2_history_sql(DUCKDB),
         doc="SCD type-2 dimension history: versioned rows with "
         "[valid_from, valid_to) and is_current flags")(sql_runner(scd2_history_sql, ("events",)))


# --- Erasure cascade (right-to-be-forgotten planning) -----------------------

FORGET_MOD = 97  # deterministic "forget set": customers with key % 97 == 0


def erasure_cascade_sql(dialect: str) -> str:
    """Right-to-be-forgotten delete planning: given a forget-set of
    customers, count the rows each table must drop, following the FK
    closure customer -> orders -> lineitem (the cascade a lakehouse DELETE
    job executes table-by-table; the dq_fk_orphans audit is its inverse).

    Scale shape: the forget-set is a tiny relation -> customer and orders
    prune by broadcast semi-join; the lineitem leg joins on the AFFECTED
    ORDERS keys (potentially large -> ordinary keyed shuffle, exchange-free
    under an orderkey-bucketed layout).  Each child table is scanned once.
    One statement so the manifest is atomic — a cascade counted across
    separate queries can tear against concurrent writes.
    """
    return f"""
WITH forget AS (
  SELECT c_custkey FROM customer WHERE c_custkey % {FORGET_MOD} = 0
),
aff_orders AS (
  SELECT o.o_orderkey FROM orders o
  WHERE EXISTS (SELECT 1 FROM forget f WHERE f.c_custkey = o.o_custkey)
),
n_cust AS (SELECT COUNT(*) AS n FROM forget),
n_ord AS (SELECT COUNT(*) AS n FROM aff_orders),
n_li AS (
  SELECT COUNT(*) AS n FROM lineitem l
  WHERE EXISTS (SELECT 1 FROM aff_orders a WHERE a.o_orderkey = l.l_orderkey)
)
SELECT 'customer' AS table_name, CAST((SELECT n FROM n_cust) AS BIGINT) AS rows_to_delete
UNION ALL
SELECT 'orders', CAST((SELECT n FROM n_ord) AS BIGINT)
UNION ALL
SELECT 'lineitem', CAST((SELECT n FROM n_li) AS BIGINT)
"""


register("erasure_cascade_plan", oracle=erasure_cascade_sql(DUCKDB),
         doc="right-to-be-forgotten planner: per-table delete counts along "
         "the customer->orders->lineitem FK closure, one atomic statement")(sql_runner(erasure_cascade_sql, ("customer", "orders", "lineitem")))


# --- Point-in-time (SCD2 temporal) lookup -----------------------------------


def scd2_point_in_time_sql(dialect: str) -> str:
    """Enrich each PURCHASE with the CDC state of its user's op stream
    (signup/click/view = upserts, error = delete) as of the purchase time —
    the warehouse point-in-time join (a fact row must see the dimension
    VERSION valid at its timestamp, including "no valid version" windows
    after a DELETE, which a plain as-of join cannot express).  Purchases
    are the facts because they share the op stream's key and time domain
    (orders predate the event window in this corpus).

    Shape: the scale-safe tagged-union window (events.py as-of join — one
    shuffle, O(|facts| + |ops|) rows, no pair materialization).  The latest
    op at-or-before each fact is carried as the MAX of a fixed-width
    sortable key (lpad'ed ts, then id, then op:value): MAX skips the
    fact rows' NULL keys in every engine, which sidesteps the
    last_value-IGNORE-NULLS syntax split entirely.  Ops at the fact's exact
    timestamp sort before the fact (is_fact tie-break), so the lookup is
    inclusive.
    """
    us = epoch_us(dialect, "ts")
    key = "lpad(CAST(ts_us AS STRING), 20, '0') || lpad(CAST(row_id AS STRING), 20, '0')"
    val = "CAST(value AS STRING)"
    return f"""
WITH ops AS (
  SELECT user_id, event_id AS row_id, {us} AS ts_us,
         CASE WHEN event_type = 'signup' THEN 'I'
              WHEN event_type = 'error' THEN 'D'
              ELSE 'U' END AS op,
         value
  FROM events
  WHERE event_type <> 'purchase'
),
facts AS (
  SELECT user_id, event_id AS row_id, {us} AS ts_us
  FROM events
  WHERE event_type = 'purchase'
),
tagged AS (
  SELECT user_id, ts_us, row_id, 0 AS is_fact,
         {key} || op || ':' || COALESCE({val}, '') AS op_key
  FROM ops
  UNION ALL
  SELECT user_id, ts_us, row_id, 1 AS is_fact, NULL AS op_key
  FROM facts
),
carried AS (
  SELECT user_id, ts_us, row_id, is_fact,
         MAX(op_key) OVER (PARTITION BY user_id
                           ORDER BY ts_us, is_fact, row_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS k
  FROM tagged
)
SELECT CAST(row_id AS BIGINT) AS purchase_event_id,
       CAST(user_id AS BIGINT) AS user_id,
       CASE WHEN k IS NULL OR substr(k, 41, 1) = 'D' THEN NULL
            -- NULLIF guards the NULL-value op encoded as '': DuckDB's
            -- CAST('' AS DOUBLE) raises where Spark returns NULL
            ELSE ROUND(CAST(NULLIF(substr(k, 43), '') AS DOUBLE), 6) END AS state_value,
       CASE WHEN k IS NULL THEN 'none'
            WHEN substr(k, 41, 1) = 'D' THEN 'deleted'
            ELSE 'live' END AS state
FROM carried
WHERE is_fact = 1
"""


register("scd2_point_in_time", oracle=scd2_point_in_time_sql(DUCKDB),
         doc="point-in-time join: each purchase enriched with its user's "
         "CDC state at purchase time (live/deleted/none), tagged-union "
         "window — one shuffle, no pair materialization")(sql_runner(scd2_point_in_time_sql, ("events",)))
