"""Sketch operators — the approximate substrate for distinct counts and
quantiles at 100 TB.

Exact COUNT(DISTINCT) and exact percentiles are the repo's oracle-checked
baselines (events_tumbling_hour's n_users, events_value_quantiles); these
sketch twins are the production path at scale:

* HyperLogLog distinct counting: fixed-size register arrays replace the
  distinct-pair shuffle — memory per group is O(2^p), not O(n_distinct),
  and partial aggregation merges losslessly on the map side.
* Sketch ROLLUP (the Apache DataSketches pattern, exposed in Spark as
  hll_sketch_agg / hll_union_agg / hll_sketch_estimate): persist fine-grained
  (day, key) sketches once, answer any coarser rollup later by register-wise
  union WITHOUT rescanning the raw data. Union of same-precision HLL
  sketches is exact over the sketch state, so the rolled-up estimate is
  bit-identical to a direct sketch of the union — pinned by test.
* approx_percentile (KLL-family quantile sketch): bounded-memory mergeable
  quantiles; rank error <= 1/accuracy, vs the full sort an exact percentile
  needs.

No DuckDB oracles: sketch register states are engine-specific, so the driver
checks these rows-only; the error bounds and the merge-losslessness invariant
are pinned by pytest against the exact baselines.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.registry import register

QUANTILE_ACCURACY = 10000  # rank error <= 1/accuracy = 0.01%

APPROX_DISTINCT_SQL = """
SELECT event_type,
       CAST(approx_count_distinct(user_id) AS BIGINT) AS approx_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""

# fine-grained daily sketches unioned up to event_type — the persisted-sketch
# rollup pattern: the daily relation would be WRITTEN once per day at 100 TB
# and every later query unions registers instead of rescanning raw events
HLL_ROLLUP_SQL = """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         hll_sketch_agg(user_id) AS sk
  FROM events
  GROUP BY event_type, date_trunc('day', ts)
)
SELECT event_type,
       CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT) AS approx_users,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM daily
GROUP BY event_type
"""

APPROX_QUANTILES_SQL = f"""
SELECT event_type,
       round(approx_percentile(value, 0.25, {QUANTILE_ACCURACY}), 6) AS p25,
       round(approx_percentile(value, 0.50, {QUANTILE_ACCURACY}), 6) AS p50,
       round(approx_percentile(value, 0.75, {QUANTILE_ACCURACY}), 6) AS p75,
       round(approx_percentile(value, 0.95, {QUANTILE_ACCURACY}), 6) AS p95,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
"""


register("approx_distinct_users",
         doc="HyperLogLog distinct users per event type (sketch twin of the "
         "exact n_users baseline; rows-only, error bound pinned by pytest)")(
    sql_runner(lambda _d: APPROX_DISTINCT_SQL, ("events",)))
register("hll_rollup_users",
         doc="persisted-sketch rollup: daily HLL sketches unioned to event "
         "type without rescanning raw data (rows-only)")(
    sql_runner(lambda _d: HLL_ROLLUP_SQL, ("events",)))
register("approx_quantiles_value",
         doc="mergeable quantile sketch per event type (twin of the exact "
         "events_value_quantiles; rows-only)")(
    sql_runner(lambda _d: APPROX_QUANTILES_SQL, ("events",)))


# --- KMV / theta sketch: the ORACLE-CHECKED distinct-count sketch -----------

KMV_K = 256  # sketch size: typical relative error ~ 1/sqrt(K-2) ~ 6%


def kmv_key(dialect: str) -> str:
    """The sketched element: a USER-DAY (user active on a calendar day) —
    the unit behind DAU-style activity accounting, and the key on which
    the event types genuinely differ (every user eventually touches every
    type, so raw user sets are near-identical; day-scoped activity is
    not).  Day = epoch seconds div 86400, engine-shared integer
    arithmetic."""
    from serene_spark.functions.sqlgen import epoch_s, idiv

    day = idiv(dialect, f"({epoch_s(dialect, 'ts')})", 86400)
    return f"concat(CAST(user_id AS STRING), '|', CAST({day} AS STRING))"


def kmv_hash_u(dialect: str) -> str:
    """Sketch key -> uniform (0,1) double: 52-bit md5 prefix (exact in a
    double), +0.5 so u is never 0 — the same portable-hash construction as
    the CMS grid / bootstrap weights, so both engines draw the identical
    sketch."""
    from serene_spark.functions.sqlgen import hex_to_int

    h = hex_to_int(dialect, f"substr(md5({kmv_key(dialect)}), 1, 13)")
    return f"(({h}) + 0.5) / 4503599627370496.0"


def kmv_base(dialect: str) -> str:
    """Shared CTE block: distinct per-type hash stream -> bottom-K sketch
    -> (count, k-th minimum) summary, plus the exact NDV the audit columns
    compare against."""
    return f"""
uu AS (
  SELECT DISTINCT event_type, {kmv_hash_u(dialect)} AS u FROM events
),
sk AS (
  SELECT event_type, u FROM (
    SELECT event_type, u,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rk
    FROM uu
  ) r WHERE rk <= {KMV_K}
),
kth AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c, MAX(u) AS uk
  FROM sk GROUP BY event_type
),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT {kmv_key(dialect)}) AS BIGINT) AS ndv
  FROM events GROUP BY event_type
)"""


def kmv_ndv_sql(dialect: str) -> str:
    """KMV (k-minimum-values / bottom-k) distinct USER-DAY sketch per
    event type (Bar-Yossef et al., RANDOM 2002; the theta-sketch base) — the
    oracle-checked sibling of ``approx_distinct_users``: the native HLL's
    register state is engine-specific (rows-only forever), but a KMV built
    from portable md5 hashes draws the IDENTICAL sketch in Spark and
    DuckDB, so the approximation itself passes the exact-parity gate, and
    the estimator (K-1)/u_K is audited against the exact NDV in the same
    row (the ``cms_token_counts`` pattern applied to distinct counting).

    A sketch with fewer than K values IS the exact distinct set (standard
    KMV convention) — the estimator only engages above K.

    Scale shape: one scan -> distinct-(type, hash) agg (map-side
    combined); the bottom-K window sorts only the per-type DISTINCT-hash
    relation, and at extreme NDV the production swap is a bounded
    bottom-K aggregator or a conservative u < theta_max pre-filter before
    the window — documented, same disposition as the CMS probe TopK.
    """
    return f"""
WITH {kmv_base(dialect)}
SELECT e.event_type,
       CAST(e.ndv AS BIGINT) AS ndv_exact,
       CAST(k.c AS BIGINT) AS sketch_size,
       round(CASE WHEN k.c < {KMV_K} THEN CAST(k.c AS DOUBLE)
                  ELSE CAST({KMV_K - 1} AS DOUBLE) / k.uk END, 6) AS ndv_est,
       round(ABS(CASE WHEN k.c < {KMV_K} THEN CAST(k.c AS DOUBLE)
                      ELSE CAST({KMV_K - 1} AS DOUBLE) / k.uk END - e.ndv)
             / e.ndv, 6) AS rel_err
FROM exact e JOIN kth k ON e.event_type = k.event_type
ORDER BY e.event_type
"""


def kmv_set_ops_sql(dialect: str) -> str:
    """Theta-sketch set operations over the KMV sketches: for every event-
    type pair, the union NDV from the merged bottom-K (k smallest of the
    two sketches' combined hash support) and the intersection via the
    Jaccard share of merged-sketch members present in BOTH sides — the
    "users who did A and B" audience-overlap estimate WITHOUT a distinct
    pair shuffle (Dasgupta et al., "Theta sketch framework", 2016).

    Correctness of the in-both flags: the merged k-th minimum is <= each
    side's own k-th minimum (the union has more low hashes), so any
    merged-sketch member that belongs to a side's SET is necessarily
    inside that side's sketch — membership never reads falsely negative.
    Exact union/intersection audit columns ride along (at production
    scale the audit pass is what the sketch REPLACES; release reads only
    the _est columns).
    """
    return f"""
WITH {kmv_base(dialect)},
pairs AS (
  SELECT a.event_type AS ta, b.event_type AS tb
  FROM kth a JOIN kth b ON a.event_type < b.event_type
),
pairu AS (
  SELECT p.ta, p.tb, s.u,
         MAX(CASE WHEN s.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN s.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN sk s ON s.event_type IN (p.ta, p.tb)
  GROUP BY p.ta, p.tb, s.u
),
msk AS (
  SELECT ta, tb, u, in_a, in_b FROM (
    SELECT ta, tb, u, in_a, in_b,
           ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY u) AS rk
    FROM pairu
  ) r WHERE rk <= {KMV_K}
),
mk AS (
  SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS c, MAX(u) AS uk,
         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS common
  FROM msk GROUP BY ta, tb
),
ut AS (SELECT DISTINCT {kmv_key(dialect)} AS k, event_type FROM events),
einter AS (
  SELECT a.event_type AS ta, b.event_type AS tb,
         CAST(COUNT(*) AS BIGINT) AS inter_exact
  FROM ut a JOIN ut b ON a.k = b.k
                     AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
),
ests AS (
  SELECT m.ta, m.tb, m.c, m.common,
         CASE WHEN m.c < {KMV_K} THEN CAST(m.c AS DOUBLE)
              ELSE CAST({KMV_K - 1} AS DOUBLE) / m.uk END AS union_est,
         CAST(m.common AS DOUBLE) / m.c AS jacc_est
  FROM mk m
)
SELECT s.ta AS type_a, s.tb AS type_b,
       CAST(ea.ndv AS BIGINT) AS ndv_a_exact,
       CAST(eb.ndv AS BIGINT) AS ndv_b_exact,
       CAST(ea.ndv + eb.ndv - COALESCE(i.inter_exact, 0) AS BIGINT)
         AS union_exact,
       round(s.union_est, 6) AS union_est,
       CAST(COALESCE(i.inter_exact, 0) AS BIGINT) AS inter_exact,
       round(s.jacc_est * s.union_est, 6) AS inter_est,
       round(CAST(COALESCE(i.inter_exact, 0) AS DOUBLE)
             / (ea.ndv + eb.ndv - COALESCE(i.inter_exact, 0)), 6)
         AS jaccard_exact,
       round(s.jacc_est, 6) AS jaccard_est
FROM ests s
JOIN exact ea ON s.ta = ea.event_type
JOIN exact eb ON s.tb = eb.event_type
LEFT JOIN einter i ON s.ta = i.ta AND s.tb = i.tb
ORDER BY s.ta, s.tb
"""


def _duckdb_oracle(sql_fn):
    from serene_spark.functions.sqlgen import DUCKDB

    return sql_fn(DUCKDB)


register("kmv_ndv_users",
         oracle=_duckdb_oracle(kmv_ndv_sql),
         doc=f"KMV bottom-{KMV_K} distinct-user sketch per event type — the "
         "oracle-checked NDV sketch (portable md5 hashes, unlike the "
         "engine-native HLL registers); estimator audited against exact "
         "NDV in-row")(sql_runner(kmv_ndv_sql, ("events",)))
register("kmv_set_ops_users",
         oracle=_duckdb_oracle(kmv_set_ops_sql),
         doc="theta-sketch set operations over the KMV sketches: per event-"
         "type pair, union NDV from the merged bottom-K and intersection "
         "via the in-both Jaccard share — audience overlap without a "
         "distinct pair shuffle; exact audit columns ride along")(
    sql_runner(kmv_set_ops_sql, ("events",)))


def kmv_rollup_sql(dialect: str) -> str:
    """The persisted-sketch ROLLUP pattern in the oracle-checked tier —
    the KMV twin of ``hll_rollup_users``: per-(type, day) bottom-K partial
    sketches (what a 100 TB pipeline would WRITE once per day) merged up
    to per-type sketches by re-ranking the union, beside the direct
    whole-corpus sketch.  The merge lemma (a global bottom-K member is in
    its day's bottom-K) makes rollup and direct estimates EQUAL — and
    unlike the engine-native HLL rollup, here the equality is itself
    oracle-checked: the query emits both estimates and the equality flag,
    and the parity gate verifies all three cross-engine.

    Scale: the daily partial relation is |types| x |days| x K rows —
    the only thing a rollup reader ever scans; raw events are touched
    once at partial-build time.
    """
    from serene_spark.functions.sqlgen import epoch_s, idiv

    day = idiv(dialect, f"({epoch_s(dialect, 'ts')})", 86400)
    return f"""
WITH uu_day AS (
  SELECT DISTINCT event_type, {day} AS day, {kmv_hash_u(dialect)} AS u
  FROM events
),
daily AS (
  SELECT event_type, day, u FROM (
    SELECT event_type, day, u,
           ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY u) AS rk
    FROM uu_day
  ) r WHERE rk <= {KMV_K}
),
merged AS (
  SELECT event_type, u FROM (
    SELECT event_type, u,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rk
    FROM daily
  ) r WHERE rk <= {KMV_K}
),
direct AS (
  SELECT event_type, u FROM (
    SELECT event_type, u,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rk
    FROM (SELECT DISTINCT event_type, u FROM uu_day) d
  ) r WHERE rk <= {KMV_K}
),
est AS (
  SELECT m.event_type,
         CAST(COUNT(*) AS BIGINT) AS sketch_size,
         round(CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE CAST({KMV_K - 1} AS DOUBLE) / MAX(u) END, 6)
           AS ndv_est_rollup
  FROM merged m GROUP BY m.event_type
),
est_d AS (
  SELECT d.event_type,
         round(CASE WHEN COUNT(*) < {KMV_K} THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE CAST({KMV_K - 1} AS DOUBLE) / MAX(u) END, 6)
           AS ndv_est_direct
  FROM direct d GROUP BY d.event_type
)
SELECT e.event_type, e.sketch_size, e.ndv_est_rollup, x.ndv_est_direct,
       CAST(CASE WHEN e.ndv_est_rollup = x.ndv_est_direct
                 THEN 1 ELSE 0 END AS INT) AS rollup_equal
FROM est e JOIN est_d x ON e.event_type = x.event_type
ORDER BY e.event_type
"""


register("kmv_rollup_users",
         oracle=_duckdb_oracle(kmv_rollup_sql),
         doc="persisted-sketch rollup in the ORACLE-CHECKED tier: daily "
         f"bottom-{KMV_K} KMV partials merged to per-type sketches beside "
         "the direct sketch — the merge-lemma equality emitted and "
         "parity-verified, the KMV twin of hll_rollup_users")(
    sql_runner(kmv_rollup_sql, ("events",)))


# --- bottom-k coordinated-sample quantile sketch ------------------------------

QSK_K = 256  # sample rows retained per event type


def qsketch_hash_u(dialect: str) -> str:
    """Row identity -> uniform (0,1): md5 over event_id (the row key), the
    same 52-bit portable construction as ``kmv_hash_u`` — both engines
    draw the IDENTICAL sample, so the approximation itself is
    oracle-checked."""
    from serene_spark.functions.sqlgen import hex_to_int

    h = hex_to_int(dialect, "substr(md5(CAST(event_id AS STRING)), 1, 13)")
    return f"(({h}) + 0.5) / 4503599627370496.0"


def quantile_sketch_sql(dialect: str) -> str:
    """Mergeable quantile sketch per event type, ORACLE-CHECKED (the
    portable sibling of the rows-only ``approx_quantiles_value``):
    retain the {QSK_K} rows with the smallest md5(event_id) per type — a
    COORDINATED uniform sample with the same merge lemma as the KMV
    sketch (a global bottom-K member is inside every partial bottom-K
    that contains it, so merging per-partition/per-epoch bottom-Ks
    reproduces the global sample EXACTLY) — then read p50/p90/p99 off
    the sample with the exact twin's count-based convention, emitted
    beside the exact quantiles and the relative error (the KMV audit
    pattern).

    Expected accuracy: sample quantile of a K-sample has standard error
    ~ sqrt(p(1-p)/K) in rank space (~3% of rank at p50, K=256) — the
    audit column makes the realized error visible per type.

    Scale shape: one scan -> per-type bottom-K window (WindowGroupLimit
    pushes the K cut into the sort, the kmv_ndv_users property) over ROW
    hashes; state is |types| x K rows regardless of event volume, and
    the sketch streams with the exact foreachBatch pattern of
    streaming/kmv_stream.py.
    """
    return f"""
WITH hashed AS (
  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
         {qsketch_hash_u(dialect)} AS u
  FROM events WHERE value IS NOT NULL
),
sample AS (
  SELECT event_type, v FROM (
    SELECT event_type, v,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rk
    FROM hashed
  ) r WHERE rk <= {QSK_K}
),
scount AS (
  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM sample GROUP BY event_type, v
),
scum AS (
  SELECT event_type, v,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cc,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM scount
),
est AS (
  SELECT event_type, CAST(n AS BIGINT) AS sample_n,
         CAST(MIN(CASE WHEN cc >= ceil(0.50 * n) THEN v END) AS DOUBLE) AS p50_est,
         CAST(MIN(CASE WHEN cc >= ceil(0.90 * n) THEN v END) AS DOUBLE) AS p90_est,
         CAST(MIN(CASE WHEN cc >= ceil(0.99 * n) THEN v END) AS DOUBLE) AS p99_est
  FROM scum GROUP BY event_type, n
),
counts AS (
  SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v, CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY event_type, CAST(value AS DECIMAL(18,2))
),
cum AS (
  SELECT event_type, v,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cc,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM counts
),
exactq AS (
  SELECT event_type, CAST(n AS BIGINT) AS n,
         CAST(MIN(CASE WHEN cc >= ceil(0.50 * n) THEN v END) AS DOUBLE) AS p50,
         CAST(MIN(CASE WHEN cc >= ceil(0.90 * n) THEN v END) AS DOUBLE) AS p90,
         CAST(MIN(CASE WHEN cc >= ceil(0.99 * n) THEN v END) AS DOUBLE) AS p99
  FROM cum GROUP BY event_type, n
)
SELECT e.event_type, x.n, e.sample_n,
       x.p50, e.p50_est, round(abs(e.p50_est - x.p50) / x.p50, 6) AS p50_rel_err,
       x.p90, e.p90_est, round(abs(e.p90_est - x.p90) / x.p90, 6) AS p90_rel_err,
       x.p99, e.p99_est, round(abs(e.p99_est - x.p99) / x.p99, 6) AS p99_rel_err
FROM est e JOIN exactq x ON e.event_type = x.event_type
ORDER BY e.event_type
"""


register(
    "quantile_sketch_bottomk",
    oracle=_duckdb_oracle(quantile_sketch_sql),
    doc=f"mergeable bottom-{QSK_K} coordinated-sample quantile sketch per "
    "event type, oracle-checked (portable md5 row hashes — the KMV merge "
    "lemma applied to quantiles, unlike the engine-native rows-only "
    "approx_quantiles_value); p50/p90/p99 estimates beside the exact "
    "quantiles with relative-error audit columns",
)(sql_runner(quantile_sketch_sql, ("events",)))


def quantile_sketch_rollup_sql(dialect: str) -> str:
    """The persisted-sketch ROLLUP pattern applied to QUANTILES — the
    capability raw percentiles cannot have: p50/p90/p99 do not
    pre-aggregate (a mean of daily medians is not the monthly median),
    but the bottom-K coordinated SAMPLE does. Per-(type, day) bottom-K
    row-hash partials (what a 100 TB pipeline writes once per day) merge
    up to per-type samples by re-ranking the union, and the merge lemma
    makes the rolled-up sample EQUAL to the direct whole-corpus sample —
    so rolled-up and direct quantile estimates are equal, and the query
    emits both plus the equality flag for the parity gate to verify
    cross-engine (the ``kmv_rollup_users`` discipline).

    Scale: the daily partial relation is |types| x |days| x K rows — the
    only thing a rollup reader ever scans; raw events are touched once
    at partial-build time.
    """
    from serene_spark.functions.sqlgen import epoch_s, idiv

    day = idiv(dialect, f"({epoch_s(dialect, 'ts')})", 86400)

    def q_tail(rel: str, prefix: str) -> str:
        return f"""
{prefix}cum AS (
  SELECT event_type, v,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cc,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM {rel} GROUP BY event_type, v) h
),
{prefix}q AS (
  SELECT event_type, CAST(n AS BIGINT) AS n,
         CAST(MIN(CASE WHEN cc >= ceil(0.50 * n) THEN v END) AS DOUBLE) AS p50,
         CAST(MIN(CASE WHEN cc >= ceil(0.90 * n) THEN v END) AS DOUBLE) AS p90,
         CAST(MIN(CASE WHEN cc >= ceil(0.99 * n) THEN v END) AS DOUBLE) AS p99
  FROM {prefix}cum GROUP BY event_type, n
)"""

    return f"""
WITH hashed AS (
  SELECT event_type, {day} AS day,
         CAST(value AS DECIMAL(18,2)) AS v, {qsketch_hash_u(dialect)} AS u
  FROM events WHERE value IS NOT NULL
),
daily AS (
  SELECT event_type, day, u, v FROM (
    SELECT event_type, day, u, v,
           ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY u) AS rk
    FROM hashed
  ) r WHERE rk <= {QSK_K}
),
merged AS (
  SELECT event_type, u, v FROM (
    SELECT event_type, u, v,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rk
    FROM daily
  ) r WHERE rk <= {QSK_K}
),
direct AS (
  SELECT event_type, u, v FROM (
    SELECT event_type, u, v,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rk
    FROM hashed
  ) r WHERE rk <= {QSK_K}
),{q_tail("merged", "m")},{q_tail("direct", "d")}
SELECT m.event_type, m.n AS sample_n,
       m.p50 AS p50_rollup, d.p50 AS p50_direct,
       m.p90 AS p90_rollup, d.p90 AS p90_direct,
       m.p99 AS p99_rollup, d.p99 AS p99_direct,
       CAST(CASE WHEN m.p50 = d.p50 AND m.p90 = d.p90 AND m.p99 = d.p99
                 THEN 1 ELSE 0 END AS BIGINT) AS rollup_equals_direct
FROM mq m JOIN dq d ON m.event_type = d.event_type
ORDER BY m.event_type
"""


register(
    "quantile_sketch_rollup",
    oracle=_duckdb_oracle(quantile_sketch_rollup_sql),
    doc="quantile-sketch ROLLUP: per-(type, day) bottom-K row-hash partials "
    "merged to per-type samples — the capability raw percentiles lack "
    "(p50/p90/p99 do not pre-aggregate; the coordinated sample does, "
    "exactly, by the merge lemma); rolled-up and direct estimates emitted "
    "with the equality flag, all oracle-checked",
)(sql_runner(quantile_sketch_rollup_sql, ("events",)))
