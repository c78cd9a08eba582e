"""Re-sharding cost analysis: how much data moves when the shard count
changes, under modulo hashing vs a consistent-hash ring.

``consistent_hash_rebalance`` — the measured version of the consistent
hashing guarantee (Karger et al., STOC 1997): scaling ``S_OLD`` → ``S_NEW``
shards, modulo placement (``h % S``) remaps most keys
(exactly 1 − gcd-period overlap: 80% here), while ring placement moves ONLY the keys whose
arc lands on a new shard's vnodes — in expectation ``1 − S_OLD/S_NEW``
(20% here).  This is the number that decides whether a storage layer can
scale out online; the operator reports both measured fractions beside the
theoretical floor, per the ``bloom_filter_stats`` philosophy that
guarantees are measured, not assumed.

Mechanics (engine-shared, deterministic): key and vnode positions are
md5-derived u32s (exact in both engines); each shard owns ``VNODES``
virtual nodes to smooth arc lengths; assignment is argmin of clockwise
ring distance ``(vh − h) mod 2^32`` with a composite (distance, vnode)
key so ties cannot flap.  Scale shape: the vnode table is S·VNODES rows
(constant, broadcast); assignment is a map-side min-by per key — one
scan, one keyed agg, no shuffle of the corpus by candidate shard.  The
acting placement operator is ``shard_assign`` (curation.py); this is its
capacity-planning readout.
"""

from __future__ import annotations

from math import lcm

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, explode_seq, hex_to_int, idiv
from serene_spark.registry import register

S_OLD = 16
S_NEW = 20
VNODES = 8
RING = 4294967296  # 2^32

# exact mod-placement survival probability: over one lcm period of the two
# moduli, the fraction of residues with h%S_OLD == h%S_NEW
_L = lcm(S_OLD, S_NEW)
MOD_THEORETICAL_MOVED = 1 - sum(1 for x in range(_L) if x % S_OLD == x % S_NEW) / _L


def _u32(dialect: str, key: str) -> str:
    return hex_to_int(dialect, f"substr(md5({key}), 1, 8)")


def rebalance_sql(dialect: str) -> str:
    kh = _u32(dialect, "CAST(o_orderkey AS STRING)")
    vh = _u32(dialect, "CONCAT('shard-', CAST(s AS STRING), ':', CAST(v AS STRING))")
    dist = f"MOD(vh - kh + {RING}, {RING})"
    return f"""
WITH keys AS (
  SELECT o_orderkey, {kh} AS kh FROM orders
),
vnodes AS (
  SELECT s, v, {vh} AS vh
  FROM (SELECT {explode_seq(dialect, 0, str(S_NEW - 1))} AS s) ss
  CROSS JOIN (SELECT {explode_seq(dialect, 0, str(VNODES - 1))} AS v) vv
),
ring_old AS (
  SELECT k.o_orderkey,
         MIN({dist} * 256 + n.s * {VNODES} + n.v) AS key_old
  FROM keys k CROSS JOIN vnodes n
  WHERE n.s < {S_OLD}
  GROUP BY k.o_orderkey
),
ring_new AS (
  SELECT k.o_orderkey,
         MIN({dist} * 256 + n.s * {VNODES} + n.v) AS key_new
  FROM keys k CROSS JOIN vnodes n
  GROUP BY k.o_orderkey
),
ring_moved AS (
  SELECT SUM(CASE WHEN {idiv(dialect, "MOD(o.key_old, 256)", str(VNODES))}
                  <> {idiv(dialect, "MOD(n.key_new, 256)", str(VNODES))}
             THEN 1 ELSE 0 END) AS moved,
         COUNT(*) AS n
  FROM ring_old o JOIN ring_new n ON o.o_orderkey = n.o_orderkey
),
mod_moved AS (
  SELECT SUM(CASE WHEN MOD(kh, {S_OLD}) <> MOD(kh, {S_NEW}) THEN 1 ELSE 0 END) AS moved,
         COUNT(*) AS n
  FROM keys
)
SELECT strategy, n_keys, n_moved, moved_frac, theoretical_frac FROM (
  SELECT 'mod' AS strategy,
         CAST(n AS BIGINT) AS n_keys,
         CAST(moved AS BIGINT) AS n_moved,
         ROUND(CAST(moved AS DOUBLE) / n, 6) AS moved_frac,
         ROUND(CAST({MOD_THEORETICAL_MOVED!r} AS DOUBLE), 6) AS theoretical_frac
  FROM mod_moved
  UNION ALL
  SELECT 'ring' AS strategy,
         CAST(n AS BIGINT) AS n_keys,
         CAST(moved AS BIGINT) AS n_moved,
         ROUND(CAST(moved AS DOUBLE) / n, 6) AS moved_frac,
         ROUND(1 - CAST({S_OLD} AS DOUBLE) / {S_NEW}, 6) AS theoretical_frac
  FROM ring_moved
) u
"""


register(
    "consistent_hash_rebalance",
    oracle=rebalance_sql(DUCKDB),
    doc=f"re-shard movement audit {S_OLD}->{S_NEW}: measured moved "
    "fraction under modulo vs consistent-ring placement beside the "
    "theoretical floor; constant vnode table, map-side argmin per key",
)(sql_runner(rebalance_sql, ("orders",)))
