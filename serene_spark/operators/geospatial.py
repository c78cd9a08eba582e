"""Geospatial operators — haversine distance, nearest-neighbor to a small
dimension, and a grid-cell candidate join proved lossless against the
brute-force oracle.

The synthetic corpus (TESTDATA.md) carries no coordinate columns, so each
entity gets a DETERMINISTIC coordinate derived from its integer key with
plain modular arithmetic (no engine hash functions): latitude/longitude in
integer MILLIDEGREES first, converted to degrees only at the trig step.
Everything upstream of the haversine — binning, joins, centroids — stays in
exact integer arithmetic, so partial-aggregation order and FP floor()
knife-edges cannot move a cell id or a centroid digit across engines.

* ``geo_nation_bbox`` — per-nation customer count, bounding box, centroid.
  Centroid = SUM(millidegrees)/n: BIGINT-exact, order-independent.
* ``geo_nearest_supplier`` — per customer, the nearest supplier by haversine
  great-circle distance.  Supplier is a dimension (100 rows at sf0.01, 10k at
  sf1): the Spark plan broadcasts it, so the "all candidates" pass is a
  broadcast nested-loop over a constant-size side — the correct 100 TB shape
  for small-dim nearest-neighbor.  Rank on (ROUND(dist,4), s_suppkey) for a
  deterministic winner.
* ``geo_grid_pairs`` — customer pairs within RADIUS_KM, via the scale path:
  bin points into 0.5°×0.5° grid cells (integer millidegree division — cells
  are exact), explode each point into its 3×3 neighborhood of probe cells
  (longitude wraps modulo 720 cells), EQUI-join probes to cells, then exact
  haversine filter.  Candidate work is Σ(per-cell count²) — never all-pairs.
  At |lat| ≤ 60° (the synthetic coordinate range) 1° of longitude spans
  ≥ 111.32·cos(60°) = 55.66 km, so one 0.5° cell is ≥ 27.8 km wide and a
  3×3 neighborhood always covers RADIUS_KM = 25 km.  The
  ORACLE is the brute-force all-pairs filter: parity proves the grid path
  drops no pair.  Haversine handles the antimeridian automatically
  (sin(180°−x)=sin(x)); the probe-cell wrap handles the *binning* side.

Scale: bbox/centroid are one keyed agg; nearest-supplier is a broadcast
join; grid_pairs shuffles on cell id (bounded per-cell fan-out) — all three
survive 1000 executors unchanged.  Reference scope: NICTA/serene has no geo
operators; this family extends the engine for training-data curation of
geotagged corpora (the multimodal/metadata story).
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, idiv
from serene_spark.registry import register

EARTH_RADIUS_KM = 6371.0088
RADIUS_KM = 25.0
CELL_MILLI = 500  # 0.5 degrees per grid cell
LON_CELLS = 720  # 360 / 0.5

# Integer millidegree coordinates from integer keys (exact in both engines).
# Latitude stays in [-60000, 60000) so cos(lat) >= 0.5 and the 0.5-degree
# longitude cell is never narrower than 27.8 km.  The key enters QUADRATICALLY
# (key^2 mod a large prime) before the multiplicative spread: a purely
# multiplicative map is a Kronecker lattice — points so evenly spaced that no
# two land within hundreds of km and every radius query returns zero — while
# quadratic residues scatter (measured at sf0.01: 42 pairs <= 25 km).
def _lat_milli(key: str, prime: int, mult: int) -> str:
    k = f"CAST({key} AS BIGINT)"
    return f"(-60000 + ({k} * {k} % {prime}) * {mult} % 120000)"


def _lon_milli(key: str, prime: int, mult: int) -> str:
    k = f"CAST({key} AS BIGINT)"
    return f"(-180000 + ({k} * {k} % {prime}) * {mult} % 360000)"


CUST_LAT_MILLI = _lat_milli("c_custkey", 999983, 7919)
CUST_LON_MILLI = _lon_milli("c_custkey", 999979, 104729)
SUPP_LAT_MILLI = _lat_milli("s_suppkey", 999961, 6101)
SUPP_LON_MILLI = _lon_milli("s_suppkey", 999959, 95789)


def haversine_km(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Great-circle distance (km); inputs in degrees. Dialect-shared.

    The haversine term is clamped to 1.0 before asin: near-antipodal pairs
    overflow to 1 + 2e-16 in double precision (measured: 308 of 8571 exact
    antipodal millidegree pairs), which DuckDB's asin hard-errors on while
    Spark returns NaN — the clamp keeps both engines at exactly pi*R."""
    return (
        f"(2.0 * {EARTH_RADIUS_KM} * asin(sqrt(LEAST(1.0, "
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)))))"
    )


# ------------------------------------------------------------ nation bbox

BBOX_SQL = f"""
WITH pts AS (
  SELECT c_nationkey, {CUST_LAT_MILLI} AS lat_m, {CUST_LON_MILLI} AS lon_m
  FROM customer
)
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(CAST(MIN(lat_m) AS DOUBLE) / 1000.0, 6) AS lat_min,
       ROUND(CAST(MAX(lat_m) AS DOUBLE) / 1000.0, 6) AS lat_max,
       ROUND(CAST(MIN(lon_m) AS DOUBLE) / 1000.0, 6) AS lon_min,
       ROUND(CAST(MAX(lon_m) AS DOUBLE) / 1000.0, 6) AS lon_max,
       ROUND(CAST(SUM(lat_m) AS DOUBLE) / COUNT(*) / 1000.0, 6) AS lat_centroid,
       ROUND(CAST(SUM(lon_m) AS DOUBLE) / COUNT(*) / 1000.0, 6) AS lon_centroid
FROM pts JOIN nation n ON pts.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY nation
"""


register(
    "geo_nation_bbox",
    oracle=BBOX_SQL,
    doc="Per-nation customer bounding box + centroid over deterministic "
    "key-derived coordinates; BIGINT millidegree sums so the centroid is "
    "aggregation-order exact",
)(sql_runner(lambda _d: BBOX_SQL, ("customer", "nation")))


# ------------------------------------------------- nearest supplier (dim NN)

NEAREST_SQL = f"""
WITH c AS (
  SELECT c_custkey, {CUST_LAT_MILLI} / 1000.0 AS lat, {CUST_LON_MILLI} / 1000.0 AS lon
  FROM customer
),
s AS (
  SELECT s_suppkey, {SUPP_LAT_MILLI} / 1000.0 AS lat, {SUPP_LON_MILLI} / 1000.0 AS lon
  FROM supplier
),
dist AS (
  SELECT c.c_custkey, s.s_suppkey,
         ROUND({haversine_km("c.lat", "c.lon", "s.lat", "s.lon")}, 4) AS d_km
  FROM c JOIN s ON 1 = 1
),
ranked AS (
  SELECT c_custkey, s_suppkey, d_km,
         ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY d_km, s_suppkey) AS rk
  FROM dist
)
SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(s_suppkey AS BIGINT) AS nearest_suppkey,
       d_km AS dist_km
FROM ranked WHERE rk = 1
ORDER BY c_custkey
"""

register(
    "geo_nearest_supplier",
    oracle=NEAREST_SQL,
    doc="Nearest supplier per customer by haversine: supplier is a "
    "broadcast dim, so the candidate pass is broadcast-NL over a "
    "constant-size side; deterministic (ROUND(d,4), suppkey) winner",
)(sql_runner(lambda _d: NEAREST_SQL, ("customer", "supplier")))


# ------------------------------------------------------- grid-cell pair join


def _grid_pairs_sql(dialect: str) -> str:
    """Spark path AND oracle share the exact-filter tail; only the candidate
    generator differs (grid equi-join vs all-pairs)."""
    cx = idiv(dialect, "(lon_m + 180000)", str(CELL_MILLI))
    cy = idiv(dialect, "(lat_m + 60000)", str(CELL_MILLI))
    d = haversine_km("lat_m / 1000.0", "lon_m / 1000.0", "lat_m2 / 1000.0", "lon_m2 / 1000.0")
    pts = f"""pts AS (
  SELECT c_custkey AS key, {CUST_LAT_MILLI} AS lat_m, {CUST_LON_MILLI} AS lon_m
  FROM customer
)"""
    if dialect == DUCKDB:
        # brute-force all-pairs oracle: proves the grid path is lossless
        cand = """cand AS (
  SELECT a.key AS k1, a.lat_m, a.lon_m, b.key AS k2,
         b.lat_m AS lat_m2, b.lon_m AS lon_m2
  FROM pts a JOIN pts b ON a.key < b.key
)"""
    else:
        cand = f"""cells AS (
  SELECT key, lat_m, lon_m, {cx} AS cx, {cy} AS cy FROM pts
),
offsets AS (
  SELECT dx, dy
  FROM (SELECT explode(sequence(-1, 1)) AS dx) x
  CROSS JOIN (SELECT explode(sequence(-1, 1)) AS dy) y
),
probes AS (
  SELECT key, lat_m, lon_m,
         ((cx + dx) % {LON_CELLS} + {LON_CELLS}) % {LON_CELLS} AS cx,
         cy + dy AS cy
  FROM cells CROSS JOIN offsets
),
cand AS (
  SELECT a.key AS k1, a.lat_m, a.lon_m, b.key AS k2,
         b.lat_m AS lat_m2, b.lon_m AS lon_m2
  FROM probes a
  -- b's cx is already in [0, LON_CELLS) by construction; only probes wrap
  JOIN cells b
    ON a.cx = b.cx AND a.cy = b.cy AND a.key < b.key
)"""
    return f"""
WITH {pts},
{cand},
scored AS (
  -- distance computed ONCE per candidate (filter + project would otherwise
  -- each evaluate the ~10-function trig expression)
  SELECT k1, k2, ROUND({d}, 4) AS dist_km FROM cand
)
SELECT CAST(k1 AS BIGINT) AS custkey_a,
       CAST(k2 AS BIGINT) AS custkey_b,
       dist_km
FROM scored
WHERE dist_km <= {RADIUS_KM}
ORDER BY custkey_a, custkey_b
"""


register(
    "geo_grid_pairs",
    oracle=_grid_pairs_sql(DUCKDB),
    doc=f"Customer pairs within {RADIUS_KM} km: grid-cell equi-join "
    "(integer millidegree binning, 3x3 probe neighborhood, antimeridian "
    "wrap) + exact haversine filter; oracle is the brute-force all-pairs "
    "join, so parity proves the grid candidate path drops no pair",
)(sql_runner(_grid_pairs_sql, ("customer",)))
