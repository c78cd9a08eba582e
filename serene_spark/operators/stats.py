"""Optimizer-statistics and data-layout operators — the ANALYZE/OPTIMIZE
substrate a 100 TB warehouse runs between ingestion and querying.

* equi-depth histogram: the cost-based-optimizer statistic for selectivity
  estimation. Built scale-correctly: first reduce to the (value, count)
  relation (one keyed agg with map-side combine — the same move as
  profile_textstats' exact median), then window over DISTINCT values only.
  The cumulative window is a single ordered pass over the distinct-value
  relation; at warehouse scale that relation is orders of magnitude smaller
  than the table, and a production build would range-partition it — noted,
  not needed at test scale.
* Z-order clustering (the Delta/Iceberg OPTIMIZE ZORDER technique): Morton
  bit-interleaving of two dimensions into one sort key, so range predicates
  on EITHER dimension prune most files. The key is pure per-row bit
  arithmetic (map-only); the emitted manifest buckets rows by z-prefix and
  reports each bucket's per-dimension bounding box — exactly the min/max
  file statistics a scan would prune with.
* per-column NDV sketch: one-pass approx_count_distinct over every column —
  the stats-collection pass ANALYZE TABLE runs. Sketch-based (rows-only,
  error pinned by pytest) because exact per-column NDV at 100 TB is a
  full-shuffle-per-column cost no warehouse pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_s, explode_seq, idiv, shl, shr
from serene_spark.registry import QUERIES, register

HIST_BUCKETS = 16
Z_BITS = 8          # bits per dimension -> 2*Z_BITS-bit Morton key
Z_FILE_SHIFT = 8    # bucket = z >> shift: 2^(2*Z_BITS - shift) = 256 files


def equi_depth_histogram_sql(dialect: str) -> str:
    """Equi-depth histogram of l_extendedprice: every distinct value lands in
    the bucket of its first row rank (floor(rows_before * B / n)), so bucket
    populations are equal up to ties — the standard ANALYZE histogram with
    deterministic tie handling both engines agree on.
    """
    return f"""
WITH vh AS (
  SELECT l_extendedprice AS v, COUNT(*) AS c
  FROM lineitem GROUP BY l_extendedprice
),
cum AS (
  SELECT v, c,
         SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - c AS rows_before,
         SUM(c) OVER () AS n
  FROM vh
)
SELECT CAST(FLOOR(rows_before * {HIST_BUCKETS} / n) AS BIGINT) AS bucket,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       round(MIN(v), 6) AS min_v,
       round(MAX(v), 6) AS max_v
FROM cum
GROUP BY FLOOR(rows_before * {HIST_BUCKETS} / n)
"""


def _morton(dialect: str, x: str, y: str, bits: int) -> str:
    """Interleave the low ``bits`` bits of x (even positions) and y (odd
    positions) into a Morton key — pure integer bit arithmetic, map-only."""
    terms = []
    for i in range(bits):
        xbit = f"({shr(dialect, x, i)} % 2)"
        ybit = f"({shr(dialect, y, i)} % 2)"
        terms.append(shl(dialect, xbit, 2 * i))
        terms.append(shl(dialect, ybit, 2 * i + 1))
    return "(" + " + ".join(terms) + ")"


def zorder_manifest_sql(dialect: str) -> str:
    """Z-order layout manifest for orders over (o_custkey, order epoch-day):
    both dimensions min-max scaled to ``Z_BITS`` bits via scalar-subquery
    bounds, Morton-interleaved, bucketed by z-prefix into files. Each file
    row carries its per-dimension bounding box — the min/max statistics a
    z-ordered scan prunes with: a predicate on EITHER dimension now skips
    most buckets, where a single-column sort helps only that column.
    """
    day = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    scale = 1 << Z_BITS
    x = (f"CAST(FLOOR((o_custkey - (SELECT MIN(o_custkey) FROM orders)) * {scale}.0 / "
         f"((SELECT MAX(o_custkey) - MIN(o_custkey) + 1 FROM orders))) AS BIGINT)")
    y = (f"CAST(FLOOR((d - (SELECT MIN(d) FROM days)) * {scale}.0 / "
         f"((SELECT MAX(d) - MIN(d) + 1 FROM days))) AS BIGINT)")
    z = _morton(dialect, "x", "y", Z_BITS)
    return f"""
WITH days AS (
  SELECT o_orderkey, o_custkey, {day} AS d FROM orders
),
scaled AS (
  SELECT o_orderkey, o_custkey, d, {x} AS x, {y} AS y FROM days
),
keyed AS (
  SELECT o_orderkey, o_custkey, d, {z} AS zkey FROM scaled
)
SELECT CAST({shr(dialect, "zkey", Z_FILE_SHIFT)} AS BIGINT) AS file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_custkey) AS BIGINT) AS min_custkey,
       CAST(MAX(o_custkey) AS BIGINT) AS max_custkey,
       CAST(MIN(d) AS BIGINT) AS min_day,
       CAST(MAX(d) AS BIGINT) AS max_day
FROM keyed
GROUP BY {shr(dialect, "zkey", Z_FILE_SHIFT)}
"""


NDV_COLUMNS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
                 "l_extendedprice", "l_discount", "l_returnflag",
                 "l_linestatus", "l_shipdate"],
}


def ndv_sketch_sql(table: str) -> str:
    """One-pass ANALYZE: HLL NDV + null count + min/max length per column,
    computed as a single wide aggregation then unpivoted driver-free via
    a stack over the one-row result (Spark only — sketch states are
    engine-specific, so this is a rows-only query)."""
    cols = NDV_COLUMNS[table]
    aggs = ", ".join(
        f"approx_count_distinct({c}) AS ndv_{i}, "
        f"COUNT(*) - COUNT({c}) AS nulls_{i}"
        for i, c in enumerate(cols)
    )
    stack_args = ", ".join(
        f"'{c}', ndv_{i}, nulls_{i}" for i, c in enumerate(cols)
    )
    return f"""
WITH wide AS (SELECT COUNT(*) AS n_rows, {aggs} FROM {table})
SELECT column_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(ndv AS BIGINT) AS approx_ndv, CAST(n_nulls AS BIGINT) AS n_nulls
FROM (
  SELECT n_rows,
         stack({len(cols)}, {stack_args}) AS (column_name, ndv, n_nulls)
  FROM wide
) t
"""


register("equi_depth_histogram", oracle=equi_depth_histogram_sql(DUCKDB),
         doc=f"ANALYZE-style {HIST_BUCKETS}-bucket equi-depth histogram of "
         "l_extendedprice (two-phase: distinct-value reduce, then window)")(
    sql_runner(equi_depth_histogram_sql, ("lineitem",)))
register("zorder_manifest", oracle=zorder_manifest_sql(DUCKDB),
         doc="Morton/Z-order clustering manifest over (custkey, order day) "
         "with per-file bounding boxes (the OPTIMIZE ZORDER layout)")(
    sql_runner(zorder_manifest_sql, ("orders",)))
register("ndv_sketch_lineitem",
         doc="one-pass per-column HLL NDV + null counts (ANALYZE TABLE "
         "sketch pass; rows-only, error pinned by pytest)")(
    sql_runner(lambda _d: ndv_sketch_sql("lineitem"), ("lineitem",)))


N_SKIP_PROBES = 16  # per-dimension probe workload for the skip estimate


def zorder_skip_sql(dialect: str) -> str:
    """File-skipping effectiveness of the Z-order layout, MEASURED: for a
    deterministic workload of ``N_SKIP_PROBES`` equal-width range predicates
    per dimension, the fraction of files each layout's bounding boxes can
    skip — Z-order vs the same row set sorted by custkey alone (equal-width
    custkey chunks, same file count for fairness).

    This is the query that justifies ``zorder_manifest``'s existence with a
    number instead of a claim: a single-column sort prunes only its own
    column (day predicates scan ~every file), the Morton layout prunes BOTH
    dimensions to a fraction.  All arithmetic runs over the MANIFESTS
    (hundreds of rows — the probe cross join is manifest x probes, never
    data-scale); the data-scale work is the one grouped scan each manifest
    already does.
    """
    day = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    return f"""
WITH zfiles AS ({zorder_manifest_sql(dialect)}),
days2 AS (
  SELECT o_custkey, {day} AS d FROM orders
),
nf AS (
  SELECT COUNT(*) AS n FROM zfiles
),
sfiles AS (
  SELECT file_id,
         CAST(MIN(o_custkey) AS BIGINT) AS min_custkey,
         CAST(MAX(o_custkey) AS BIGINT) AS max_custkey,
         CAST(MIN(d) AS BIGINT) AS min_day,
         CAST(MAX(d) AS BIGINT) AS max_day
  FROM (
    SELECT o_custkey, d,
           CAST(FLOOR((o_custkey - (SELECT MIN(o_custkey) FROM orders))
                      * (SELECT n FROM nf) * 1.0
                      / ((SELECT MAX(o_custkey) - MIN(o_custkey) + 1 FROM orders)))
                AS BIGINT) AS file_id
    FROM days2
  ) t GROUP BY file_id
),
bounds AS (
  SELECT MIN(o_custkey) AS cmin, MAX(o_custkey) AS cmax FROM orders
),
dbounds AS (
  SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM days2
),
probes AS (
  SELECT i,
         (SELECT cmin FROM bounds)
           + CAST(FLOOR(i * ((SELECT cmax - cmin + 1 FROM bounds) * 1.0 / {N_SKIP_PROBES})) AS BIGINT) AS c_lo,
         (SELECT cmin FROM bounds)
           + CAST(FLOOR((i + 1) * ((SELECT cmax - cmin + 1 FROM bounds) * 1.0 / {N_SKIP_PROBES})) AS BIGINT) AS c_hi,
         (SELECT dmin FROM dbounds)
           + CAST(FLOOR(i * ((SELECT dmax - dmin + 1 FROM dbounds) * 1.0 / {N_SKIP_PROBES})) AS BIGINT) AS d_lo,
         (SELECT dmin FROM dbounds)
           + CAST(FLOOR((i + 1) * ((SELECT dmax - dmin + 1 FROM dbounds) * 1.0 / {N_SKIP_PROBES})) AS BIGINT) AS d_hi
  FROM (SELECT {explode_seq(dialect, 0, N_SKIP_PROBES - 1)} AS i FROM nf) s
),
hits AS (
  SELECT 'zorder' AS layout, 'custkey' AS dim, p.i,
         SUM(CASE WHEN f.min_custkey < p.c_hi AND f.max_custkey >= p.c_lo THEN 1 ELSE 0 END) AS n_hit,
         COUNT(*) AS n_files
  FROM probes p CROSS JOIN zfiles f GROUP BY p.i
  UNION ALL
  SELECT 'zorder', 'day', p.i,
         SUM(CASE WHEN f.min_day < p.d_hi AND f.max_day >= p.d_lo THEN 1 ELSE 0 END),
         COUNT(*)
  FROM probes p CROSS JOIN zfiles f GROUP BY p.i
  UNION ALL
  SELECT 'sorted_custkey', 'custkey', p.i,
         SUM(CASE WHEN f.min_custkey < p.c_hi AND f.max_custkey >= p.c_lo THEN 1 ELSE 0 END),
         COUNT(*)
  FROM probes p CROSS JOIN sfiles f GROUP BY p.i
  UNION ALL
  SELECT 'sorted_custkey', 'day', p.i,
         SUM(CASE WHEN f.min_day < p.d_hi AND f.max_day >= p.d_lo THEN 1 ELSE 0 END),
         COUNT(*)
  FROM probes p CROSS JOIN sfiles f GROUP BY p.i
)
SELECT layout, dim,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       -- n_files is constant per layout, so the mean fraction reduces to
       -- one exact integer ratio (no double summation order to worry about,
       -- and the result is DOUBLE in both engines — a bare 1.0 literal
       -- parses as DECIMAL in Spark and the column type diverges)
       ROUND(CAST(SUM(n_hit) AS DOUBLE) / SUM(n_files), 6) AS avg_scan_fraction
FROM hits
GROUP BY layout, dim
"""


register("zorder_skip_estimate", oracle=zorder_skip_sql(DUCKDB),
         doc=f"measured file-skipping payoff of the Z-order layout vs a "
         "single-column sort: avg fraction of files a range predicate "
         f"must scan, {N_SKIP_PROBES} probes per dimension, both layouts "
         "at equal file count; all probe arithmetic manifest-scale")(
    sql_runner(zorder_skip_sql, ("orders",)))


SEL_PRED_PRICE = 30000  # range predicate for the selectivity-estimate audit


def cbo_audit_sql(dialect: str) -> str:
    """Cost-based-optimizer estimation audit: the two classic cardinality
    formulas, ESTIMATED from statistics vs the ACTUAL answer, with relative
    error — measuring how good the ANALYZE-layer statistics this module
    builds (NDVs, equi-depth histogram) actually are on this corpus.

    * join rows (Selinger et al., System R, SIGMOD 1979):
      |R join S| ~ |R|*|S| / max(ndv_R(key), ndv_S(key)) — audited on
      customer x orders and orders x lineitem.
    * range selectivity: P(l_extendedprice < c) from the equi-depth
      histogram at BUCKET granularity (full buckets below the cut; the
      ±1-bucket error from skipping intra-bucket interpolation IS part of
      what the audit measures).

    All statistics derive exactly in-query (exact NDV / exact histogram) so
    the audit isolates FORMULA error, not sketch error — plug in the HLL
    NDVs or a sampled histogram and the measured error grows by the sketch
    error, which the sketch family pins separately.  Everything here runs
    over metadata-scale relations except the three exact actuals (one
    keyed join / scan each).
    """
    return f"""
WITH stats_c AS (
  SELECT COUNT(*) AS n, COUNT(DISTINCT c_custkey) AS ndv FROM customer
),
stats_o AS (
  SELECT COUNT(*) AS n, COUNT(DISTINCT o_custkey) AS ndv_ck,
         COUNT(DISTINCT o_orderkey) AS ndv_ok
  FROM orders
),
stats_l AS (
  SELECT COUNT(*) AS n, COUNT(DISTINCT l_orderkey) AS ndv FROM lineitem
),
act_co AS (
  SELECT COUNT(*) AS actual FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
),
act_ol AS (
  SELECT COUNT(*) AS actual FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
hist AS (
  {equi_depth_histogram_sql(dialect)}
),
hist_est AS (
  SELECT SUM(CASE WHEN max_v < {SEL_PRED_PRICE} THEN n_rows ELSE 0 END) AS est_rows
  FROM hist
),
act_sel AS (
  SELECT COUNT(*) AS actual FROM lineitem WHERE l_extendedprice < {SEL_PRED_PRICE}
),
rows_out AS (
  -- FLOOR before the BIGINT cast: a fractional estimate would otherwise
  -- truncate in Spark but round-to-nearest in DuckDB (it is integral on
  -- this corpus only because the audited keys are unique PKs)
  SELECT 'join_customer_orders' AS target,
         CAST(FLOOR(CAST((SELECT n FROM stats_c) AS DOUBLE) * (SELECT n FROM stats_o)
              / GREATEST((SELECT ndv FROM stats_c), (SELECT ndv_ck FROM stats_o)))
              AS BIGINT) AS estimated,
         CAST((SELECT actual FROM act_co) AS BIGINT) AS actual
  UNION ALL
  SELECT 'join_orders_lineitem',
         CAST(FLOOR(CAST((SELECT n FROM stats_o) AS DOUBLE) * (SELECT n FROM stats_l)
              / GREATEST((SELECT ndv_ok FROM stats_o), (SELECT ndv FROM stats_l)))
              AS BIGINT),
         CAST((SELECT actual FROM act_ol) AS BIGINT)
  UNION ALL
  SELECT 'sel_price_lt_{SEL_PRED_PRICE}',
         CAST((SELECT est_rows FROM hist_est) AS BIGINT),
         CAST((SELECT actual FROM act_sel) AS BIGINT)
)
SELECT target, estimated, actual,
       ROUND(ABS(CAST(estimated AS DOUBLE) - actual)
             / GREATEST(actual, 1), 6) AS rel_error
FROM rows_out
"""


register("cbo_estimate_audit", oracle=cbo_audit_sql(DUCKDB),
         doc="System-R join-cardinality and equi-depth-histogram selectivity "
         "estimates vs exact actuals with relative error — measures the "
         "ANALYZE statistics this module builds; formula error isolated "
         "from sketch error")(
    sql_runner(cbo_audit_sql, ("customer", "orders", "lineitem")))


SKEW_KEYS = (
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
)


def join_skew_sql(dialect: str) -> str:
    """Join-key skew report: for each join key of the schema, the key-count
    distribution statistics that decide whether a shuffle join needs
    salting / AQE skew handling — n_keys, mean and MAX rows per key, the
    exact p99 rows-per-key (count-histogram quantile over the tiny
    (rows_per_key, n_keys) relation), and the skew factor max/mean.  This
    is the measurement behind ``sources/layout.py``'s ``salted_agg`` knob:
    a factor near 1 means salting only adds a shuffle; a factor of 100
    means one task drags the stage.  One keyed aggregation per key column
    (map-side combinable), then metadata-scale arithmetic.
    """
    parts = []
    for table, col in SKEW_KEYS:
        parts.append(f"""
  SELECT '{table}.{col}' AS join_key,
         CAST(SUM(keys_at_c) AS BIGINT) AS n_keys,
         CAST(SUM(c * keys_at_c) AS BIGINT) AS n_rows,
         ROUND(CAST(SUM(c * keys_at_c) AS DOUBLE) / SUM(keys_at_c), 6)
           AS mean_rows_per_key,
         CAST(MAX(c) AS BIGINT) AS max_rows_per_key,
         CAST(MIN(CASE WHEN cum >= ceil(0.99 * nk) THEN c END) AS BIGINT)
           AS p99_rows_per_key,
         ROUND(MAX(c) / (CAST(SUM(c * keys_at_c) AS DOUBLE) / SUM(keys_at_c)), 6)
           AS skew_factor
  FROM (
    SELECT c, COUNT(*) AS keys_at_c,
           SUM(COUNT(*)) OVER (ORDER BY c) AS cum,
           SUM(COUNT(*)) OVER () AS nk
    FROM (SELECT {col}, COUNT(*) AS c FROM {table} GROUP BY {col}) k
    GROUP BY c
  ) h""")
    union = "\n  UNION ALL".join(parts)
    return f"SELECT * FROM ({union}\n) u"


register("join_key_skew", oracle=join_skew_sql(DUCKDB),
         doc="per-join-key skew report (n_keys, mean/max/p99 rows per key, "
         "skew factor) — the measurement behind the salting/AQE-skew "
         "decision; one keyed agg per column, then metadata-scale math")(
    sql_runner(join_skew_sql, ("lineitem", "orders", "events")))


_ADVISORY_SCHEMA = (
    "join_key string, hot_key_share double, row_ratio_vs_median double, "
    "narrow_residue_byte_ratio double, splits_at_stock_if_wide_rows boolean, "
    "splits_at_stock_if_narrow_residue boolean, recommended_skew_factor int, "
    "advisory string"
)


@register(
    "explain_skew_advisory",
    oracle=None,  # rows-only: the advisory folds in constants MEASURED at
    # sf10 (compressed-byte discount, tools/bench_skew.py), not SQL semantics
    doc="AQE skew-join config advisory over the join_key_skew stats: one "
    "row per dominant join key (hot partition above stock factor-5 x the "
    "median in rows), with the estimated row and narrow-residue compressed-"
    "byte ratios and the recommended skewedPartitionFactor; empty = stock "
    "settings fine. The user-facing surface of "
    "plans/explain_audit.skew_join_advisory (reachable via "
    "`cli.py query explain_skew_advisory`)",
)
def explain_skew_advisory(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serene_spark.plans.explain_audit import skew_join_advisory

    # join_key_skew emits one row per SKEW_KEYS entry — metadata-scale;
    # the collect is over <=4 rows, never data-scale
    stats = [r.asDict() for r in
             QUERIES["join_key_skew"].spark(spark, sf_dir).collect()]
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    rows = skew_join_advisory(stats, n_shuffle_partitions=n_part)
    return spark.createDataFrame(rows, schema=_ADVISORY_SCHEMA)
