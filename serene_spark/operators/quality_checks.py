"""Data-quality validation operators — Deequ-style constraint suites over
warehouse tables: one-pass column metrics, declarative row constraints, and
referential-integrity audits.

The reference validates *semantic* quality of columns (profiling features →
RF classifier); a production lakehouse also needs *structural* quality gates
before those profiles are trusted.  These re-express the published
Deequ/"unit tests for data" design (Schelter et al., "Automating Large-Scale
Data Quality Verification", VLDB 2018) as single SQL statements, sharing the
engine's dialect shims so every check is oracle-verified.

Scale shapes (100 TB):

* ``dq_metrics_orders`` — the whole battery from ONE scan: the table melts
  to the engine's long ``(column_name, value)`` relation, a first
  aggregation builds the per-(column, value) histogram (high-cardinality
  shuffle key — parallelism is never capped at #columns), and the tiny
  histogram yields completeness / distinctness / distinct counts for every
  column.  Same cascade as ``profile_scalar``; a UNION-ALL-of-one-agg-CTE
  formulation was rejected because Catalyst inlines the CTE per branch
  (N columns -> N scans).  At 100 TB the exact distinct arm becomes the HLL
  sketch of ``operators/sketches.py`` (documented swap, same shape).
* ``dq_constraints_lineitem`` — every declarative row constraint is a
  CASE-count in the same single aggregation: N constraints never cost N
  scans.  Map-side partial aggregation makes the shuffle one row per
  partition.
* ``dq_fk_orphans`` — referential integrity as anti-join counts: dimension
  sides (customer, part, supplier, nation, region) broadcast; the one
  fact-to-fact edge (lineitem→orders) shuffles on the join key, which a
  bucketed layout (sources/layout.py::write_bucketed) makes exchange-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import register_views, sql_runner
from serene_spark.functions.melt import melt_sql
from serene_spark.functions.sqlgen import (
    DUCKDB,
    SPARK,
    epoch_s,
    explode_seq,
    hex_to_int,
    utf8_decode,
)
from serene_spark.registry import register

# Declarative constraint suite for lineitem — the Deequ Check(...) analog.
# Each entry: (constraint name, SQL predicate that *violating* rows fail).
LINEITEM_CONSTRAINTS = [
    ("quantity_positive", "l_quantity > 0"),
    ("discount_unit_interval", "l_discount >= 0 AND l_discount <= 1"),
    ("tax_non_negative", "l_tax >= 0"),
    ("extendedprice_positive", "l_extendedprice > 0"),
    ("returnflag_domain", "l_returnflag IN ('A', 'N', 'R')"),
    ("linestatus_domain", "l_linestatus IN ('F', 'O')"),
    ("shipdate_complete", "l_shipdate IS NOT NULL"),
    ("linenumber_range", "l_linenumber BETWEEN 1 AND 7"),
]

# Per-column metric set for orders — the Deequ Analyzer battery.
ORDERS_METRIC_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]

# FK edges of the star schema: (constraint, child, fk expr, parent, pk expr,
# broadcastable parent?).  lineitem->orders is the only fact-to-fact edge.
FK_EDGES = [
    ("orders_custkey_fk", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_orderkey_fk", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_partkey_fk", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_suppkey_fk", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer_nationkey_fk", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier_nationkey_fk", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation_regionkey_fk", "nation", "n_regionkey", "region", "r_regionkey"),
]


def dq_metrics_sql(long_rel: str, dialect: str) -> str:
    """Column-metric battery over a long ``(column_name, value)`` relation.

    completeness = non-missing fraction under the reference's missing-value
    convention (``trim(value) = ''`` is missing; nulls melt to '' —
    FeatureExtractor.scala:98-101), distinctness = distinct non-missing
    values / rows.  Histogram cascade: the only table-sized aggregation
    keys on (column_name, value); the per-column reduce consumes the tiny
    distinct-value histogram.
    """
    cols = ", ".join(f"'{c}'" for c in ORDERS_METRIC_COLS)
    return f"""
WITH hist AS (
  SELECT column_name, value, COUNT(*) AS cnt
  FROM {long_rel} l
  GROUP BY column_name, value
)
SELECT column_name AS col_name,
       ROUND(CAST(SUM(CASE WHEN trim(value) <> '' THEN cnt ELSE 0 END) AS DOUBLE)
             / SUM(cnt), 6) AS completeness,
       ROUND(CAST(SUM(CASE WHEN trim(value) <> '' THEN 1 ELSE 0 END) AS DOUBLE)
             / SUM(cnt), 6) AS distinctness,
       CAST(SUM(CASE WHEN trim(value) <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct,
       CAST(SUM(cnt) AS BIGINT) AS n_rows
FROM hist
WHERE column_name IN ({cols})
GROUP BY column_name
"""


def _index_reshape(names_vals: list[tuple[str, str]], dialect: str,
                   src: str, extra: str = "") -> str:
    """Reshape a single-row wide aggregate into long (constraint_name,
    violations, ...) rows by exploding an index over the SAME agg row —
    exactly one reference to ``src``.  (A UNION-ALL-of-CTE reshape is NOT
    equivalent: Catalyst inlines the CTE into every branch, turning an
    N-constraint suite into N scans.)"""
    n = len(names_vals)
    name_case = "CASE i " + " ".join(
        f"WHEN {i + 1} THEN '{name}'" for i, (name, _v) in enumerate(names_vals)
    ) + " END"
    val_case = "CASE i " + " ".join(
        f"WHEN {i + 1} THEN {val}" for i, (_n, val) in enumerate(names_vals)
    ) + " END"
    return f"""
SELECT {name_case} AS constraint_name,
       CAST({val_case} AS BIGINT) AS violations{extra}
FROM (SELECT m.*, {explode_seq(dialect, 1, n)} AS i FROM {src} m) r"""


def dq_constraints_sql(dialect: str) -> str:
    """Declarative constraint verification over lineitem: every constraint
    is one CASE-count arm of a single aggregation (one scan for the whole
    suite), reshaped into a long (constraint, violations, total, passed)
    report via an index explode over the one agg row."""
    arms = ",\n         ".join(
        f"SUM(CASE WHEN NOT ({pred}) THEN 1 ELSE 0 END) AS v_{name}"
        for name, pred in LINEITEM_CONSTRAINTS
    )
    reshape = _index_reshape(
        [(name, f"v_{name}") for name, _p in LINEITEM_CONSTRAINTS],
        dialect,
        "m",
        extra=",\n       CAST(n_rows AS BIGINT) AS n_rows",
    )
    return f"""
WITH m AS (
  SELECT COUNT(*) AS n_rows,
         {arms}
  FROM lineitem
)
SELECT constraint_name, violations, n_rows,
       CASE WHEN violations = 0 THEN 1 ELSE 0 END AS passed
FROM ({reshape}) x
"""


def dq_fk_orphans_sql(dialect: str) -> str:
    """Referential-integrity audit: orphan counts per FK edge of the star
    schema.  NULL FKs are not orphans (SQL FK semantics).

    One scan per CHILD table, not per edge: all of a child's FK edges are
    checked in chained LEFT joins against DISTINCT parent keys in a single
    pass (lineitem's three edges cost one lineitem scan), counted in one
    agg row and reshaped with the index explode.  Dimension parents
    broadcast; lineitem→orders is the one genuine shuffle, which a bucketed
    layout makes exchange-free."""
    by_child: dict[str, list[tuple[str, str, str, str]]] = {}
    for name, child, fk, parent, pk in FK_EDGES:
        by_child.setdefault(child, []).append((name, fk, parent, pk))
    parts = []
    for child, edges in by_child.items():
        joins = "\n  ".join(
            f"LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p{i} ON c.{fk} = p{i}.{pk}"
            for i, (_n, fk, parent, pk) in enumerate(edges)
        )
        arms = ",\n         ".join(
            f"SUM(CASE WHEN c.{fk} IS NOT NULL AND p{i}.{pk} IS NULL THEN 1 ELSE 0 END) AS v_{name}"
            for i, (name, fk, _p, pk) in enumerate(edges)
        )
        agg = f"(SELECT {arms} FROM {child} c\n  {joins})"
        parts.append(
            "SELECT constraint_name, violations AS orphans FROM ("
            + _index_reshape([(name, f"v_{name}") for name, *_ in edges], dialect, agg)
            + ") x"
        )
    return "\nUNION ALL\n".join(parts)


_DQ_TABLES = ("orders", "lineitem", "customer", "supplier", "part", "nation", "region")


def _dq_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serene_spark.catalog import load_table
    from serene_spark.functions.melt import melt

    # melt = narrow stack projection (one pruned scan); its spread() is a
    # no-op on properly-partitioned cluster inputs
    long_df = melt(load_table(spark, sf_dir, "orders"))
    long_df.createOrReplaceTempView("__dq_orders_long")
    out = spark.sql(dq_metrics_sql("__dq_orders_long", SPARK))
    return out


register(
    "dq_metrics_orders",
    oracle=dq_metrics_sql(melt_sql("orders", ORDERS_METRIC_COLS), DUCKDB),
    doc="Deequ-style column-metric battery over orders: completeness, "
    "distinctness, distinct counts — one scan + histogram cascade",
)(_dq_metrics)

register(
    "dq_constraints_lineitem",
    oracle=dq_constraints_sql(DUCKDB),
    doc="declarative row-constraint suite over lineitem (domains, ranges, "
    "completeness) as CASE-counts in a single aggregation",
)(sql_runner(dq_constraints_sql, ("lineitem",)))

register(
    "dq_fk_orphans",
    oracle=dq_fk_orphans_sql(DUCKDB),
    doc="referential-integrity audit: orphan counts for every FK edge of "
    "the star schema via broadcast anti-joins",
)(sql_runner(dq_fk_orphans_sql, _DQ_TABLES))


# --- k-anonymity / l-diversity audit (privacy governance) -------------------

KANON_K = 5   # a quasi-identifier group smaller than k re-identifies
LDIV_L = 3    # a group with < l distinct sensitive values leaks by inference


def k_anonymity_sql(dialect: str) -> str:
    """k-anonymity + l-diversity audit over the customer table before any
    data release (Sweeney 2002; Machanavajjhala et al. 2007) — the
    governance sibling of the PII scan: that one finds DIRECT identifiers,
    this one measures how re-identifiable the remaining quasi-identifiers
    (nation x market segment x balance band) leave each row, and whether
    small groups also leak their sensitive attribute (exact balance) by
    inference.

    Output: one row per QI equivalence class with its size, distinct
    sensitive count, and the two flags; corpus-level risk shares repeated
    on every row (frac of ROWS, not groups, below k — the re-id exposure
    a release would carry).

    Scale shape: one scan -> QI-keyed agg (map-side combined); the
    summary is a scalar subquery over the group relation.  Balance bands
    quantize as FLOOR over the exact double (cents are < 2^53, so the
    double is exact and the division/FLOOR IEEE-identical on both
    engines) — never DECIMAL division, whose scale rules diverge.
    """
    band = ("CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE)"
            " / 1000) AS BIGINT)")
    return f"""
WITH classes AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         {band} AS balance_band,
         COUNT(*) AS class_size,
         COUNT(DISTINCT CAST(c_acctbal AS DECIMAL(18,2))) AS n_sensitive
  FROM customer
  GROUP BY c_nationkey, c_mktsegment, {band}
),
summary AS (
  SELECT SUM(CASE WHEN class_size < {KANON_K} THEN class_size ELSE 0 END) AS rows_below_k,
         SUM(class_size) AS n_rows,
         MIN(class_size) AS min_class
  FROM classes
)
SELECT CAST(nation AS BIGINT) AS nation,
       segment,
       balance_band,
       CAST(class_size AS BIGINT) AS class_size,
       CAST(n_sensitive AS BIGINT) AS n_sensitive,
       CAST(CASE WHEN class_size >= {KANON_K} THEN 1 ELSE 0 END AS INT)
         AS k_anonymous,
       CAST(CASE WHEN n_sensitive >= {LDIV_L} THEN 1 ELSE 0 END AS INT)
         AS l_diverse,
       ROUND(CAST((SELECT rows_below_k FROM summary) AS DOUBLE)
             / (SELECT n_rows FROM summary), 6) AS frac_rows_below_k,
       CAST((SELECT min_class FROM summary) AS BIGINT) AS min_class_size
FROM classes
ORDER BY nation, segment, balance_band
"""


register(
    "k_anonymity_audit",
    oracle=k_anonymity_sql(DUCKDB),
    doc=f"k-anonymity (k={KANON_K}) + l-diversity (l={LDIV_L}) audit over "
    "quasi-identifier classes (nation x segment x balance band): class "
    "sizes, sensitive diversity, row-level re-identification exposure",
)(sql_runner(k_anonymity_sql, ("customer",)))


# --- Duplicate-payment detection (fraud/ops audit) --------------------------

DUP_PAY_WINDOW_DAYS = 7


def duplicate_payments_sql(dialect: str) -> str:
    """Suspected duplicate payments: pairs of orders by the SAME customer
    for the SAME exact amount within {DUP_PAY_WINDOW_DAYS} days — the
    classic accounts-payable double-charge screen (the Benford audit's
    row-level sibling: that one reads the whole ledger's shape, this one
    names the suspect pairs).

    The join is an EQUI-join on (customer, exact decimal amount) — the
    only pairs that can match — with the date window as a post-filter
    and a.o_orderkey < b.o_orderkey canonicalization; per-key blowup is
    bounded by repeats-of-identical-amount per customer, which is
    exactly the anomaly being hunted.  At 100 TB this stays a keyed
    shuffle; no inequality join ever forms.
    """
    day_a = f"CAST(FLOOR(({epoch_s(dialect, 'a.o_orderdate')}) / 86400.0) AS BIGINT)"
    day_b = f"CAST(FLOOR(({epoch_s(dialect, 'b.o_orderdate')}) / 86400.0) AS BIGINT)"
    return f"""
SELECT CAST(a.o_custkey AS BIGINT) AS custkey,
       CAST(a.o_orderkey AS BIGINT) AS orderkey_1,
       CAST(b.o_orderkey AS BIGINT) AS orderkey_2,
       CAST(CAST(a.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS amount,
       CAST(ABS({day_b} - {day_a}) AS BIGINT) AS gap_days
FROM orders a
JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND CAST(a.o_totalprice AS DECIMAL(18,2)) = CAST(b.o_totalprice AS DECIMAL(18,2))
 AND a.o_orderkey < b.o_orderkey
WHERE ABS({day_b} - {day_a}) <= {DUP_PAY_WINDOW_DAYS}
ORDER BY custkey, orderkey_1, orderkey_2
"""


register(
    "duplicate_payments",
    oracle=duplicate_payments_sql(DUCKDB),
    doc=f"duplicate-payment screen: same customer + same exact amount "
    f"within {DUP_PAY_WINDOW_DAYS} days, equi-joined on (customer, "
    "amount) — never an inequality join; canonical pair order",
)(sql_runner(duplicate_payments_sql, ("orders",)))


# --- Cross-table consistency audit ------------------------------------------


def dq_cross_table_sql(dialect: str) -> str:
    """Cross-table consistency — the DQ dimension single-table constraints
    cannot see: (a) lineitems shipping BEFORE their order's placement,
    (b) orders with no lineitems at all, (c) the header-vs-lines
    reconciliation (order total vs the sum of its line prices) that
    every finance close runs.  On this synthetic corpus the checks
    return honest findings: ship-before-order rows exist (the
    close-before-open quirk order_backlog_daily and lead_time document)
    and NO header matches its lines (totals are generated independently)
    — the audit measures, it does not assume.

    Scale shape: one lineitem scan reduces to per-order (line total,
    min ship day) — a single keyed agg on the natural join key — then
    one join to orders and one global aggregation of decimal-exact
    gaps.  No window, no data-scale pairs.
    """
    o_day = f"CAST(FLOOR(({epoch_s(dialect, 'o.o_orderdate')}) / 86400.0) AS BIGINT)"
    s_day = f"CAST(FLOOR(({epoch_s(dialect, 'l_shipdate')}) / 86400.0) AS BIGINT)"
    return f"""
WITH per_order AS (
  SELECT l_orderkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS line_total,
         MIN({s_day}) AS first_ship_day,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
),
joined AS (
  SELECT o.o_orderkey,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS header_total,
         {o_day} AS order_day,
         p.line_total, p.first_ship_day, p.n_lines
  FROM orders o LEFT JOIN per_order p ON p.l_orderkey = o.o_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN n_lines IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orders_no_lines,
       CAST(SUM(CASE WHEN first_ship_day < order_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ship_before_order,
       CAST(SUM(CASE WHEN line_total IS NOT NULL
                      AND ABS(CAST(header_total - line_total AS DOUBLE)) >= 0.01
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_total_mismatch,
       -- NULLIF denominators: with NO reconcilable orders both means are
       -- 0/0, which ANSI Spark raises and DuckDB NULLs (the repo's
       -- pair_features NULLIF convention)
       ROUND(CAST(SUM(ABS(CAST(header_total - line_total AS DECIMAL(28,2))))
                  AS DOUBLE)
             / NULLIF(SUM(CASE WHEN line_total IS NOT NULL
                                THEN 1 ELSE 0 END), 0), 6)
         AS mean_abs_gap,
       ROUND(CAST(SUM(CASE WHEN line_total IS NOT NULL
                           THEN CAST(ROUND(ABS(CAST(header_total - line_total
                                                    AS DOUBLE))
                                           / CAST(header_total AS DOUBLE), 12)
                                AS DECIMAL(28,12))
                           ELSE CAST(0 AS DECIMAL(28,12)) END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN line_total IS NOT NULL
                                THEN 1 ELSE 0 END), 0), 6)
         AS mean_rel_gap
FROM joined
"""


register(
    "dq_cross_table",
    oracle=dq_cross_table_sql(DUCKDB),
    doc="cross-table consistency audit: ship-before-order rows, orders "
    "without lines, header-vs-lines total reconciliation (the corpus "
    "honestly fails it: totals are generated independently) — one "
    "keyed agg + one join, no data-scale pairs",
)(sql_runner(dq_cross_table_sql, ("orders", "lineitem")))


# --- Differentially-private count release (privacy governance) --------------

DP_EPSILON = 1.0  # per-release privacy budget for the count query


def _dp_counts_sql(dialect: str, audit: bool, salt: str = "") -> str:
    """Differentially-private release of per-(nation, market segment)
    customer counts via the Laplace mechanism (Dwork et al., TCC 2006) —
    the RELEASE step the privacy family was missing: ``pii_scan_customer``
    finds direct identifiers, ``k_anonymity_audit`` measures
    quasi-identifier exposure, and this operator is what a compliant
    publication of the aggregate actually ships.

    Mechanism: each customer belongs to exactly ONE (nation, segment)
    group, so the count vector has L1 sensitivity 1 and Laplace noise of
    scale 1/epsilon per cell gives epsilon-DP.  The noise draw is the
    inverse-CDF transform of a uniform derived from md5 of the group key —
    deterministic, engine-portable (the same construction as the
    ``bootstrap_ci_revenue`` Poisson weights and the ``cms_token_counts``
    hash grid), so the mechanism ITSELF is oracle-checked instead of
    hiding behind an engine RNG:

        u     = (int(md5(key)[:8], 16) + 0.5) / 2^32      in (0, 1)
        t     = u - 0.5                                    in (-0.5, 0.5)
        noise = -(1/eps) * sign(t) * ln(1 - 2*|t|)         ~ Laplace(1/eps)

    NOT ACTUALLY PRIVATE with the default empty ``salt``: the hash key is
    public, so the noise draw is exactly invertible — the registered
    parity shapes use that deliberately so the mechanism's arithmetic is
    oracle-checked end to end.  Passing a non-empty ``salt`` prepends the
    secret to the hashed key (noise = f(md5(salt|group))), which is the
    production construction: the draw is then a fixed function of
    (secret, group) — reproducible for audit by whoever holds the salt,
    unpredictable to release consumers.  ``dp_release_counts_salted``
    below is the runtime entry for that path; it REFUSES an empty salt
    rather than silently shipping the demo noise.  ``ln`` stays at the
    output edge over identical doubles (the ``pmi_collocations``
    convention).

    Two registered shapes: ``dp_release_counts`` (audit=False) ships ONLY
    what a release may contain — (group, dp_count >= 0 by post-processing
    max, epsilon); ``dp_release_audit`` (audit=True) adds the columns a
    privacy REVIEW reads before sign-off — true count, the noise draw,
    and the corpus-level mean |noise| beside its analytic expectation
    1/eps — and must never leave the review boundary.

    Scale: one scan -> group agg (map-side combined); noise is per-GROUP
    arithmetic on the tiny grouped relation — the mechanism costs nothing
    at 100 TB because it never touches row-scale data.
    """
    key = "concat(CAST(c_nationkey AS STRING), '|', c_mktsegment)"
    if salt:
        # hex-encode the secret instead of splicing it as a quoted
        # literal: Spark's lexer escapes with backslash (not doubled
        # quotes), so a salt containing ' would fail to parse and a
        # trailing \ could silently swallow the closing quote and change
        # the hashed key. unhex round-trips ANY byte sequence.
        blob = f"unhex('{salt.encode('utf-8').hex()}')"
        key = f"concat({utf8_decode(dialect, blob)}, '|', {key})"
    u = (f"(({hex_to_int(dialect, f'substr(md5({key}), 1, 8)')})"
         " + 0.5) / 4294967296.0")
    return f"""
WITH grouped AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         COUNT(*) AS n_true,
         {u} - 0.5 AS t
  FROM customer
  GROUP BY c_nationkey, c_mktsegment
),
noised AS (
  SELECT nation, segment, n_true,
         -(1.0 / {DP_EPSILON}) * SIGN(t) * LN(1 - 2 * ABS(t)) AS noise
  FROM grouped
),
summary AS (
  SELECT AVG(ABS(noise)) AS mean_abs_noise FROM noised
)
SELECT CAST(nation AS BIGINT) AS nation,
       segment,{'''
       CAST(n_true AS BIGINT) AS n_true,
       ROUND(noise, 6) AS noise,''' if audit else ''}
       ROUND(GREATEST(n_true + noise, 0.0), 6) AS dp_count,
       {DP_EPSILON} AS epsilon{''',
       ROUND((SELECT mean_abs_noise FROM summary), 6) AS mean_abs_noise''' if audit else ''}
FROM noised
ORDER BY nation, segment
"""


def dp_release_sql(dialect: str) -> str:
    return _dp_counts_sql(dialect, audit=False)


def dp_release_audit_sql(dialect: str) -> str:
    return _dp_counts_sql(dialect, audit=True)


register(
    "dp_release_counts",
    oracle=dp_release_sql(DUCKDB),
    doc=f"Laplace-mechanism (eps={DP_EPSILON}) count release, RELEASED "
    "CELLS ONLY: (nation, segment, dp_count, epsilon) — no true counts or "
    "draws in the output. DEMO mechanism, not actually private: the noise "
    "is derived from the public group key (deterministic md5 inverse-CDF) "
    "so the parity gate checks the arithmetic; production keys the hash "
    "with a secret per-release salt",
)(sql_runner(dp_release_sql, ("customer",)))


def dp_release_counts_salted(
    spark: SparkSession, sf_dir: str, salt: str | None = None
) -> DataFrame:
    """PRODUCTION entry for the DP count release: same release shape as
    the registered ``dp_release_counts`` but the Laplace draw is keyed by
    a SECRET per-release salt (argument, or $SPARK_GRAFT_DP_SALT), so the
    noise is no longer invertible from the public group key.  Refuses to
    run without a salt — the demo mechanism must be asked for by its
    demo name, never reached by forgetting a config.  Not in the parity
    registry by design: a salt committed to the repo would be public,
    which is exactly the flaw this path closes."""
    import os

    salt = salt if salt is not None else os.environ.get("SPARK_GRAFT_DP_SALT", "")
    if not salt:
        raise ValueError(
            "dp_release_counts_salted requires a secret salt (arg or "
            "$SPARK_GRAFT_DP_SALT); for the oracle-checkable demo noise "
            "use dp_release_counts explicitly"
        )
    register_views(spark, sf_dir, ("customer",))
    return spark.sql(_dp_counts_sql(SPARK, audit=False, salt=salt))


register(
    "dp_release_audit",
    oracle=dp_release_audit_sql(DUCKDB),
    doc="privacy-review companion to dp_release_counts: the same release "
    "plus the audit columns a reviewer reads (true count, noise draw, "
    "mean |noise| vs the analytic 1/eps) — never leaves the review "
    "boundary. Same DEMO-determinism caveat: public-key md5 noise, "
    "invertible by construction, oracle-checkable by design",
)(sql_runner(dp_release_audit_sql, ("customer",)))


# --- DP median release (exponential mechanism) -------------------------------

DP_MED_EPSILON = 1.0


def dp_median_sql(dialect: str) -> str:
    """Differentially-private median account balance per market segment
    via the EXPONENTIAL mechanism (McSherry & Talwar, FOCS 2007) — the
    second canonical DP primitive beside ``dp_release_counts``' Laplace
    noise: selection queries (median, mode, argmax) cannot be released by
    adding noise to the value; the mechanism instead samples a candidate
    c with probability proportional to exp(eps * u(c) / 2), where the
    median utility u(c) = -| #below(c) - n/2 | has sensitivity 1.

    Determinism: one md5-derived uniform per group drives inverse-CDF
    sampling over the candidate distribution (same construction as the
    Laplace release).  Weights round to DECIMAL(28,12) BEFORE the
    cumulative sum, so the running total is aggregation-order-exact in
    both engines (a raw DOUBLE cumsum could differ by summation order);
    far-from-median candidates underflow to weight 0 harmlessly.

    Candidates are the group's distinct balances — bounded by the value
    domain, not the row count; a production release over an unbounded
    numeric domain first coarsens candidates to a fixed grid (the same
    knob as the PSI bins).  Output: released dp_median beside the exact
    median, n, and the group's candidate count — the utility audit.
    """
    u_draw = (f"(({hex_to_int(dialect, 'substr(md5(segment), 1, 8)')})"
              " + 0.5) / 4294967296.0")
    return f"""
WITH vals AS (
  SELECT c_mktsegment AS segment,
         CAST(c_acctbal AS DECIMAL(18,2)) AS v
  FROM customer
),
grp AS (
  SELECT segment, CAST(COUNT(*) AS BIGINT) AS n FROM vals GROUP BY segment
),
cand AS (
  SELECT segment, v, CAST(COUNT(*) AS BIGINT) AS c FROM vals
  GROUP BY segment, v
),
ranked AS (
  SELECT segment, v, c,
         SUM(c) OVER (PARTITION BY segment ORDER BY v) - c AS n_below
  FROM cand
),
weighted AS (
  SELECT r.segment, r.v, g.n,
         CAST(ROUND(EXP({DP_MED_EPSILON} *
                        -ABS(CAST(r.n_below AS DOUBLE) - g.n / 2.0) / 2.0),
                    12) AS DECIMAL(28,12)) AS w
  FROM ranked r JOIN grp g ON r.segment = g.segment
),
cum AS (
  SELECT segment, v, n,
         SUM(w) OVER (PARTITION BY segment ORDER BY v) AS cw,
         SUM(w) OVER (PARTITION BY segment) AS tw
  FROM weighted
),
pick AS (
  SELECT segment, MIN(v) AS dp_median
  FROM cum
  WHERE tw > 0 AND CAST(cw AS DOUBLE) / CAST(tw AS DOUBLE) >= {u_draw}
  GROUP BY segment
),
exact_med AS (
  SELECT segment, MIN(v) AS true_median
  FROM (
    SELECT segment, v,
           SUM(c) OVER (PARTITION BY segment ORDER BY v) AS cc,
           SUM(c) OVER (PARTITION BY segment) AS nn
    FROM cand
  ) h
  WHERE cc >= CEIL(nn / 2.0)
  GROUP BY segment
)
SELECT g.segment,
       CAST(g.n AS BIGINT) AS n,
       CAST(e.true_median AS DOUBLE) AS true_median,
       CAST(p.dp_median AS DOUBLE) AS dp_median,
       {DP_MED_EPSILON} AS epsilon,
       ROUND(ABS(CAST(p.dp_median AS DOUBLE) - CAST(e.true_median AS DOUBLE)),
             2) AS abs_err
FROM grp g
JOIN pick p ON g.segment = p.segment
JOIN exact_med e ON g.segment = e.segment
ORDER BY g.segment
"""


register(
    "dp_release_median",
    oracle=dp_median_sql(DUCKDB),
    doc=f"epsilon-DP (eps={DP_MED_EPSILON}) median balance per segment via "
    "the EXPONENTIAL mechanism (McSherry-Talwar 2007) — selection queries "
    "need candidate sampling, not value noise; deterministic md5 draw, "
    "decimal-exact cumulative weights; released beside the exact median",
)(sql_runner(dp_median_sql, ("customer",)))
