"""Information-theoretic column-dependence audit: pairwise mutual
information between low-cardinality categorical columns.

``mutual_info_orders`` — MI, entropies and normalized MI for every pair of
the orders table's categorical axes (order status, order priority, order
year).  The feature-selection / leakage-screening readout: NMI ≈ 1 flags a
column pair that encodes the same signal (drop one before training), NMI ≈ 0
certifies independence (the assumption behind naive-Bayes-style models and
the CBO's selectivity multiplication — see ``cbo_estimate_audit``).

Scale shape (100 TB): ONE fact-table scan builds the full contingency cube
over all three axes (cardinality = product of the distinct counts, tiny by
construction for categorical axes); every pairwise joint and marginal then
derives from THAT cube — adding a fourth axis or another pair never rescans
the fact table.  This is the same melt-once/aggregate-small discipline as
the profiling cascade (profile_scalar.py).

Parity: MI terms are irrational doubles, so each term is quantized to 12 dp
and summed as DECIMAL(28,12) — partial-aggregation order cannot move the
sum (the drift_psi convention); log2 goes through the dialect shim.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, log2
from serene_spark.registry import register

AXES = ("status", "priority", "oyear")
PAIRS = (("status", "priority"), ("status", "oyear"), ("priority", "oyear"))


def _entropy_rel(dialect: str, axis: str) -> str:
    """H(X) in bits from the cube's marginal for ``axis``: -sum p log2 p,
    12-dp-quantized decimal term sum."""
    term = f"-(CAST(cx AS DOUBLE) / n) * {log2(dialect, 'CAST(cx AS DOUBLE) / n')}"
    return f"""
h_{axis} AS (
  SELECT CAST(SUM(CAST(ROUND({term}, 12) AS DECIMAL(28,12))) AS DOUBLE) AS h
  FROM (SELECT {axis} AS x, SUM(c) AS cx, SUM(SUM(c)) OVER () AS n
        FROM cube0 GROUP BY {axis}) m
)"""


def _mi_rel(dialect: str, a: str, b: str) -> str:
    """MI(a;b) in bits from the cube: sum p_xy log2(p_xy/(p_x p_y))."""
    ratio = f"CAST(cxy AS DOUBLE) * n / (CAST(cx AS DOUBLE) * cy)"
    term = f"(CAST(cxy AS DOUBLE) / n) * {log2(dialect, ratio)}"
    return f"""
mi_{a}_{b} AS (
  SELECT CAST(SUM(CAST(ROUND({term}, 12) AS DECIMAL(28,12))) AS DOUBLE) AS mi
  FROM (
    SELECT j.cxy, ma.cx, mb.cy, (SELECT SUM(c) FROM cube0) AS n
    FROM (SELECT {a} AS x, {b} AS y, SUM(c) AS cxy FROM cube0 GROUP BY {a}, {b}) j
    JOIN (SELECT {a} AS x, SUM(c) AS cx FROM cube0 GROUP BY {a}) ma ON j.x = ma.x
    JOIN (SELECT {b} AS y, SUM(c) AS cy FROM cube0 GROUP BY {b}) mb ON j.y = mb.y
  ) t
)"""


def cube_prologue_sql(dialect: str) -> str:
    """The contingency-cube CTE bodies (the ONE fact-table scan)."""
    return """base AS (
  SELECT o_orderstatus AS status, o_orderpriority AS priority,
         CAST(YEAR(o_orderdate) AS BIGINT) AS oyear
  FROM orders
),
cube0 AS (
  SELECT status, priority, oyear, COUNT(*) AS c
  FROM base GROUP BY status, priority, oyear
)"""


def mutual_info_tail_sql(dialect: str) -> str:
    """Everything after ``cube0``.  Run by Spark against the MATERIALIZED
    cube view: the entropy/MI relations reference cube0 ~12 times and
    Catalyst inlines each reference back to a parquet scan (36 measured) —
    materializing the tiny cube keeps the fact table at ONE scan."""
    rels = [_entropy_rel(dialect, a) for a in AXES]
    rels += [_mi_rel(dialect, a, b) for a, b in PAIRS]
    selects = []
    for a, b in PAIRS:
        selects.append(f"""
SELECT '{a}|{b}' AS pair,
       ROUND((SELECT mi FROM mi_{a}_{b}), 6) AS mi_bits,
       ROUND((SELECT h FROM h_{a}), 6) AS h_x,
       ROUND((SELECT h FROM h_{b}), 6) AS h_y,
       ROUND((SELECT mi FROM mi_{a}_{b})
             / LEAST((SELECT h FROM h_{a}), (SELECT h FROM h_{b})), 6) AS nmi""")
    return f"""
WITH {",".join(rels)}
{" UNION ALL ".join(selects)}
"""


def _mutual_info_bases(dialect: str) -> list[tuple[str, str]]:
    return [("cube0", cube_prologue_sql(dialect))]


def mutual_info_sql(dialect: str) -> str:
    """Full single-statement form (the DuckDB oracle)."""
    return compose_with(_mutual_info_bases(dialect), mutual_info_tail_sql(dialect))


register(
    "mutual_info_orders",
    oracle=mutual_info_sql(DUCKDB),
    doc="pairwise mutual information + normalized MI between the orders "
    "categorical axes, all pairs derived from ONE contingency cube scan; "
    "12-dp decimal-exact term sums",
)(sql_runner(mutual_info_tail_sql, ("orders",), stages=cte_stages(_mutual_info_bases)))
