"""Diversity-driven data selection: greedy k-center (Gonzalez 1985) over
the embeddings table — the coreset / active-learning selection primitive
(Sener & Savarese, "Active Learning for CNNs: A Core-Set Approach", ICLR
2018 use exactly this farthest-first traversal).

``kcenter_select`` picks ``KC_K`` centers: seed = lowest vec_id, then
repeatedly the point FARTHEST from its nearest selected center.  The
output row per selection is (sel_order, vec_id, radius_sq) where radius_sq
is the k-center objective — max over points of the squared distance to the
nearest center — AFTER that selection, so the monotone-decreasing radius
column doubles as the coverage curve.

Integer-exact determinism (the kmeans convention, clustering.py): float
components quantize ONCE to integer micro-units, squared L2 distances are
BIGINT sums over the 64 dims, the argmax breaks ties on vec_id — no float
enters any aggregation or comparison, so the whole greedy trajectory is
bit-identical across engines and the parity gate checks an ITERATIVE
selection algorithm exactly.

Scale shape (100 TB): each round joins the melt relation against ONE
selected point's 64 dims (metadata-sized → broadcast; partial BIGINT sums
combine map-side), then LEAST-folds into the running nearest-center
distance and takes one global TakeOrdered(1) argmax — k rounds = k linear
passes, the distributed form of farthest-first traversal (2-approximation
to the optimal k-center cover).  Spark-side the quantized melt is
materialized ONCE (localCheckpoint + view, the pagerank convention) —
Catalyst inlines a CTE at every reference site, and the un-materialized
chain re-derived the parquet scan 200+ times.  The DuckDB oracle stays
the single-statement chain.  At huge N production seeds from a uniform
sample first (the standard sampled-Gonzalez refinement) — the greedy
recurrence is identical.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, element_at, explode_seq
from serene_spark.registry import register

KC_K = 5
DIM = 64
SCALE = 1_000_000  # micro-units (the clustering.py quantization)


def _dist_rel(name: str, sel: str) -> str:
    """Squared L2 from every point to the single point selected in ``sel``."""
    return f"""
{name} AS (
  SELECT p.vec_id, SUM((p.xq - c.xq) * (p.xq - c.xq)) AS dist
  FROM pm p
  JOIN (SELECT d, xq FROM pm WHERE vec_id IN (SELECT vec_id FROM {sel})) c
    ON p.d = c.d
  GROUP BY p.vec_id
)"""


def pm_prologue_sql(dialect: str) -> str:
    """The quantized-melt CTE body (shared with the Spark-side
    materialization — see ``_kcenter_bases``)."""
    x = element_at(dialect, "embedding", "i")
    return f"""pm AS (
  SELECT vec_id, i AS d,
         CAST(FLOOR(CAST({x} AS DOUBLE) * {SCALE}) AS BIGINT) AS xq
  FROM (
    SELECT vec_id, embedding, {explode_seq(dialect, 1, str(DIM))} AS i
    FROM embeddings
  ) e
)"""


def kcenter_tail_sql(dialect: str) -> str:
    """Everything after ``pm`` — the greedy selection chain.  Run by Spark
    against the MATERIALIZED pm view: Catalyst inlines a CTE at every
    reference site, and the selection chain references pm O(k) times (the
    measured inlined plan re-derived the parquet scan 200+ times)."""
    ctes = [
        "sel1 AS (\n  SELECT MIN(vec_id) AS vec_id FROM pm\n)",
        _dist_rel("d1", "sel1"),
    ]
    for i in range(2, KC_K + 1):
        ctes.append(
            f"sel{i} AS (\n  SELECT vec_id FROM d{i - 1} "
            f"ORDER BY dist DESC, vec_id LIMIT 1\n)"
        )
        ctes.append(_dist_rel(f"nd{i}", f"sel{i}"))
        ctes.append(
            f"d{i} AS (\n  SELECT a.vec_id, LEAST(a.dist, b.dist) AS dist\n"
            f"  FROM d{i - 1} a JOIN nd{i} b ON a.vec_id = b.vec_id\n)"
        )
    selects = [
        f"SELECT {i} AS sel_order, (SELECT vec_id FROM sel{i}) AS vec_id,\n"
        f"       (SELECT MAX(dist) FROM d{i}) AS radius_sq"
        for i in range(1, KC_K + 1)
    ]
    return f"""
WITH {",".join(ctes)}
SELECT CAST(sel_order AS BIGINT) AS sel_order,
       CAST(vec_id AS BIGINT) AS vec_id,
       CAST(radius_sq AS BIGINT) AS radius_sq
FROM ({" UNION ALL ".join(selects)}) u
"""


def _kcenter_bases(dialect: str) -> list[tuple[str, str]]:
    return [("pm", pm_prologue_sql(dialect))]


def kcenter_sql(dialect: str) -> str:
    """Full single-statement form (the DuckDB oracle)."""
    return compose_with(_kcenter_bases(dialect), kcenter_tail_sql(dialect))


register(
    "kcenter_select",
    oracle=kcenter_sql(DUCKDB),
    doc=f"greedy k-center (farthest-first) selection of {KC_K} diverse "
    "exemplars over embeddings with the monotone coverage-radius curve; "
    "integer-exact, so the iterative greedy trajectory is oracle-checked "
    "bit-for-bit",
)(sql_runner(kcenter_tail_sql, ("embeddings",), stages=cte_stages(_kcenter_bases)))
