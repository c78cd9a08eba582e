"""Price-volume-mix decomposition and index numbers — the finance/BI
staples behind every "why did revenue move?" readout.

Both operators compare the LAST TWO months of lineitem shipments
(months derived in-query from the corpus's max shipdate — deterministic,
no parameters) at part granularity, with per-part unit price
p = Σ extendedprice / Σ quantity.

* ``revenue_bridge_mom`` — the waterfall: ΔRevenue split into
  price effect Σ(p₁−p₀)q₀, volume effect Σp₀(q₁−q₀), cross/mix effect
  Σ(p₁−p₀)(q₁−q₀) over parts sold in BOTH months, plus new-part revenue
  and lost-part revenue.  The additive identity
  ΔR = price + volume + cross + new − lost holds exactly up to the
  stated 6-dp quantization of per-part contributions, and the query EMITS
  its own residual instead of asserting zero — the measured-error
  convention.
* ``price_index_fisher`` — Laspeyres (base-weighted), Paasche
  (current-weighted) and Fisher (geometric mean) price indices over the
  common-part basket; L ≥ F ≥ P ordering whenever L ≥ P (Fisher's ideal
  index property) comes out of the data, not an assertion.

Scale: one lineitem scan filtered to two months (partition-prunable on a
date-partitioned table) → (part, month) keyed agg; the decomposition
runs on the part-cardinality relation.  Per-part effect terms are
6-dp-quantized and DECIMAL-summed.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, mat
from serene_spark.registry import register

_MI = ("(CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) * 12"
       " + CAST(EXTRACT(MONTH FROM l_shipdate) AS BIGINT))")


def _bases(dialect: str) -> list[tuple[str, str]]:
    m = mat(dialect)
    return [
        ("mm", f"""mm AS {m}(
  SELECT MAX({_MI}) AS m1 FROM lineitem
)"""),
        ("pm", f"""pm AS {m}(
  SELECT l_partkey,
         CASE WHEN {_MI} = (SELECT m1 FROM mm) THEN 1 ELSE 0 END AS period,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS v,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
  FROM lineitem
  WHERE {_MI} IN ((SELECT m1 FROM mm), (SELECT m1 - 1 FROM mm))
  GROUP BY l_partkey, CASE WHEN {_MI} = (SELECT m1 FROM mm) THEN 1 ELSE 0 END
)"""),
        ("joined", f"""joined AS {m}(
  SELECT COALESCE(a.l_partkey, b.l_partkey) AS part,
         a.v AS v0, a.q AS q0, b.v AS v1, b.q AS q1,
         CASE WHEN a.l_partkey IS NOT NULL AND b.l_partkey IS NOT NULL THEN 'common'
              WHEN b.l_partkey IS NOT NULL THEN 'new' ELSE 'lost' END AS status
  FROM (SELECT * FROM pm WHERE period = 0) a
  FULL OUTER JOIN (SELECT * FROM pm WHERE period = 1) b
    ON a.l_partkey = b.l_partkey
)"""),
    ]


_D6 = "DECIMAL(28,6)"


def _bridge_tail(dialect: str) -> str:
    p0 = "(CAST(v0 AS DOUBLE) / CAST(q0 AS DOUBLE))"
    p1 = "(CAST(v1 AS DOUBLE) / CAST(q1 AS DOUBLE))"
    return f"""
WITH eff AS (
  SELECT
    SUM(CASE WHEN status = 'common'
        THEN CAST(ROUND(({p1} - {p0}) * CAST(q0 AS DOUBLE), 6) AS {_D6})
        ELSE CAST(0 AS {_D6}) END) AS price_eff,
    SUM(CASE WHEN status = 'common'
        THEN CAST(ROUND({p0} * (CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE)), 6) AS {_D6})
        ELSE CAST(0 AS {_D6}) END) AS volume_eff,
    SUM(CASE WHEN status = 'common'
        THEN CAST(ROUND(({p1} - {p0})
                        * (CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE)), 6) AS {_D6})
        ELSE CAST(0 AS {_D6}) END) AS cross_eff,
    SUM(CASE WHEN status = 'new' THEN CAST(v1 AS {_D6})
        ELSE CAST(0 AS {_D6}) END) AS new_rev,
    SUM(CASE WHEN status = 'lost' THEN CAST(v0 AS {_D6})
        ELSE CAST(0 AS {_D6}) END) AS lost_rev,
    SUM(COALESCE(CAST(v1 AS {_D6}), CAST(0 AS {_D6}))) AS r1,
    SUM(COALESCE(CAST(v0 AS {_D6}), CAST(0 AS {_D6}))) AS r0
  FROM joined
)
SELECT ROUND(CAST(r0 AS DOUBLE), 2) AS revenue_prev,
       ROUND(CAST(r1 AS DOUBLE), 2) AS revenue_curr,
       ROUND(CAST(r1 - r0 AS DOUBLE), 2) AS delta_revenue,
       ROUND(CAST(price_eff AS DOUBLE), 2) AS price_effect,
       ROUND(CAST(volume_eff AS DOUBLE), 2) AS volume_effect,
       ROUND(CAST(cross_eff AS DOUBLE), 2) AS cross_effect,
       ROUND(CAST(new_rev AS DOUBLE), 2) AS new_part_revenue,
       ROUND(CAST(lost_rev AS DOUBLE), 2) AS lost_part_revenue,
       -- the additive identity's residual: zero up to quantization
       ROUND(CAST(r1 - r0 AS DOUBLE)
             - (CAST(price_eff AS DOUBLE) + CAST(volume_eff AS DOUBLE)
                + CAST(cross_eff AS DOUBLE) + CAST(new_rev AS DOUBLE)
                - CAST(lost_rev AS DOUBLE)), 2) AS identity_residual
FROM eff
"""


register(
    "revenue_bridge_mom",
    oracle=compose_with(_bases(DUCKDB), _bridge_tail(DUCKDB)),
    doc="Month-over-month revenue waterfall: price / volume / cross "
    "effects over common parts + new and lost part revenue, with the "
    "additive identity's residual emitted (zero up to the stated 6-dp "
    "quantization)",
)(sql_runner(_bridge_tail, ("lineitem",), stages=cte_stages(_bases)))


def _fisher_tail(dialect: str) -> str:
    p0 = "(CAST(v0 AS DOUBLE) / CAST(q0 AS DOUBLE))"
    p1 = "(CAST(v1 AS DOUBLE) / CAST(q1 AS DOUBLE))"
    return f"""
WITH basket AS (
  SELECT
    SUM(CAST(ROUND({p1} * CAST(q0 AS DOUBLE), 6) AS {_D6})) AS p1q0,
    SUM(CAST(ROUND({p0} * CAST(q0 AS DOUBLE), 6) AS {_D6})) AS p0q0,
    SUM(CAST(ROUND({p1} * CAST(q1 AS DOUBLE), 6) AS {_D6})) AS p1q1,
    SUM(CAST(ROUND({p0} * CAST(q1 AS DOUBLE), 6) AS {_D6})) AS p0q1,
    COUNT(*) AS n_common
  FROM joined WHERE status = 'common'
)
SELECT CAST(n_common AS BIGINT) AS n_common_parts,
       ROUND(CAST(p1q0 AS DOUBLE) / CAST(p0q0 AS DOUBLE), 6) AS laspeyres,
       ROUND(CAST(p1q1 AS DOUBLE) / CAST(p0q1 AS DOUBLE), 6) AS paasche,
       ROUND(sqrt((CAST(p1q0 AS DOUBLE) / CAST(p0q0 AS DOUBLE))
                  * (CAST(p1q1 AS DOUBLE) / CAST(p0q1 AS DOUBLE))), 6) AS fisher
FROM basket
"""


register(
    "price_index_fisher",
    oracle=compose_with(_bases(DUCKDB), _fisher_tail(DUCKDB)),
    doc="Laspeyres / Paasche / Fisher price indices over the common-part "
    "basket of the last two shipment months; 6-dp-quantized decimal "
    "basket sums",
)(sql_runner(_fisher_tail, ("lineitem",), stages=cte_stages(_bases)))
