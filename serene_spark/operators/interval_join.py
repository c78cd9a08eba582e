"""Interval-overlap join — the temporal-join modality between the engine's
as-of joins (operators/prep.py forward/backward with tolerance) and its
sweep-line interval counting (order_backlog_daily): join two INTERVAL
relations on overlap, at scale, without a theta-join.

``interval_overlap_promo``: each order's activity interval
[orderdate, last lineitem shipdate] is joined against 12 generated
14-day promo windows (spaced 30 days from the corpus's first order date);
output is per-window overlapping-order count + revenue.

Scale path (the Spark side): both interval sets are exploded into the
30-day CHUNKS they touch (integer epoch-day division — an interval of
length L touches <= L/30 + 2 chunks), equi-joined on chunk id, DISTINCT'd
(an overlapping pair can meet in several chunks), then exact-filtered on
``a.start <= b.end AND b.start <= a.end``.  Candidate work is
Σ per-chunk(|orders| × |windows|) — never |orders| × |windows| total, and
the join is a hash equi-join Catalyst can plan.  The ORACLE is the
brute-force theta-join, so parity proves the chunked path finds exactly
the overlap set.  This is the standard interval-bucketing trick (what
Spark's own range-join hints and Sedona's time joins do underneath).

At 100 TB: chunk granularity tracks interval length (30 days ≈ the median
order-fulfilment span), the chunk relation shuffles on chunk id with
bounded per-chunk fan-out, and the window side is broadcast-size.  The
one deliberate cost is the DISTINCT before aggregation — the price of
multi-chunk intervals, bounded by chunks-per-interval.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_s, explode_seq, idiv, mat
from serene_spark.registry import register

N_WINDOWS = 12
WINDOW_SPACING_D = 30
WINDOW_LEN_D = 14  # inclusive end = start + 14
CHUNK_D = 30


def _bases(dialect: str) -> list[tuple[str, str]]:
    od = idiv(dialect, f"({epoch_s(dialect, 'o_orderdate')})", 86400)
    sd = idiv(dialect, f"({epoch_s(dialect, 'l_shipdate')})", 86400)
    m = mat(dialect)
    return [
        ("bounds", f"bounds AS {m}(SELECT MIN({od}) AS d0 FROM orders)"),
        ("iv", f"""iv AS {m}(
  SELECT o.o_orderkey, MAX({od}) AS s, MAX({sd}) AS e,
         MAX(CAST(o.o_totalprice AS DECIMAL(18,2))) AS price
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey
)"""),
        ("windows", f"""windows AS {m}(
  SELECT w, d0 + w * {WINDOW_SPACING_D} AS ws,
         d0 + w * {WINDOW_SPACING_D} + {WINDOW_LEN_D} AS we
  FROM (SELECT {explode_seq(dialect, 0, N_WINDOWS - 1)} AS w, d0 FROM bounds) x
)"""),
    ]


_TAIL_OUT = """SELECT CAST(w AS BIGINT) AS window_id,
       CAST(ws AS BIGINT) AS win_start_day,
       CAST(we AS BIGINT) AS win_end_day,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(price) AS DOUBLE), 2) AS revenue
FROM cand
WHERE s <= we AND ws <= e
GROUP BY w, ws, we
ORDER BY window_id"""


def _spark_tail(dialect: str) -> str:
    c_lo = idiv(dialect, "(s - d0)", str(CHUNK_D))
    c_hi = idiv(dialect, "(e - d0)", str(CHUNK_D))
    w_lo = idiv(dialect, "(ws - d0)", str(CHUNK_D))
    w_hi = idiv(dialect, "(we - d0)", str(CHUNK_D))
    return f"""
WITH ch AS (
  SELECT o_orderkey, s, e, price,
         {explode_seq(dialect, c_lo, c_hi)} AS chunk
  FROM iv JOIN bounds ON 1 = 1
),
wch AS (
  SELECT w, ws, we, {explode_seq(dialect, w_lo, w_hi)} AS chunk
  FROM windows JOIN bounds ON 1 = 1
),
cand AS (
  SELECT DISTINCT c.o_orderkey, c.s, c.e, c.price, x.w, x.ws, x.we
  FROM ch c JOIN wch x ON c.chunk = x.chunk
)
{_TAIL_OUT}
"""


def _oracle_tail() -> str:
    return f"""
WITH cand AS (
  SELECT i.o_orderkey, i.s, i.e, i.price, x.w, x.ws, x.we
  FROM iv i JOIN windows x ON i.s <= x.we AND x.ws <= i.e
)
{_TAIL_OUT}
"""


register(
    "interval_overlap_promo",
    oracle=compose_with(_bases(DUCKDB), _oracle_tail()),
    doc="Interval-overlap join of order activity intervals against 12 "
    "generated promo windows via 30-day chunk bucketing + equi-join + "
    "exact overlap filter; oracle is the brute-force theta-join, so "
    "parity proves the chunked candidate path is lossless",
)(sql_runner(_spark_tail, ("orders", "lineitem"), stages=cte_stages(_bases)))
