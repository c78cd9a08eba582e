"""Markov-chain (removal-effect) attribution — the data-driven model that
completes the attribution family (last-touch `events_attribution`, linear,
time-decay are positional heuristics; this one is causal-ish: a channel's
credit is how much the corpus-wide conversion probability DROPS when the
channel is removed from the journey graph; Anderl et al., "Mapping the
customer journey", IJRM 2016).

Construction, all engine-shared SQL:

1. Journeys: per user, the time-ordered event-type path truncated at the
   FIRST purchase (the conversion absorber); users who never purchase
   absorb into null.  One user-keyed LEAD window — the only data-scale
   work, identical shape to the sessionizer.
2. The journey chain: transition counts (start → first type, type → next
   type, type → conv on purchase, last type → null) reduce to a
   states² relation; probabilities are 9-dp-quantized decimals.
3. Absorption: P(conv | state) solved by ``N_ABS_ITER`` unrolled value
   iterations p(a) ← Σ_b P(a,b)·v(b) with v(conv)=1, v(null)=0 — the
   pagerank/markov_stationary numeric convention (every product re-
   quantized to 9 dp before the exact decimal SUM), so the whole
   trajectory is oracle-checked bit-for-bit.  Geometric convergence: the
   per-step residual shrinks by the non-absorbing mass, and the test pins
   the iterate against numpy's exact linear-system solution.
4. Scenarios: the base chain plus one chain per channel with that
   channel's state removed (all inbound edges redirect to null) — a
   scenario × transition cross of two TINY relations.  removal_effect =
   1 − P_removed(conv)/P_base(conv); shares normalize over channels.

Scale: after the one LEAD pass everything is states²·scenarios ≈
constant.  At 100 TB this is exactly the production shape — the journey
reduce is a sessionization-cost pass, the chain math is free.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_us, mat
from serene_spark.registry import register

N_ABS_ITER = 40
CONV = "__conv"
NULL = "__null"
START = "__start"


def chain_bases(dialect: str) -> list[tuple[str, str]]:
    """The data-scale half: journeys → transition counts (states²)."""
    us = epoch_us(dialect, "ts")
    m = mat(dialect)
    counts = f"""fp AS (
  SELECT user_id, MIN({us}) AS fp_us
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
walk AS (
  SELECT e.user_id, e.event_type,
         ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY {us}, e.event_id) AS pos,
         LEAD(e.event_type) OVER (PARTITION BY e.user_id ORDER BY {us}, e.event_id)
           AS next_type,
         CASE WHEN f.user_id IS NULL THEN 0 ELSE 1 END AS converts
  FROM events e LEFT JOIN fp f ON e.user_id = f.user_id
  WHERE f.user_id IS NULL OR {us} <= f.fp_us
),
steps AS (
  -- start edge per user + every observed step; purchase absorbs into conv,
  -- end-of-path without purchase absorbs into null.  Transitions FROM the
  -- purchase event do not exist (the walk is truncated at it).
  SELECT '{START}' AS src,
         CASE WHEN event_type = 'purchase' THEN '{CONV}' ELSE event_type END AS dst
  FROM walk WHERE pos = 1
  UNION ALL
  SELECT event_type AS src,
         CASE WHEN next_type = 'purchase' THEN '{CONV}'
              WHEN next_type IS NULL THEN '{NULL}'
              ELSE next_type END AS dst
  FROM walk
  WHERE event_type <> 'purchase'
),
counts AS {m}(
  SELECT src, dst, COUNT(*) AS n FROM steps GROUP BY src, dst
)"""
    return [("counts", counts)]


ITER_CHUNK = 10


def _iter_ctes(start: int, end: int, mat_last: str = "") -> str:
    """Value-iteration chain over (scenario, state), levels start..end.
    ``mat_last`` (DuckDB dialect) materializes the segment terminal —
    without it DuckDB's optimizer went super-linear on the inlined
    40-deep join/agg nest (hung >5min; sub-second with the hints)."""
    out = []
    for i in range(start, end + 1):
        out.append(f"""{"" if i == start else ","}
v{i} AS {mat_last if i == end else ""}(
  SELECT t.scenario, t.src AS state,
         SUM(CAST(ROUND(CAST(t.prob AS DOUBLE)
                        * CASE WHEN t.dst = '{CONV}' THEN 1.0
                               WHEN t.dst = '{NULL}' THEN 0.0
                               ELSE COALESCE(p.v, 0) END, 9)
                  AS DECIMAL(18,9))) AS v
  FROM strans t
  LEFT JOIN v{i - 1} p ON p.scenario = t.scenario AND p.state = t.dst
  WHERE t.src <> '{START}'
  GROUP BY t.scenario, t.src
)""")
    return "".join(out)


def scenario_bases(dialect: str) -> list[tuple[str, str]]:
    """The scenario-expanded chain as a second materialized base: every
    value-iteration level references strans, and un-materialized each
    level re-inlined the whole scenario x probability chain — plan depth
    grew with iterations and planning time exploded (121s measured; 5s
    materialized)."""
    m = mat(dialect)
    channels = f"""channels AS {m}(
  SELECT DISTINCT src AS ch FROM counts WHERE src <> '{START}'
)"""
    strans = f"""probs AS (
  SELECT src, dst,
         CAST(ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY src), 9)
              AS DECIMAL(18,9)) AS prob
  FROM counts
),
scenarios AS (
  SELECT 'base' AS scenario, CAST(NULL AS STRING) AS removed
  UNION ALL
  SELECT ch AS scenario, ch AS removed FROM channels
),
strans AS {m}(
  -- per-scenario chain: edges INTO the removed channel redirect to null,
  -- rows FROM it drop (unreachable)
  SELECT s.scenario, p.src,
         CASE WHEN s.removed IS NOT NULL AND p.dst = s.removed
              THEN '{NULL}' ELSE p.dst END AS dst,
         p.prob
  FROM scenarios s JOIN probs p
    ON s.removed IS NULL OR p.src <> s.removed
)"""
    return [("channels", channels), ("strans", strans)]


def absorption_bases(dialect: str) -> list[tuple[str, str]]:
    """Materialized value-iteration segments + the absorption readout.

    Two separate plan explosions forced this shape (both measured at
    sf0.01): (a) the tail reads ``p_start`` from five places, and
    un-materialized Catalyst re-inlined the whole iteration chain at
    every reference site (~60 broadcast-join stages, 101s); (b) one
    monolithic chain of all ``N_ABS_ITER`` levels planned/codegenned
    super-linearly (12 levels ≈ 5s warm, 40 levels ≈ 23s).  Chunking
    the chain into ``ITER_CHUNK``-level materialized segments keeps
    planning depth constant — each segment is 10 tiny broadcast joins
    over the checkpointed ``strans`` view and one scenarios-x-states
    checkpoint — so iteration count scales linearly (40 levels ≈ 7s)."""
    m = mat(dialect)
    out: list[tuple[str, str]] = []
    lo = 1
    while lo <= N_ABS_ITER:
        hi = min(lo + ITER_CHUNK - 1, N_ABS_ITER)
        head = (
            f"""scen_ids AS (
  SELECT DISTINCT scenario FROM strans
),
v0 AS (
  SELECT s.scenario, c.ch AS state, CAST(0 AS DECIMAL(18,9)) AS v
  FROM scen_ids s CROSS JOIN channels c
),"""
            if lo == 1
            else ""
        )
        out.append((f"v{hi}", head + _iter_ctes(lo, hi, mat_last=m)))
        lo = hi + 1
    p_start = f"""p_start AS {m}(
  SELECT t.scenario,
         SUM(CAST(ROUND(CAST(t.prob AS DOUBLE)
                        * CASE WHEN t.dst = '{CONV}' THEN 1.0
                               WHEN t.dst = '{NULL}' THEN 0.0
                               ELSE COALESCE(p.v, 0) END, 9)
                  AS DECIMAL(18,9))) AS p_conv
  FROM strans t
  LEFT JOIN v{N_ABS_ITER} p ON p.scenario = t.scenario AND p.state = t.dst
  WHERE t.src = '{START}'
  GROUP BY t.scenario
)"""
    out.append(("p_start", p_start))
    return out


def absorption_fold_body() -> str:
    """Spark-only physical form of :func:`absorption_bases`: the whole
    ``N_ABS_ITER``-level value iteration as ONE nested array fold.

    The chunked join chain exists because Catalyst plans/codegens the
    40-deep join nest super-linearly (see absorption_bases docstring) —
    but even chunked it costs 4 checkpointed segments of 10 broadcast
    joins each over a ~scenarios x states² relation that is ~125 rows
    (measured ~7 s of pure scheduling at sf0.01).  Here each scenario's
    transitions are collected into an array once and the iteration
    p(a) <- sum_b P(a,b)·v(b) runs as ``aggregate(sequence(1, N), v-map,
    step)`` — the loop body is ONE expression evaluated N times, so plan
    depth is constant in the iteration count.

    Value-identical to the join form: the same ROUND(double-product, 9)
    per term, terms accumulated in exact DECIMAL (re-cast to the join
    form's DECIMAL(28,9) sum type each step — decimal addition is exact,
    so fold order vs SUM order cannot differ); a state with no outgoing
    transitions folds over an empty array to 0, exactly the join form's
    missing-row -> COALESCE(_, 0); the p_start spine is the scenarios
    with start edges, exactly its GROUP BY.  The DuckDB oracle keeps the
    chunked-CTE statement; parity and the numpy linear-system pin hold.
    """
    case = (
        f"CASE WHEN t.dst = '{CONV}' THEN 1.0 "
        f"WHEN t.dst = '{NULL}' THEN 0.0 "
        f"ELSE COALESCE(element_at(vm, t.dst), 0) END"
    )
    term = (
        f"CAST(a + CAST(ROUND(CAST(t.prob AS DOUBLE) * {case}, 9) "
        f"AS DECIMAL(18,9)) AS DECIMAL(28,9))"
    )
    start_case = (
        f"CASE WHEN t.dst = '{CONV}' THEN 1.0 "
        f"WHEN t.dst = '{NULL}' THEN 0.0 "
        f"ELSE COALESCE(element_at(f.vm, t.dst), 0) END"
    )
    start_term = (
        f"CAST(a + CAST(ROUND(CAST(t.prob AS DOUBLE) * {start_case}, 9) "
        f"AS DECIMAL(18,9)) AS DECIMAL(28,9)) "
    )
    trans_t = "ARRAY<STRUCT<src: STRING, dst: STRING, prob: DECIMAL(18,9)>>"
    return f"""by_scen AS (
  SELECT scenario, collect_list(struct(src, dst, prob)) AS trans
  FROM strans WHERE src <> '{START}'
  GROUP BY scenario
),
chs_rel AS (SELECT collect_list(ch) AS chs FROM channels),
start_t AS (
  SELECT scenario, collect_list(struct(dst, prob)) AS stw
  FROM strans WHERE src = '{START}'
  GROUP BY scenario
),
folded AS (
  SELECT st.scenario, st.stw,
         aggregate(
           sequence(1, {N_ABS_ITER}),
           map_from_entries(transform(chs, c -> struct(c, CAST(0 AS DECIMAL(28,9))))),
           (vm, it) -> map_from_entries(transform(chs, s -> struct(s,
             aggregate(filter(COALESCE(b.trans, CAST(array() AS {trans_t})),
                              tr -> tr.src = s),
                       CAST(0 AS DECIMAL(28,9)),
                       (a, t) -> {term}))))
         ) AS vm
  FROM start_t st LEFT JOIN by_scen b ON st.scenario = b.scenario
  CROSS JOIN chs_rel
),
p_start AS (
  SELECT f.scenario,
         aggregate(f.stw, CAST(0 AS DECIMAL(28,9)),
                   (a, t) -> {start_term}) AS p_conv
  FROM folded f
)"""


def markov_attribution_tail_sql(dialect: str) -> str:
    return f"""
WITH base_p AS (
  SELECT p_conv FROM p_start WHERE scenario = 'base'
),
effects AS (
  SELECT scenario AS channel,
         CAST(ROUND(1 - CAST(p_conv AS DOUBLE)
                        / CAST((SELECT p_conv FROM base_p) AS DOUBLE), 9)
              AS DECIMAL(18,9)) AS removal_effect
  FROM p_start WHERE scenario <> 'base'
)
SELECT channel,
       ROUND(CAST((SELECT p_conv FROM base_p) AS DOUBLE), 6) AS base_p_conv,
       ROUND(CAST(removal_effect AS DOUBLE), 6) AS removal_effect,
       ROUND(CAST(removal_effect AS DOUBLE)
             / CAST((SELECT SUM(GREATEST(removal_effect, 0)) FROM effects)
                    AS DOUBLE), 6) AS attribution_share
FROM effects
ORDER BY channel
"""


def _all_bases(dialect: str) -> list[tuple[str, str]]:
    return (
        chain_bases(dialect)
        + scenario_bases(dialect)
        + absorption_bases(dialect)
    )


def markov_attribution_sql(dialect: str) -> str:
    return compose_with(_all_bases(dialect), markov_attribution_tail_sql(dialect))


register(
    "attribution_markov_removal",
    oracle=markov_attribution_sql(DUCKDB),
    doc=f"Markov removal-effect attribution: per-channel conversion-"
    f"probability drop when the channel is removed from the journey chain, "
    f"{N_ABS_ITER} unrolled decimal-exact absorption iterations; one LEAD "
    "pass, then states-squared chain math",
)(sql_runner(
    lambda d: "WITH " + absorption_fold_body() + ",\n"
    + markov_attribution_tail_sql(d).lstrip().removeprefix("WITH "),
    ("events",), stages=cte_stages(lambda d: chain_bases(d) + scenario_bases(d))))
