"""Rule-based multi-touch attribution — the position-based (U-shaped) and
time-decay credit models that sit beside the data-driven Markov
removal-effect operator (operators/attribution_markov.py).  All three share
ONE journey definition: a user's touches are their non-purchase events
strictly before their FIRST purchase (ordered by (ts, event_id), the
engine-wide deterministic event order).

* ``attribution_position_u`` — U-shaped credit: 1 touch → 100 %,
  2 touches → 50/50, otherwise first 40 %, last 40 %, middles split the
  remaining 20 % equally.  Credits are exact rationals quantized to 12 dp
  and DECIMAL-summed per channel, so partial-aggregation order cannot move
  a digit.
* ``attribution_time_decay`` — exponential decay with a 7-day half-life:
  w = 2^(−Δt/halflife) against the conversion instant, normalized per
  conversion, 12-dp-quantized, DECIMAL-summed per channel.

Scale: one events scan → user-keyed window (first-purchase cutoff + touch
ordinals) → per-channel agg.  The window partitions on user_id (bounded
per-user history), the agg keys on channel (constant cardinality) — the
same two-exchange shape as the Markov sibling; no journey is ever
materialized as an array.
"""

from __future__ import annotations

from serene_spark.catalog import compose_with, cte_stages, sql_runner
from serene_spark.functions.sqlgen import DUCKDB, epoch_us, explode_seq, mat
from serene_spark.registry import register

HALF_LIFE_DAYS = 7.0


def _touches_rel(dialect: str) -> str:
    """Converting users' pre-conversion touches with ordinals and k."""
    us = epoch_us(dialect, "ts")
    return f"""fp AS (
  SELECT user_id, MIN({us}) AS fp_us
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
pre AS (
  SELECT e.user_id, e.event_type AS channel, {us} AS us, e.event_id, f.fp_us
  FROM events e JOIN fp f ON e.user_id = f.user_id
  WHERE {us} < f.fp_us AND e.event_type <> 'purchase'
),
touches AS (
  SELECT user_id, channel, us, fp_us,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) AS pos,
         COUNT(*) OVER (PARTITION BY user_id) AS k
  FROM pre
)"""


def _position_sql(dialect: str) -> str:
    credit = """CASE
           WHEN k = 1 THEN 1.0
           WHEN k = 2 THEN 0.5
           WHEN pos = 1 OR pos = k THEN 0.4
           ELSE 0.2 / (k - 2)
         END"""
    return f"""
WITH {_touches_rel(dialect)},
credits AS (
  SELECT channel,
         CAST(ROUND({credit}, 12) AS DECIMAL(20,12)) AS credit
  FROM touches
)
SELECT channel,
       ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS credit,
       CAST(COUNT(*) AS BIGINT) AS touches
FROM credits
GROUP BY channel
ORDER BY channel
"""


def _decay_sql(dialect: str) -> str:
    half_us = HALF_LIFE_DAYS * 86400.0 * 1e6
    w = f"pow(2.0, -CAST(fp_us - us AS DOUBLE) / {half_us})"
    return f"""
WITH {_touches_rel(dialect)},
weighted AS (
  SELECT user_id, channel, {w} AS w,
         SUM({w}) OVER (PARTITION BY user_id) AS w_tot
  FROM touches
),
credits AS (
  SELECT channel,
         CAST(ROUND(w / w_tot, 12) AS DECIMAL(20,12)) AS credit
  FROM weighted
)
SELECT channel,
       ROUND(CAST(SUM(credit) AS DOUBLE), 6) AS credit,
       CAST(COUNT(*) AS BIGINT) AS touches
FROM credits
GROUP BY channel
ORDER BY channel
"""


register(
    "attribution_position_u",
    oracle=_position_sql(DUCKDB),
    doc="U-shaped (40/20/40) position-based multi-touch attribution over "
    "the engine-wide journey definition; exact-rational credits quantized "
    "to 12 dp and decimal-summed per channel",
)(sql_runner(_position_sql, ("events",)))

register(
    "attribution_time_decay",
    oracle=_decay_sql(DUCKDB),
    doc=f"Time-decay attribution (half-life {HALF_LIFE_DAYS} days) against "
    "the conversion instant, normalized per conversion, 12-dp-quantized "
    "decimal channel sums",
)(sql_runner(_decay_sql, ("events",)))


# --- exact Shapley attribution (4-channel coalition game) --------------------

# the game is hardcoded to these four channels end-to-end (sequence bounds,
# factorial weights, the S=15 efficiency probe)
_CH_BITS = (("click", 1), ("view", 2), ("error", 4), ("signup", 8))


def _shapley_bases(dialect: str) -> list[tuple[str, str]]:
    """The data-scale half (events -> 16-row v relation), MATERIALIZED:
    the tail references v four times (contribs v0/v1 + two efficiency
    scalar subqueries), and an inlined CTE would re-derive the events
    scan per reference on both engines."""
    m = mat(dialect)
    us = epoch_us(dialect, "ts")
    seq16 = explode_seq(dialect, 0, "15")
    bit_cases = " + ".join(
        f"{bit} * MAX(CASE WHEN event_type = '{ch}' THEN 1 ELSE 0 END)"
        for ch, bit in _CH_BITS
    )
    body = f"""fp AS (
  SELECT user_id, MIN({us}) AS fp_us
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
masks AS (
  SELECT e.user_id, {bit_cases} AS mask
  FROM events e JOIN fp f ON e.user_id = f.user_id
  WHERE {us} < f.fp_us AND e.event_type <> 'purchase'
  GROUP BY e.user_id
),
mask_hist AS (
  SELECT mask, COUNT(*) AS cnt FROM masks GROUP BY mask
),
coalitions AS (SELECT {seq16} AS S),
v AS {m}(
  -- v(S): conversions whose touch set is CONTAINED in S
  SELECT c.S, COALESCE(SUM(CASE WHEN (h.mask & c.S) = h.mask THEN h.cnt END), 0) AS val
  FROM coalitions c LEFT JOIN mask_hist h ON 1 = 1
  GROUP BY c.S
)"""
    return [("v", body)]


def _shapley_sql(dialect: str) -> str:
    """Exact Shapley-value attribution (Shapley 1953; the cooperative-game
    model marketing uses beside Markov removal effects): the characteristic
    function v(S) = number of conversions whose pre-conversion touch SET is
    contained in coalition S, evaluated for all 2^4 coalitions of the four
    non-purchase channels, then the exact Shapley sum
    φ_i = Σ_{S∌i} |S|!(n−1−|S|)!/n! · (v(S∪{i}) − v(S)).

    Everything is integer-exact until the constant factorial weights: the
    touch set is a 4-bit mask (one MAX per channel over the user's
    pre-conversion events), v is a containment join of the 16-row mask
    histogram against the 16-row coalition relation, and the efficiency
    axiom Σφ = v(full) − v(∅) is emitted as a residual instead of assumed.

    Scale: the data-scale half is the SAME one-scan user-keyed reduction
    every attribution operator uses; the game algebra runs on 16-row
    relations."""
    ch_rows = " UNION ALL ".join(
        f"SELECT '{ch}' AS channel, {bit} AS bit" for ch, bit in _CH_BITS
    )
    # |S|!(n-1-|S|)!/n! for n=4: sizes 0..3
    w = ("CASE bit_count(v0.S) WHEN 0 THEN CAST(0.25 AS DOUBLE)"
         " WHEN 1 THEN CAST(1 AS DOUBLE) / 12"
         " WHEN 2 THEN CAST(1 AS DOUBLE) / 12"
         " ELSE CAST(0.25 AS DOUBLE) END")  # decimal-literal division truncates at engine-specific scales
    return f"""
WITH channels AS ({ch_rows}),
contribs AS (
  SELECT ch.channel,
         CAST(ROUND(({w}) * (v1.val - v0.val), 12) AS DECIMAL(24,12)) AS term
  FROM channels ch
  JOIN v v0 ON (v0.S & ch.bit) = 0
  JOIN v v1 ON v1.S = v0.S + ch.bit
),
phi AS (
  SELECT channel, SUM(term) AS shapley FROM contribs GROUP BY channel
),
eff AS (
  SELECT (SELECT val FROM v WHERE S = 15) - (SELECT val FROM v WHERE S = 0)
           AS total_gain,
         SUM(shapley) AS phi_sum
  FROM phi
)
SELECT p.channel,
       ROUND(CAST(p.shapley AS DOUBLE), 6) AS shapley_conversions,
       ROUND(CAST(p.shapley AS DOUBLE)
             / CAST(e.total_gain AS DOUBLE), 6) AS shapley_share,
       CAST(e.total_gain AS BIGINT) AS total_conversions,
       -- efficiency axiom residual: zero up to the 12-dp term quantization
       ROUND(CAST(e.phi_sum AS DOUBLE) - CAST(e.total_gain AS DOUBLE), 6)
         AS efficiency_residual
FROM phi p JOIN eff e ON 1 = 1
ORDER BY p.channel
"""


register(
    "attribution_shapley",
    oracle=compose_with(_shapley_bases(DUCKDB), _shapley_sql(DUCKDB)),
    doc="Exact Shapley-value attribution over the 4-channel coalition game "
    "(v(S) = conversions with touch set contained in S): integer-exact "
    "16-coalition evaluation, factorial-weighted exact sum, efficiency "
    "axiom residual emitted",
)(sql_runner(_shapley_sql, ("events",), stages=cte_stages(_shapley_bases)))
