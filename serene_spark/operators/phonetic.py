"""Phonetic keying — American Soundex in portable SQL, and a phonetic
blocking query over part-name nouns (the blocking-key family's phonetic
member, beside the exact/sorted-neighborhood keys in
operators/entity_resolution.py).

The Soundex pipeline is pure string algebra both engines execute
identically (no backslash regex, no engine builtins):

1. ``translate`` maps letters to code digits with vowels→'0' kept as
   SEPARATORS and h/w REMOVED (translate drops unmapped-from characters in
   both engines) — removal implements the "consonants separated by h/w
   code once" rule, the kept zeros implement "vowels separate duplicate
   codes".
2. Seven global regex replaces collapse runs of each digit (``00+``→``0``
   … ``66+``→``6``) — adjacent-duplicate removal without backreferences.
3. The first letter's own code is dropped (unless the word starts with
   h/w, which the translate already removed — dropping again would eat the
   second letter's code: 'wright' must key W623, not W230).
4. Zeros strip, first three digits pad to '000', prepend the kept first
   letter.

``phonetic_blocks_parts`` groups part-name head nouns by their Soundex
key: block sizes and distinct-noun counts are the blocking-quality stats
(a block holding >1 distinct noun is exactly a candidate pair a phonetic
matcher would surface).  Python-reference soundex pin in
tests/test_phonetic.py.

Scale: map-only key computation + one constant-cardinality keyed agg.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB, element_at, rr, split_re
from serene_spark.registry import register

# a..z minus h,w (dropped), aligned code digits
_FROM = "abcdefgijklmnopqrstuvxyzhw"
#      a b c d e f g i j k l m n o p q r s t u v x y z
_TO = "012301202245501262301202"
assert len(_FROM) - 2 == len(_TO)


def soundex_sql(dialect: str, expr: str) -> str:
    """American Soundex key of a single lowercase-able word, portable SQL."""
    w = f"lower(trim({expr}))"
    mapped = f"translate({w}, '{_FROM}', '{_TO}')"
    dedup = mapped
    for d in range(7):
        dedup = rr(dialect, dedup, f"{d}{d}+", str(d))
    first = f"substring({w}, 1, 1)"
    tail = (
        f"(CASE WHEN {first} IN ('h', 'w') THEN {dedup}"
        f" ELSE substring({dedup}, 2, 30) END)"
    )
    digits = rr(dialect, tail, "0+", "")
    return f"concat(upper({first}), substring(concat({digits}, '000'), 1, 3))"


def _blocks_sql(dialect: str) -> str:
    last_tok = element_at(dialect, split_re(dialect, "lower(p_name)", "[^a-z]+"), -1)
    key = soundex_sql(dialect, "noun")
    return f"""
WITH nouns AS (
  SELECT {last_tok} AS noun FROM part
),
keyed AS (
  SELECT noun, {key} AS soundex_key FROM nouns
)
SELECT soundex_key,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT noun) AS BIGINT) AS n_distinct_nouns,
       MIN(noun) AS noun_min,
       MAX(noun) AS noun_max
FROM keyed
GROUP BY soundex_key
ORDER BY soundex_key
"""


register(
    "phonetic_blocks_parts",
    oracle=_blocks_sql(DUCKDB),
    doc="Soundex phonetic blocking over part-name head nouns: portable "
    "translate+regex Soundex (h/w rule, vowel separators, first-letter "
    "dedup), block sizes + distinct-noun counts as blocking-quality stats",
)(sql_runner(_blocks_sql, ("part",)))
