"""Text-analysis operators over the documents table (scale extension).

Language-ID (stopword-hit heuristic), quality scoring (length / punctuation /
stopword ratios), token statistics (whitespace + regex-word counting, TTR),
and bag-of-words document fingerprinting (the "key collision" method: md5 of
the sorted distinct token set).

All token-level work is a single explode -> groupBy(doc_id) aggregation —
partial-agg friendly, no Python in the hot path. Stopword lists are inlined
constants (broadcast literals), not a join.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import (
    DUCKDB,
    SPARK,
    arr_filter_nonempty,
    arr_len,
    element_at,
    explode,
    explode_seq,
    re_extract_all_count,
    rr,
    split_re,
)
from serene_spark.registry import register

_LOG = logging.getLogger("serene_spark.text_analysis")

STOPWORDS = {
    "en": ("the", "and", "of", "to", "is", "in", "a", "that", "it", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "von"),
    "fr": ("le", "la", "et", "les", "des", "est", "dans", "que", "pour", "une"),
    "es": ("el", "los", "y", "es", "en", "un", "una", "por", "con", "para"),
}

_WS_PAT = "[ \t\n\r]+"


def NORM(dialect: str) -> str:
    collapsed = rr(dialect, "lower(text)", _WS_PAT, " ")
    return f"trim({collapsed})"


def tokens_rel(dialect: str) -> str:
    toks = split_re(dialect, NORM(dialect), "[^a-z0-9]+")
    return f"""
tokens AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, {explode(dialect, toks)} AS tok FROM documents
  ) t WHERE tok <> ''
)"""


def _in_list(words: tuple[str, ...]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"


def text_quality_onepass_sql(dialect: str) -> str:
    """Spark-only physical form of the shared three-CTE ``text_quality``
    statement: per-row array expressions instead of explode → groupBy →
    join. ONE projection over the documents scan — zero exchanges, zero
    joins (was: Generate + partial/final HashAggregate + a doc_id join).
    Guide §2.4 (remove shuffles outright) / §1.2 (the distributed algorithm
    first). Measured 1.30 → 0.30 s min at sf0.1, full-output equal.

    Value-identical to the CTE form because:
    - ``doc_id`` is the corpus key (unique per document — the invariant the
      dedup/packing tiers already build on), so the per-doc aggregation
      over exploded token rows equals the same fold over the one row's
      token array, and the tok_stats INNER JOIN's drop of token-less docs
      is exactly the ``n_tokens > 0`` filter;
    - char-class counts run as translate-deletes (``count_chars``) instead
      of regexp_replace — both count occurrences of an explicit char set
      (same trick as the profiling tier, profile_scalar.py);
    - NORM's whitespace-collapse/trim only merges/creates separator runs:
      whitespace is inside the split class ``[^a-z0-9]+``, so the only
      difference is empty tokens, which the filter removes. The
      random-corpus python twin (tests/test_random_corpus_oracle.py)
      re-derives the full output per row from re.split on 3 seeds.
    """
    from serene_spark.functions.sqlgen import count_chars

    alnum_ws = f"('{_UPPER.lower()}{_UPPER}0123456789 ' || chr(9) || chr(10) || chr(13))"
    n_alnum_ws = count_chars(dialect, "text", alnum_ws)
    n_digit = count_chars(dialect, "text", "'0123456789'")
    n_upper = count_chars(dialect, "text", f"'{_UPPER}'")
    return f"""
SELECT doc_id, n_chars, n_tokens,
       round(CAST(tok_chars AS DOUBLE) / n_tokens, 6) AS avg_token_len,
       round(CAST(punct_chars AS DOUBLE) / n_chars, 6) AS punct_ratio,
       round(CAST(digit_chars AS DOUBLE) / n_chars, 6) AS digit_ratio,
       round(CAST(upper_chars AS DOUBLE) / n_chars, 6) AS upper_ratio,
       round(CAST(sw_hits AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
       CASE WHEN n_tokens >= 5 AND n_tokens <= 100000
                 AND CAST(sw_hits AS DOUBLE) / n_tokens >= 0.01
                 AND CAST(punct_chars AS DOUBLE) / n_chars <= 0.2
            THEN 1.0 ELSE 0.0 END AS quality_pass
FROM (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(text) - ({n_alnum_ws}) AS BIGINT) AS punct_chars,
         CAST({n_digit} AS BIGINT) AS digit_chars,
         CAST({n_upper} AS BIGINT) AS upper_chars,
         CAST(size(toks) AS BIGINT) AS n_tokens,
         CAST(aggregate(toks, CAST(0 AS BIGINT), (a, x) -> a + length(x)) AS BIGINT) AS tok_chars,
         CAST(size(filter(toks, x -> x IN {_in_list(STOPWORDS['en'])})) AS BIGINT) AS sw_hits
  FROM (
    SELECT doc_id,
           filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks,
           text
    FROM documents
  ) d
) s
WHERE n_tokens > 0
"""


def text_quality_sql(dialect: str) -> str:
    # Spark runs the one-pass per-row form; DuckDB keeps the dialect-shared
    # three-CTE text (it is the oracle and materializes its own CTEs).
    # Composed consumers (curation, eval, dedup summary) inherit the switch.
    if dialect != DUCKDB:
        return text_quality_onepass_sql(dialect)
    punct = rr(dialect, "text", "[a-zA-Z0-9 \t\n\r]")  # keep only punctuation
    digits = rr(dialect, "text", "[^0-9]")
    upper = rr(dialect, "text", "[^A-Z]")
    return f"""
WITH {tokens_rel(dialect)},
tok_stats AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(length(tok)) AS BIGINT) AS tok_chars,
         CAST(SUM(CASE WHEN tok IN {_in_list(STOPWORDS['en'])} THEN 1 ELSE 0 END) AS BIGINT) AS sw_hits
  FROM tokens GROUP BY doc_id
),
doc_stats AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length({punct}) AS BIGINT) AS punct_chars,
         CAST(length({digits}) AS BIGINT) AS digit_chars,
         CAST(length({upper}) AS BIGINT) AS upper_chars
  FROM documents
)
SELECT d.doc_id, d.n_chars, t.n_tokens,
       round(CAST(t.tok_chars AS DOUBLE) / t.n_tokens, 6) AS avg_token_len,
       round(CAST(d.punct_chars AS DOUBLE) / d.n_chars, 6) AS punct_ratio,
       round(CAST(d.digit_chars AS DOUBLE) / d.n_chars, 6) AS digit_ratio,
       round(CAST(d.upper_chars AS DOUBLE) / d.n_chars, 6) AS upper_ratio,
       round(CAST(t.sw_hits AS DOUBLE) / t.n_tokens, 6) AS stopword_ratio,
       CASE WHEN t.n_tokens >= 5 AND t.n_tokens <= 100000
                 AND CAST(t.sw_hits AS DOUBLE) / t.n_tokens >= 0.01
                 AND CAST(d.punct_chars AS DOUBLE) / d.n_chars <= 0.2
            THEN 1.0 ELSE 0.0 END AS quality_pass
FROM doc_stats d JOIN tok_stats t ON d.doc_id = t.doc_id
"""


def _lang_hits_cols() -> str:
    return ",\n         ".join(
        f"CAST(SUM(CASE WHEN tok IN {_in_list(ws)} THEN 1 ELSE 0 END) AS BIGINT) AS {lang}_hits"
        for lang, ws in STOPWORDS.items()
    )


# argmax with deterministic tie-break on language code, 'unknown' if 0 hits
_LANG_BEST = "GREATEST(en_hits, de_hits, fr_hits, es_hits)"
LANG_PICK = (
    f"CASE WHEN {_LANG_BEST} = 0 THEN 'unknown' "
    f"WHEN de_hits = {_LANG_BEST} THEN 'de' "
    f"WHEN en_hits = {_LANG_BEST} THEN 'en' "
    f"WHEN es_hits = {_LANG_BEST} THEN 'es' "
    "ELSE 'fr' END"
)


# Per-row token array for the Spark one-pass forms: identical token
# sequences to tokens_rel (whitespace sits inside the split class, so NORM's
# collapse/trim only changes empty tokens, which the filter drops), and the
# ``size(toks) > 0`` guard reproduces the per-doc GROUP BY / inner-join drop
# of token-less docs — exact because doc_id is the corpus key (unique).
_TOKS_ROW = (
    "SELECT doc_id, text,"
    " filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks"
    " FROM documents"
)


def lang_id_sql(dialect: str) -> str:
    if dialect != DUCKDB:
        # one projection, zero exchanges/joins (guide §2.4); same argmax
        hits = ",\n         ".join(
            f"CAST(size(filter(toks, x -> x IN {_in_list(ws)})) AS BIGINT) AS {lang}_hits"
            for lang, ws in STOPWORDS.items()
        )
        return f"""
SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
       {LANG_PICK} AS pred_lang
FROM (
  SELECT doc_id,
         {hits}
  FROM ({_TOKS_ROW}) d WHERE size(toks) > 0
) hits
"""
    return f"""
WITH {tokens_rel(dialect)},
hits AS (
  SELECT doc_id,
         {_lang_hits_cols()}
  FROM tokens GROUP BY doc_id
)
SELECT doc_id, en_hits, de_hits, fr_hits, es_hits,
       {LANG_PICK} AS pred_lang
FROM hits
"""


def token_stats_sql(dialect: str) -> str:
    words = re_extract_all_count(dialect, "text", "[a-zA-Z]+")
    if dialect != DUCKDB:
        # COUNT(DISTINCT tok) per doc == size(array_distinct(toks)) of the
        # doc's single row; the documents⋈t join disappears (guide §2.4)
        return f"""
SELECT doc_id, n_tokens, n_distinct_tokens,
       round(CAST(n_distinct_tokens AS DOUBLE) / n_tokens, 6) AS type_token_ratio,
       CAST({words} AS BIGINT) AS n_regex_words
FROM (
  SELECT doc_id, text,
         CAST(size(toks) AS BIGINT) AS n_tokens,
         CAST(size(array_distinct(toks)) AS BIGINT) AS n_distinct_tokens
  FROM ({_TOKS_ROW}) d WHERE size(toks) > 0
) s
"""
    return f"""
WITH {tokens_rel(dialect)},
t AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
  FROM tokens GROUP BY doc_id
)
SELECT d.doc_id, t.n_tokens, t.n_distinct_tokens,
       round(CAST(t.n_distinct_tokens AS DOUBLE) / t.n_tokens, 6) AS type_token_ratio,
       CAST({words} AS BIGINT) AS n_regex_words
FROM documents d JOIN t ON d.doc_id = t.doc_id
"""


def fingerprint_sql(dialect: str) -> str:
    if dialect != DUCKDB:
        # collect_set of one doc's exploded tokens == array_distinct(toks):
        # the per-doc aggregation becomes a projection and only the
        # cross-doc GROUP BY fingerprint remains (guide §2.4)
        return f"""
SELECT fingerprint,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM (
  SELECT doc_id,
         md5(array_join(array_sort(array_distinct(toks)), ' ')) AS fingerprint
  FROM ({_TOKS_ROW}) d WHERE size(toks) > 0
) fp GROUP BY fingerprint
"""
    return f"""
WITH {tokens_rel(dialect)},
fp AS (
  SELECT doc_id, md5(string_agg(DISTINCT tok, ' ' ORDER BY tok)) AS fingerprint
  FROM tokens GROUP BY doc_id
)
SELECT fingerprint,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
FROM fp GROUP BY fingerprint
"""


register("text_quality", oracle=text_quality_sql(DUCKDB),
         doc="quality scoring: token/punct/digit/stopword ratios + pass flag")(sql_runner(text_quality_sql, ("documents",), spread=True))
register("lang_id", oracle=lang_id_sql(DUCKDB),
         doc="language-ID via per-language stopword hits with argmax")(sql_runner(lang_id_sql, ("documents",), spread=True))
register("token_stats", oracle=token_stats_sql(DUCKDB),
         doc="token counting: whitespace tokens, distinct, TTR, regex words")(sql_runner(token_stats_sql, ("documents",), spread=True))
register("doc_fingerprint", oracle=fingerprint_sql(DUCKDB),
         doc="bag-of-words fingerprint (md5 of sorted distinct tokens) dedup groups")(sql_runner(fingerprint_sql, ("documents",), spread=True))


def _dup_fold(arr: str) -> str:
    """Run fold over a sorted gram array: instances of grams occurring 2+
    times (see repetition_sql)."""
    return f"""aggregate(sort_array({arr}),
             named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), 'dup', CAST(0 AS BIGINT)),
             (a, x) -> CASE WHEN a.prev IS NOT NULL AND x = a.prev
               THEN named_struct('prev', x, 'run', a.run + CAST(1 AS BIGINT), 'dup', a.dup)
               ELSE named_struct('prev', x, 'run', CAST(1 AS BIGINT),
                                 'dup', a.dup + CASE WHEN a.run > 1 THEN a.run ELSE CAST(0 AS BIGINT) END) END,
             a -> a.dup + CASE WHEN a.run > 1 THEN a.run ELSE CAST(0 AS BIGINT) END)"""


def _max_run_fold(arr: str) -> str:
    """Run fold over a sorted gram array: the longest run = count of the
    single most frequent gram (see repetition_sql)."""
    return f"""aggregate(sort_array({arr}),
             named_struct('prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
             (a, x) -> CASE WHEN a.prev IS NOT NULL AND x = a.prev
               THEN named_struct('prev', x, 'run', a.run + CAST(1 AS BIGINT), 'best', a.best)
               ELSE named_struct('prev', x, 'run', CAST(1 AS BIGINT),
                                 'best', GREATEST(a.best, a.run)) END,
             a -> GREATEST(a.best, a.run))"""


def _gram(k: int) -> str:
    """Positional word-k-gram array over the per-row token array ``t``."""
    return (
        f"CASE WHEN size(t) >= {k} THEN transform(sequence(1, size(t) - {k - 1}), "
        f"i -> " + " || ' ' || ".join(f"element_at(t, i + {j})" for j in range(k))
        + ") ELSE array() END"
    )


def repetition_sql(dialect: str) -> str:
    """Gopher-style repetition signals (Rae et al. 2021, appendix A1.1),
    re-expressed as count fractions so both dialects agree bit-for-bit:

    - ``dup_token_frac``  — token instances whose token occurs 2+ times
    - ``top_2gram_frac``  — instances of the single most frequent word 2-gram
    - ``dup_3gram_frac``  — word-3-gram instances whose 3-gram occurs 2+ times
    - ``repetition_pass`` — Gopher-like gate over the three fractions

    Scale shape: the positional n-gram generators are one explode over a
    pre-split token array (rows ~ 3x corpus tokens), then keyed
    ``(doc_id, gram)`` aggregations with map-side combine — high-cardinality
    shuffle keys, no Python, no self-joins. Docs with fewer than 3 tokens get
    0.0 fractions via the left join (Gopher gates short docs separately).
    """
    # boundary-empty tokens from the regex split would otherwise pollute the
    # n-grams ('cat dog.' must yield ONE 2-gram and no 3-gram)
    toks = arr_filter_nonempty(
        dialect, split_re(dialect, NORM(dialect), "[^a-z0-9]+")
    )
    w = lambda i: element_at(dialect, "t", i)  # noqa: E731
    n = arr_len(dialect, "t")
    if dialect != DUCKDB:
        # Spark-only per-row form (guide §2.4): each per-(doc, gram) count
        # aggregation + per-doc rollup + join is a run fold over the doc's
        # SORTED gram array — equal grams are adjacent after sort_array, so
        # "instances of grams occurring 2+ times" is the sum of runs > 1 and
        # "top gram count" is the max run. 3 explodes + 6 aggregations + 3
        # joins become one projection; arrays are per-doc token-scale. The
        # LEFT-JOIN NULL semantics survive verbatim: a doc with no 1-/2-/3-
        # grams has total = 0, the division returns NULL (non-ANSI), and the
        # same coalesce applies the 0.0.
        dup_fold = _dup_fold
        max_run_fold = _max_run_fold("g2arr")
        gram = _gram
        return f"""
WITH perdoc AS (
  SELECT doc_id,
         CAST(size(t) AS BIGINT) AS total1,
         {dup_fold('t')} AS dup1,
         CAST(size(g2arr) AS BIGINT) AS total2,
         {max_run_fold} AS top2,
         CAST(size(g3arr) AS BIGINT) AS total3,
         {dup_fold('g3arr')} AS dup3
  FROM (
    SELECT doc_id, t, {gram(2)} AS g2arr, {gram(3)} AS g3arr
    FROM (SELECT doc_id, filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
          FROM documents) tl
  ) g
)
SELECT doc_id,
       coalesce(round(CAST(dup1 AS DOUBLE) / nullif(total1, 0), 6), 0.0) AS dup_token_frac,
       coalesce(round(CAST(top2 AS DOUBLE) / nullif(total2, 0), 6), 0.0) AS top_2gram_frac,
       coalesce(round(CAST(dup3 AS DOUBLE) / nullif(total3, 0), 6), 0.0) AS dup_3gram_frac,
       CASE WHEN coalesce(CAST(top2 AS DOUBLE) / nullif(total2, 0), 0.0) <= 0.20
             AND coalesce(CAST(dup3 AS DOUBLE) / nullif(total3, 0), 0.0) <= 0.60
             AND coalesce(CAST(dup1 AS DOUBLE) / nullif(total1, 0), 0.0) <= 0.90
            THEN 1.0 ELSE 0.0 END AS repetition_pass
FROM perdoc
"""
    return f"""
WITH toklist AS (
  SELECT doc_id, {toks} AS t FROM documents
),
tok1 AS (
  SELECT doc_id, {explode(dialect, "t")} AS w FROM toklist
),
tok1c AS (
  SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok1 WHERE w <> '' GROUP BY doc_id, w
),
tok1s AS (
  SELECT doc_id, SUM(c) AS total1, SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup1
  FROM tok1c GROUP BY doc_id
),
g2 AS (
  SELECT doc_id, {w("i")} || ' ' || {w("i + 1")} AS g
  FROM (SELECT doc_id, t, {explode_seq(dialect, 1, f"{n} - 1")} AS i
        FROM toklist WHERE {n} >= 2) x
),
g2c AS (
  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM g2 GROUP BY doc_id, g
),
g2s AS (
  SELECT doc_id, SUM(c) AS total2, MAX(c) AS top2 FROM g2c GROUP BY doc_id
),
g3 AS (
  SELECT doc_id, {w("i")} || ' ' || {w("i + 1")} || ' ' || {w("i + 2")} AS g
  FROM (SELECT doc_id, t, {explode_seq(dialect, 1, f"{n} - 2")} AS i
        FROM toklist WHERE {n} >= 3) x
),
g3c AS (
  SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c FROM g3 GROUP BY doc_id, g
),
g3s AS (
  SELECT doc_id, SUM(c) AS total3, SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3
  FROM g3c GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(round(CAST(t1.dup1 AS DOUBLE) / t1.total1, 6), 0.0) AS dup_token_frac,
       coalesce(round(CAST(t2.top2 AS DOUBLE) / t2.total2, 6), 0.0) AS top_2gram_frac,
       coalesce(round(CAST(t3.dup3 AS DOUBLE) / t3.total3, 6), 0.0) AS dup_3gram_frac,
       CASE WHEN coalesce(CAST(t2.top2 AS DOUBLE) / t2.total2, 0.0) <= 0.20
             AND coalesce(CAST(t3.dup3 AS DOUBLE) / t3.total3, 0.0) <= 0.60
             AND coalesce(CAST(t1.dup1 AS DOUBLE) / t1.total1, 0.0) <= 0.90
            THEN 1.0 ELSE 0.0 END AS repetition_pass
FROM documents d
LEFT JOIN tok1s t1 ON d.doc_id = t1.doc_id
LEFT JOIN g2s t2 ON d.doc_id = t2.doc_id
LEFT JOIN g3s t3 ON d.doc_id = t3.doc_id
"""


register("doc_repetition", oracle=repetition_sql(DUCKDB),
         doc="Gopher-style repetition signals: dup-token / top-2gram / "
             "dup-3gram fractions + gate")(sql_runner(repetition_sql, ("documents",), spread=True))


def lang_model_sql(dialect: str) -> str:
    """Self-trained character-bigram LM score per document — the
    gibberish / out-of-distribution detector of a training-data pipeline:
    ``avg_bigram_logprob`` is the mean log-probability of the document's
    character bigrams under the corpus's own bigram distribution (low =
    unusual character sequences).

    Determinism: the model is exact integer counts; each term is
    ``round(ln(c/n), 9)`` cast to DECIMAL before the per-doc sum, so the
    aggregation is order-independent (ln may differ by 1 ulp across libm
    implementations; rounding at 9 decimals absorbs it, same pattern as the
    entropy features). Scale shape: bigram explode -> tiny (~1.3k key)
    model aggregation broadcast back onto the bigram stream -> per-doc agg;
    no Python anywhere. Total over documents: a doc with fewer than 2
    normalized chars still appears, with n_bigrams=0 and NULL score.
    """
    n = NORM(dialect)
    return f"""
WITH norm AS (
  SELECT doc_id, {n} AS t FROM documents
),
big AS (
  SELECT doc_id, substr(t, i, 2) AS bg
  FROM (SELECT doc_id, t, {explode_seq(dialect, 1, "length(t) - 1")} AS i
        FROM norm WHERE length(t) >= 2) x
),
model AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS c FROM big GROUP BY bg
),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM model
),
terms AS (
  SELECT b.doc_id,
         CAST(round(ln(CAST(m.c AS DOUBLE) / (SELECT n FROM tot)), 9)
              AS DECIMAL(18,9)) AS lp
  FROM big b JOIN model m ON b.bg = m.bg
),
per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         round(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_bigram_logprob
  FROM terms GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(p.n_bigrams, 0) AS n_bigrams,
       p.avg_bigram_logprob
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
"""


register("lang_model_score", oracle=lang_model_sql(DUCKDB),
         doc="corpus-trained char-bigram LM score per doc (gibberish / OOD "
             "detector)")(sql_runner(lang_model_sql, ("documents",), spread=True))


def corpus_select_sql(dialect: str, per_lang_cap: int = 100) -> str:
    """End-to-end training-corpus selection — the composition the individual
    ops exist for: keep documents that (a) pass the quality gate, (b) pass
    the Gopher-style repetition gate, (c) are the canonical keeper of their
    exact-duplicate group, then (d) cap each predicted language's share with
    a deterministic (md5-ordered) stratified sample. One statement, every
    stage a keyed aggregation or equi-join; at 100 TB each CTE is the same
    one-pass shape it is standalone.
    """
    from serene_spark.operators.dedup import dedup_exact_sql

    if dialect != DUCKDB:
        # composition hazard: as ONE statement, predicate pushdown drags
        # the fold-heavy gate WHERE below the spread into the serial scan
        # task (7.2 s vs 0.5 s staged, see corpus_select_spark_df). Warn so
        # a SPARK-dialect splice never regresses silently — run through
        # corpus_select_spark_df (or materialize _cs_feat_sql first).
        _LOG.warning(
            "corpus_select_sql(SPARK) returns the UNSTAGED fused statement; "
            "executing it directly serializes the gate folds into the scan "
            "task — use corpus_select_spark_df instead")
        return _corpus_select_fused_sql(dialect, per_lang_cap)
    return f"""
WITH q AS ({text_quality_sql(dialect)}),
l AS ({lang_id_sql(dialect)}),
rep AS ({repetition_sql(dialect)}),
keepers AS (
  SELECT keeper_doc_id AS doc_id FROM ({dedup_exact_sql(dialect)}) k
),
eligible AS (
  SELECT q.doc_id, l.pred_lang
  FROM q
  JOIN l ON q.doc_id = l.doc_id
  JOIN rep ON rep.doc_id = q.doc_id
  JOIN keepers kp ON kp.doc_id = q.doc_id
  WHERE q.quality_pass = 1.0 AND rep.repetition_pass = 1.0
),
ranked AS (
  SELECT doc_id, pred_lang,
         ROW_NUMBER() OVER (PARTITION BY pred_lang
                            ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk
  FROM eligible
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, pred_lang, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {per_lang_cap}
"""


def _corpus_select_fused_sql(dialect: str, per_lang_cap: int) -> str:
    """Spark-only physical form of :func:`corpus_select_sql`: the three
    per-row gate relations (quality, lang-id, repetition) fused into ONE
    projection over one documents scan.

    As separate CTEs each gate re-scanned documents and recomputed the
    token split, and ``eligible`` joined four doc-keyed relations (three
    scans + four exchanges; measured ~7 s at sf0.01).  All three gates are
    per-row expressions over the SAME token array, so they fuse into one
    scan with zero joins; only the keepers semi-join (a real aggregation —
    exact-dup groups) and the per-language ranked cap remain.

    Value-identical by construction: membership in q and l was
    ``n_tokens > 0`` (the tok_stats inner join / lang-id guard), rep
    covered all docs, and the two pass flags are CASE 1.0/0.0 — so
    ``quality_pass = 1.0 AND repetition_pass = 1.0`` over the joined
    relations equals the fused WHERE of the same conditions; the
    expressions themselves are the per-row forms verbatim
    (text_quality_onepass_sql, lang_id_sql, repetition_sql).

    NOTE: as one statement, predicate pushdown drags the fold-heavy gate
    WHERE through the spread repartition into the single-partition scan
    task (measured 7.2 s serial vs 0.5 s for the same work spread) — the
    registered runner therefore MATERIALIZES feat first
    (:func:`corpus_select_spark_df`); this composed text is kept for
    API completeness."""
    return (
        "WITH feat AS (" + _cs_feat_sql() + ")," + _cs_tail_body(dialect, "feat", per_lang_cap)
    )


def _cs_feat_sql() -> str:
    """The fused per-row gate projection (see _corpus_select_fused_sql)."""
    from serene_spark.functions.sqlgen import count_chars

    dialect = SPARK
    alnum_ws = f"('{_UPPER.lower()}{_UPPER}0123456789 ' || chr(9) || chr(10) || chr(13))"
    n_alnum_ws = count_chars(dialect, "text", alnum_ws)
    hits = ",\n         ".join(
        f"CAST(size(filter(t, x -> x IN {_in_list(ws)})) AS BIGINT) AS {lang}_hits"
        for lang, ws in STOPWORDS.items()
    )
    return f"""
SELECT doc_id,
       CAST(size(t) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) - ({n_alnum_ws}) AS BIGINT) AS punct_chars,
       {hits},
       CAST(size(t) AS BIGINT) AS total1,
       {_dup_fold('t')} AS dup1,
       CAST(size(g2arr) AS BIGINT) AS total2,
       {_max_run_fold('g2arr')} AS top2,
       CAST(size(g3arr) AS BIGINT) AS total3,
       {_dup_fold('g3arr')} AS dup3
FROM (
  SELECT doc_id, text, t, {_gram(2)} AS g2arr, {_gram(3)} AS g3arr
  FROM (SELECT doc_id, text,
               filter(split(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        FROM documents) tl
) g
"""


def _cs_tail_body(dialect: str, feat_rel: str, per_lang_cap: int) -> str:
    """keepers + gate filter + per-language ranked cap over a feat relation."""
    from serene_spark.operators.dedup import dedup_exact_sql

    return f"""
keepers AS (
  SELECT keeper_doc_id AS doc_id FROM ({dedup_exact_sql(dialect)}) k
),
eligible AS (
  SELECT f.doc_id, {LANG_PICK} AS pred_lang
  FROM {feat_rel} f
  JOIN keepers kp ON kp.doc_id = f.doc_id
  WHERE n_tokens > 0
    AND n_tokens >= 5 AND n_tokens <= 100000
    AND CAST(en_hits AS DOUBLE) / n_tokens >= 0.01
    AND CAST(punct_chars AS DOUBLE) / n_chars <= 0.2
    AND coalesce(CAST(top2 AS DOUBLE) / nullif(total2, 0), 0.0) <= 0.20
    AND coalesce(CAST(dup3 AS DOUBLE) / nullif(total3, 0), 0.0) <= 0.60
    AND coalesce(CAST(dup1 AS DOUBLE) / nullif(total1, 0), 0.0) <= 0.90
),
ranked AS (
  SELECT doc_id, pred_lang,
         ROW_NUMBER() OVER (PARTITION BY pred_lang
                            ORDER BY md5(CAST(doc_id AS STRING)), doc_id) AS rk
  FROM eligible
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, pred_lang, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= {per_lang_cap}
"""


# Staged Spark runner for corpus selection: the fused gate projection is
# MATERIALIZED before the gate filter is applied.  In the one-statement form
# predicate pushdown moves the fold-heavy WHERE below the spread
# repartition, serializing all token/gram work into the single-partition
# scan task (measured 7.2 s serial vs 0.5 s materialized+spread at sf0.01).
# The checkpoint is one row per document of small integers.
corpus_select_spark_df = sql_runner(
    lambda d: "WITH " + _cs_tail_body(d, "__cs_feat", 100), ("documents",), spread=True,
    stages=lambda _d: [("__cs_feat", _cs_feat_sql())])


register("corpus_select", oracle=corpus_select_sql(DUCKDB),
         doc="training-corpus selection pipeline: quality gate + exact-dedup "
             "keepers + deterministic per-language stratified cap")(corpus_select_spark_df)


def top_tokens_sql(dialect: str, k: int = 10) -> str:
    """Per-language heavy hitters: the k most frequent tokens among documents
    of each predicted language (count desc, token asc tie-break). Exact — the
    corpus token histogram is the same keyed aggregation every other text op
    uses; the rank window runs over the tiny (lang, distinct-token) relation,
    partitioned by language so no global sort.
    """
    return f"WITH {tokens_rel(dialect)},\n{top_tokens_tail('tokens', k)}"


def top_tokens_tail(tokens_rel_name: str, k: int = 10) -> str:
    """Stats tail over an existing (doc_id, tok) relation — referenced twice
    (language hits + token histogram), so the Spark runner materializes it
    (CTE-inlining hazard; DuckDB materializes multi-ref CTEs natively)."""
    return f"""
hits AS (
  SELECT doc_id,
         {_lang_hits_cols()}
  FROM {tokens_rel_name} GROUP BY doc_id
),
l AS (
  SELECT doc_id, {LANG_PICK} AS pred_lang FROM hits
),
tok_lang AS (
  SELECT l.pred_lang, t.tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM {tokens_rel_name} t JOIN l ON t.doc_id = l.doc_id
  GROUP BY l.pred_lang, t.tok
)
SELECT pred_lang, tok, c, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT pred_lang, tok, c,
         ROW_NUMBER() OVER (PARTITION BY pred_lang ORDER BY c DESC, tok ASC) AS rk
  FROM tok_lang
) r WHERE rk <= {k}
"""


_TOPTOK_REL = "__serene_toptok_tokens"
register("top_tokens_per_lang", oracle=top_tokens_sql(DUCKDB),
         doc="exact per-language top-10 token heavy hitters")(sql_runner(
    lambda _d: "WITH " + top_tokens_tail(_TOPTOK_REL), ("documents",), spread=True,
    stages=lambda d: [(_TOPTOK_REL, f"WITH {tokens_rel(d)} SELECT * FROM tokens")]))


CHUNK_TOKENS = 32   # tokens per chunk (context-window analog)
CHUNK_STRIDE = 24   # 8-token overlap between consecutive chunks


def doc_chunks_sql(dialect: str) -> str:
    """Context-window chunking — split each document into overlapping
    token-window chunks (the sequence-packing prep step of a training-data
    pipeline): chunk i covers tokens [1 + i*stride, 1 + i*stride + size).

    The chunk generator is an explode over ceil-divided chunk counts (every
    doc gets at least one chunk, short final windows kept), then one array
    slice + join per chunk — no self-joins, no Python; at 100 TB this is a
    map-only operator until the optional downstream shuffle.
    """
    from serene_spark.functions.sqlgen import arr_join, arr_slice

    # coalesce BEFORE the split so NULL-text docs still get their one (empty)
    # chunk — split(NULL) is NULL and a NULL chunk count explodes to nothing
    toks = arr_filter_nonempty(
        dialect, split_re(dialect, f"coalesce({NORM(dialect)}, '')", "[^a-z0-9]+")
    )
    n = arr_len(dialect, "t")
    n_chunks = (
        f"CASE WHEN {n} <= {CHUNK_TOKENS} THEN 1 "
        f"ELSE 1 + CAST(ceil(CAST({n} - {CHUNK_TOKENS} AS DOUBLE) / {CHUNK_STRIDE}) AS BIGINT) END"
    )
    start = f"1 + (ci - 1) * {CHUNK_STRIDE}"
    chunk = arr_join(dialect, arr_slice(dialect, "t", start, str(CHUNK_TOKENS)), " ")
    return f"""
WITH toklist AS (
  SELECT doc_id, {toks} AS t FROM documents
),
idx AS (
  SELECT doc_id, t, {explode_seq(dialect, 1, n_chunks)} AS ci FROM toklist
)
SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       {chunk} AS chunk_text,
       CAST(least({CHUNK_TOKENS}, {n} - ({start}) + 1) AS BIGINT) AS n_tokens
FROM idx
"""


register("doc_chunks", oracle=doc_chunks_sql(DUCKDB),
         doc="overlapping token-window chunking (context-window packing prep)")(sql_runner(doc_chunks_sql, ("documents",), spread=True))


# BPE-ish token estimate: letter runs, digit runs, and punctuation runs count
# separately (an [a-z]+|[0-9]+|other-run approximation of byte-pair-style
# pre-tokenization), vs the whitespace token count.
def bpe_estimate_sql(dialect: str) -> str:
    word_runs = re_extract_all_count(dialect, "lower(text)", "[a-z]+")
    digit_runs = re_extract_all_count(dialect, "text", "[0-9]+")
    punct_runs = re_extract_all_count(dialect, "text", "[^a-zA-Z0-9 \t\n\r]+")
    ws_tokens = re_extract_all_count(dialect, "text", "[^ \t\n\r]+")
    return f"""
SELECT doc_id,
       CAST({ws_tokens} AS BIGINT) AS n_ws_tokens,
       CAST({word_runs} + {digit_runs} + {punct_runs} AS BIGINT) AS n_bpe_est,
       round(CAST({word_runs} + {digit_runs} + {punct_runs} AS DOUBLE)
             / greatest(1, {ws_tokens}), 6) AS bpe_per_ws_token
FROM documents
"""


register("bpe_token_estimate", oracle=bpe_estimate_sql(DUCKDB),
         doc="BPE-ish pre-tokenization run counts vs whitespace tokens")(sql_runner(bpe_estimate_sql, ("documents",), spread=True))


def corpus_chunks_sql(dialect: str) -> str:
    """The pipeline's final product: training sequences. Documents that
    survive corpus selection (quality + repetition gates, dedup keepers,
    language cap) are chunked into overlapping token windows — the
    "raw corpus in, packed sequences out" composition. Selection emits a
    tiny doc-id set; the chunker joins against it BEFORE chunking, so the
    expensive explode runs only over kept documents.
    """
    return f"""
WITH selected AS ({corpus_select_sql(dialect)}),
chunks AS ({doc_chunks_sql(dialect)})
SELECT c.doc_id, s.pred_lang, c.chunk_idx, c.chunk_text, c.n_tokens
FROM chunks c JOIN selected s ON c.doc_id = s.doc_id
WHERE c.n_tokens > 0
"""


def _corpus_chunks_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged runner: selection via the materialized-feat path (see
    corpus_select_spark_df), then the chunk tail joins the tiny selected
    set — referenced once, so a view suffices."""
    corpus_select_spark_df(spark, sf_dir).createOrReplaceTempView("__cc_sel")
    return spark.sql(f"""
WITH selected AS (SELECT * FROM __cc_sel),
chunks AS ({doc_chunks_sql(SPARK)})
SELECT c.doc_id, s.pred_lang, c.chunk_idx, c.chunk_text, c.n_tokens
FROM chunks c JOIN selected s ON c.doc_id = s.doc_id
WHERE c.n_tokens > 0
""")


register("corpus_chunks", oracle=corpus_chunks_sql(DUCKDB),
         doc="end-to-end training sequences: corpus_select keepers chunked "
             "into overlapping token windows")(_corpus_chunks_spark)


def readability_sql(dialect: str) -> str:
    """Flesch reading-ease + Flesch-Kincaid grade per document — the
    readability feature every quality-filter stack carries beside the
    ratio gates (Flesch 1948; Kincaid et al. 1975):

        ease  = 206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)
        grade = 0.39*(words/sentences) + 11.8*(syllables/words) - 15.59

    Counting conventions (deterministic, regex-only — a dictionary
    syllabifier is not expressible engine-side and the heuristic is the
    standard production shortcut): words = alphabetic runs, sentences =
    terminator runs [.!?]+, syllables ~= vowel-group runs [aeiouy]+ over
    the lowercased text.  Terminator-free documents count as ONE sentence
    (GREATEST guard), empty documents emit NULL scores rather than fake
    zeros.  One scan, three regex counts per row, no joins; ratios are
    exact integer divisions rounded at 6 dp.
    """
    words = re_extract_all_count(dialect, "lower(text)", "[a-z]+")
    sents = re_extract_all_count(dialect, "text", "[.!?]+")
    syls = re_extract_all_count(dialect, "lower(text)", "[aeiouy]+")
    return f"""
WITH counts AS (
  SELECT doc_id,
         CAST({words} AS BIGINT) AS n_words,
         GREATEST(CAST({sents} AS BIGINT), 1) AS n_sentences,
         CAST({syls} AS BIGINT) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words = 0 THEN NULL
            ELSE ROUND(206.835
                       - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                       - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6)
            END AS flesch_ease,
       CASE WHEN n_words = 0 THEN NULL
            ELSE ROUND(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                       + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                       - 15.59, 6)
            END AS fk_grade
FROM counts
ORDER BY doc_id
"""


register("readability_scores", oracle=readability_sql(DUCKDB),
         doc="Flesch reading-ease + Flesch-Kincaid grade per document via "
             "deterministic regex counting (vowel-group syllables, "
             "terminator-run sentences with a >=1 guard)")(
    sql_runner(readability_sql, ("documents",), spread=True))


def langid_confusion_sql(dialect: str) -> str:
    """Self-audit of the stopword-hit language identifier against the
    corpus's GROUND-TRUTH ``lang`` column: full confusion matrix with
    per-true-class recall shares and the overall accuracy carried on every
    row.  The operator exists because a classifier an engine ships must
    also ship its measured error — the sketch-audit convention applied to
    the text stack.  All counts are exact integers; shares are integer
    ratios rounded at the edge.

    Scale: the lang-ID pass itself (one scan -> per-doc stopword hits);
    the confusion agg keys on (true, pred) — constant cardinality."""
    return f"""
WITH {tokens_rel(dialect)},
hits AS (
  SELECT doc_id,
         {_lang_hits_cols()}
  FROM tokens GROUP BY doc_id
),
pred AS (
  -- token-less docs have NO hits row; the LEFT JOIN's NULL counts must
  -- COALESCE to 0 BEFORE the argmax CASE (NULL comparisons fall through
  -- every WHEN to the ELSE arm, which would classify an empty doc as
  -- 'fr', not 'unknown')
  SELECT doc_id, true_lang, {LANG_PICK} AS pred_lang
  FROM (
    SELECT d.doc_id, d.lang AS true_lang,
           COALESCE(h.en_hits, 0) AS en_hits, COALESCE(h.de_hits, 0) AS de_hits,
           COALESCE(h.fr_hits, 0) AS fr_hits, COALESCE(h.es_hits, 0) AS es_hits
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
  ) j
),
cells AS (
  SELECT true_lang, pred_lang, COUNT(*) AS n
  FROM pred GROUP BY true_lang, pred_lang
),
per_true AS (
  SELECT true_lang, SUM(n) AS n_true FROM cells GROUP BY true_lang
),
acc AS (
  SELECT SUM(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END) AS hit,
         SUM(n) AS tot
  FROM cells
)
SELECT c.true_lang, c.pred_lang,
       CAST(c.n AS BIGINT) AS n_docs,
       ROUND(CAST(c.n AS DOUBLE) / t.n_true, 6) AS share_of_true,
       ROUND(CAST(a.hit AS DOUBLE) / a.tot, 6) AS overall_accuracy
FROM cells c
JOIN per_true t ON c.true_lang = t.true_lang
JOIN acc a ON 1 = 1
ORDER BY c.true_lang, c.pred_lang
"""


register(
    "langid_confusion",
    oracle=langid_confusion_sql(DUCKDB),
    doc="lang_id self-audit vs the corpus's ground-truth lang column: "
    "confusion matrix, per-class recall shares, overall accuracy — "
    "the measured-error convention applied to the text classifier",
)(sql_runner(langid_confusion_sql, ("documents",), spread=True))


def tokenizer_fertility_sql(dialect: str) -> str:
    """Per-language tokenizer-fertility audit — the multilingual training
    cost table: chars per whitespace token (word length), BPE-ish subword
    tokens per word via the bpe_token_estimate regex convention, subwords
    per 100 chars, and each language's fertility RATIO to the corpus's
    cheapest language.  Languages whose text fragments into more subwords
    per character pay more sequence length for the same content — the
    effect behind multilingual token-budget skew (and the quantitative
    companion of fairness_quality_by_lang's selection-rate audit).  Exact
    integer counts; divisions at the edge.

    Scale: one scan -> per-language sums (constant keys)."""
    subword = re_extract_all_count(
        dialect, "text", "[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9 \\t\\n\\r]"
    )
    words = re_extract_all_count(dialect, "text", "[A-Za-z0-9]+")
    return f"""
WITH per_doc AS (
  SELECT lang,
         length(text) AS n_chars,
         {words} AS n_words,
         {subword} AS n_subwords
  FROM documents
),
per_lang AS (
  SELECT lang, COUNT(*) AS n_docs,
         SUM(n_chars) AS chars, SUM(n_words) AS words,
         SUM(n_subwords) AS subwords
  FROM per_doc GROUP BY lang
),
best AS (
  SELECT MIN(CAST(subwords AS DOUBLE) / chars) AS cheapest FROM per_lang
)
SELECT p.lang,
       CAST(p.n_docs AS BIGINT) AS n_docs,
       CAST(p.words AS BIGINT) AS n_words,
       CAST(p.subwords AS BIGINT) AS n_subwords,
       ROUND(CAST(p.chars AS DOUBLE) / p.words, 6) AS chars_per_word,
       ROUND(CAST(p.subwords AS DOUBLE) / p.words, 6) AS fertility,
       ROUND(CAST(100 AS DOUBLE) * p.subwords / p.chars, 6) AS subwords_per_100_chars,
       ROUND(CAST(p.subwords AS DOUBLE) / p.chars / b.cheapest, 6)
         AS cost_ratio_vs_cheapest
FROM per_lang p JOIN best b ON 1 = 1
ORDER BY p.lang
"""


register(
    "tokenizer_fertility_by_lang",
    oracle=tokenizer_fertility_sql(DUCKDB),
    doc="Per-language tokenizer fertility: subword tokens per word, "
    "subwords per 100 chars, and each language's token-cost ratio vs the "
    "corpus's cheapest — the multilingual budget-skew table",
)(sql_runner(tokenizer_fertility_sql, ("documents",), spread=True))
