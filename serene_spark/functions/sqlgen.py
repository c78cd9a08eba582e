"""Tiny dialect shims for SQL that must run identically on Spark and DuckDB.

Every oracle-checked operator is defined once as SQL text generated through
these helpers, so both engines execute the *same* logical expression. Only
this module spells a dialect (``tests/test_dialect_forks.py``): where one
spelling runs on both engines, an operator writes it once (DuckDB reads
``CAST(x AS STRING)`` as VARCHAR); otherwise it calls a helper here. A fork
that picks a different algorithm or relation per engine stays in its
operator, named with its reason in that test's ``ALLOWED``. Rules:

- Patterns must not contain backslashes: Spark SQL string literals treat ``\\``
  as an escape (dropping unknown escapes) while DuckDB keeps it literal, so a
  pattern like ``\\d`` silently diverges. Use ``[0-9]``, ``[.]`` etc. The only
  allowed escapes are ``\\t``/``\\n``/``\\r`` (both dialects end up matching the
  control character).
- DuckDB ``regexp_replace`` replaces the first match unless the ``'g'`` flag is
  given; Spark replaces all matches and takes no flag argument.
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"


def _check(pat: str) -> str:
    for i, ch in enumerate(pat):
        if ch == "\\" and pat[i + 1 : i + 2] not in ("t", "n", "r"):
            raise ValueError(f"backslash escape not portable across dialects: {pat!r}")
    return pat


def rr(dialect: str, expr: str, pat: str, rep: str = "") -> str:
    """Global regexp_replace."""
    _check(pat)
    if dialect == DUCKDB:
        return f"regexp_replace({expr}, '{pat}', '{rep}', 'g')"
    return f"regexp_replace({expr}, '{pat}', '{rep}')"


def rr_col(dialect: str, expr: str, pat_expr: str, rep_expr: str) -> str:
    """Global regexp_replace where pattern/replacement are column expressions
    (the transformations-table case) — portability of the pattern text is the
    caller's responsibility."""
    if dialect == DUCKDB:
        return f"regexp_replace({expr}, {pat_expr}, {rep_expr}, 'g')"
    return f"regexp_replace({expr}, {pat_expr}, {rep_expr})"


def rx(dialect: str, expr: str, pat: str) -> str:
    """Boolean regex search (unanchored unless the pattern anchors itself)."""
    _check(pat)
    if dialect == DUCKDB:
        return f"regexp_matches({expr}, '{pat}')"
    return f"({expr} RLIKE '{pat}')"


def re_extract(dialect: str, expr: str, pat: str, group: int) -> str:
    _check(pat)
    return f"regexp_extract({expr}, '{pat}', {group})"


def log2(dialect: str, expr: str) -> str:
    return f"log2({expr})"


def split_re(dialect: str, expr: str, pat: str) -> str:
    """Split a string by regex into an array."""
    _check(pat)
    if dialect == DUCKDB:
        return f"regexp_split_to_array({expr}, '{pat}')"
    return f"split({expr}, '{pat}')"


def split_chars(dialect: str, expr: str) -> str:
    """Split a string into an array of its characters."""
    if dialect == DUCKDB:
        return f"string_split({expr}, '')"
    return f"split({expr}, '')"


def explode_seq(dialect: str, lo: str | int, hi_incl: str) -> str:
    """Generate one row per integer in [lo, hi_incl] (select-list generator)."""
    if dialect == DUCKDB:
        return f"unnest(range({lo}, ({hi_incl}) + 1))"
    return f"explode(sequence({lo}, {hi_incl}))"


def explode(dialect: str, expr: str) -> str:
    """Unnest an array column (select-list generator)."""
    if dialect == DUCKDB:
        return f"unnest({expr})"
    return f"explode({expr})"


def idiv(dialect: str, a: str, b: str) -> str:
    """Integer division."""
    if dialect == DUCKDB:
        return f"({a} // {b})"
    return f"({a} div {b})"


def hex_to_int(dialect: str, expr: str) -> str:
    """Parse a hex-digit string (<= 15 digits) to BIGINT."""
    if dialect == DUCKDB:
        return f"CAST(concat('0x', {expr}) AS BIGINT)"
    return f"CAST(conv({expr}, 16, 10) AS BIGINT)"


def bxor(dialect: str, a: str, b: str) -> str:
    """Bitwise XOR — DuckDB's ``^`` is POWER, Spark's is XOR."""
    if dialect == DUCKDB:
        return f"xor({a}, {b})"
    return f"({a} ^ {b})"


def shl(dialect: str, a: str, b: str) -> str:
    """Bitwise shift-left — Spark spells it ``shiftleft``, DuckDB ``<<``."""
    if dialect == DUCKDB:
        return f"(({a}) << ({b}))"
    return f"shiftleft({a}, {b})"


def shr(dialect: str, a: str, b: str) -> str:
    """Bitwise shift-right — Spark spells it ``shiftright``, DuckDB ``>>``."""
    if dialect == DUCKDB:
        return f"(({a}) >> ({b}))"
    return f"shiftright({a}, {b})"


def agg_ordered(dialect: str, val: str, order_by: str, sep: str) -> str:
    """String-concat aggregate with deterministic element order."""
    if dialect == DUCKDB:
        return f"string_agg({val}, '{sep}' ORDER BY {order_by})"
    return (
        f"array_join(transform(array_sort(collect_list(struct({order_by} AS o, {val} AS v))),"
        f" x -> x.v), '{sep}')"
    )


def count_chars(dialect: str, expr: str, chars_sql: str) -> str:
    """Count of characters from a fixed set present in ``expr``.

    ``chars_sql`` is a SQL string expression listing the characters (use
    ``chr(9)``-style concatenation for control characters — DuckDB plain
    string literals do not process backslash escapes). translate-delete is
    ~an order of magnitude cheaper than the equivalent
    ``length(regexp_replace(expr, '[^...]', ''))`` on the JVM hot path and
    identical in value (both count codepoints).
    """
    return f"(length({expr}) - length(translate({expr}, {chars_sql}, '')))"


def arr_slice(dialect: str, arr: str, start_1based: str, length: str) -> str:
    """Contiguous sub-array [start, start+length) with 1-based start."""
    if dialect == DUCKDB:
        return f"list_slice({arr}, {start_1based}, ({start_1based}) + ({length}) - 1)"
    return f"slice({arr}, {start_1based}, {length})"


def arr_join(dialect: str, arr: str, sep: str) -> str:
    """Join array elements into one string.

    DuckDB's array_to_string returns NULL for an empty array where Spark's
    array_join returns '' — coalesce so both dialects agree.
    """
    if dialect == DUCKDB:
        return f"coalesce(array_to_string({arr}, '{sep}'), '')"
    return f"array_join({arr}, '{sep}')"


def arr_intersect_size(dialect: str, a: str, b: str) -> str:
    """Distinct-element intersection cardinality of two arrays.

    Both engines dedup: Spark's array_intersect and DuckDB's list_intersect
    return distinct common elements, so the size is a set-intersection
    count regardless of input multiplicity."""
    if dialect == DUCKDB:
        return f"len(list_intersect({a}, {b}))"
    return f"size(array_intersect({a}, {b}))"


def arr_collect(dialect: str, val: str) -> str:
    """Unordered array aggregate (use where element order is irrelevant,
    e.g. as set-intersection input)."""
    if dialect == DUCKDB:
        return f"list({val})"
    return f"collect_list({val})"


def arr_filter_nonempty(dialect: str, arr: str) -> str:
    """Drop empty-string elements (regex splits emit '' at boundaries)."""
    if dialect == DUCKDB:
        return f"list_filter({arr}, x -> x <> '')"
    return f"filter({arr}, x -> x <> '')"


def arr_len(dialect: str, arr: str) -> str:
    """Array element count."""
    if dialect == DUCKDB:
        return f"len({arr})"
    return f"size({arr})"


def epoch_s(dialect: str, ts_expr: str) -> str:
    """Seconds since epoch as BIGINT (UTC session tz; floors sub-second).

    Both engines floor toward negative infinity: Spark's ``unix_timestamp``
    is a floorDiv of the micros value (so pre-1970 sub-second timestamps
    floor too), and the explicit ``floor`` here gives DuckDB's fractional
    ``epoch`` the same behavior. The floor guards against DuckDB's
    double->BIGINT cast, which ROUNDS — without it the engines disagree on
    every sub-second timestamp.
    """
    if dialect == DUCKDB:
        return f"CAST(floor(epoch({ts_expr})) AS BIGINT)"
    return f"unix_timestamp({ts_expr})"


def epoch_us(dialect: str, ts_expr: str) -> str:
    """Microseconds since epoch as BIGINT (exact — timestamps are stored as
    micros in both engines, so no flooring/rounding is involved)."""
    if dialect == DUCKDB:
        return f"epoch_us({ts_expr})"
    return f"unix_micros({ts_expr})"


def arr_agg_ordered(dialect: str, val: str, order_by: str) -> str:
    """Array aggregate with deterministic element order."""
    if dialect == DUCKDB:
        return f"list({val} ORDER BY {order_by})"
    return (
        f"transform(array_sort(collect_list(struct({order_by} AS o, {val} AS v))),"
        f" x -> x.v)"
    )


def element_at(dialect: str, arr: str, idx_1based: str | int) -> str:
    if dialect == DUCKDB:
        return f"{arr}[{idx_1based}]"
    return f"element_at({arr}, {idx_1based})"


def dot_expr(dialect: str, a: str, b: str) -> str:
    """Dot product of two numeric arrays over DOUBLEs. DuckDB's builtins loop
    in index order and Spark runs the same sequential fold, so dot products
    and ``l2_expr`` agree bit for bit. A ``cosine_expr`` of parallel vectors
    can land one ulp above 1 on Spark, where DuckDB's never exceeds 1."""
    if dialect == DUCKDB:
        return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    return (f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), CAST({b} AS ARRAY<DOUBLE>),"
            " (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")


def cosine_expr(dialect: str, a: str, b: str) -> str:
    if dialect == DUCKDB:
        return f"list_cosine_similarity(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    na, nb = (f"sqrt(aggregate(CAST({x} AS ARRAY<DOUBLE>), CAST(0 AS DOUBLE),"
              " (acc, v) -> acc + v * v))" for x in (a, b))
    return f"({dot_expr(dialect, a, b)} / ({na} * {nb}))"


def l2_expr(dialect: str, a: str, b: str) -> str:
    """Euclidean distance from numeric array ``a`` to ``b``, an array of DOUBLE."""
    if dialect == DUCKDB:
        return f"list_distance(CAST({a} AS DOUBLE[]), {b})"
    return (
        f"sqrt(aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), {b},"
        f" (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def utf8_decode(dialect: str, blob: str) -> str:
    """A binary value decoded as UTF-8 text (DuckDB's ``decode`` takes no
    charset argument and always reads UTF-8)."""
    if dialect == DUCKDB:
        return f"decode({blob})"
    return f"decode({blob}, 'UTF-8')"


def re_extract_all_count(dialect: str, expr: str, pat: str) -> str:
    """Number of regex matches in a string."""
    _check(pat)
    if dialect == DUCKDB:
        return f"len(regexp_extract_all({expr}, '{pat}'))"
    return f"size(regexp_extract_all({expr}, '{pat}', 0))"


def arg_min_by(dialect: str, val: str, key: str) -> str:
    """Value of ``val`` at the minimum ``key`` (DuckDB arg_min / Spark min_by)."""
    fn = "arg_min" if dialect == DUCKDB else "min_by"
    return f"{fn}({val}, {key})"


def arg_max_by(dialect: str, val: str, key: str) -> str:
    """Value of ``val`` at the maximum ``key`` (DuckDB arg_max / Spark max_by)."""
    fn = "arg_max" if dialect == DUCKDB else "max_by"
    return f"{fn}({val}, {key})"


def mat(dialect: str) -> str:
    """DuckDB-only ``AS MATERIALIZED`` CTE hint (returns "" for Spark).

    The Spark runner materializes multiply-referenced or chain-segment
    bases as localCheckpoint views (catalog.sql_runner's ``stages``), so its
    SQL never needs — and does not support — the keyword.  The DuckDB oracle
    is one statement, and DuckDB 1.0 inlines single-reference CTEs: a
    deep iteration chain or a many-reference base re-inlines its whole
    input pipeline at every site (attribution_markov measured 58s -> 0.2s
    with hints; the un-hinted 40-level chain hung the optimizer >5 min).
    Use on every multiply-referenced base and every iteration-segment
    terminal in dialect-shared generators."""
    return "MATERIALIZED " if dialect == DUCKDB else ""


def variant_expr(dialect: str, user_col: str = "user_id") -> str:
    """The engine-wide deterministic A/B arm assignment: md5 of the user id,
    first 8 hex digits, mod 2.  ONE definition — ab_test_conversion,
    ab_sequential_msprt, qte_deciles, ab_cuped_adjusted and their tests all
    split on exactly this expression."""
    str_t = "STRING" if dialect == SPARK else "VARCHAR"
    return (
        f"{hex_to_int(dialect, f'substr(md5(CAST({user_col} AS {str_t})), 1, 8)')} % 2"
    )
