"""Cross-engine equivalence battery for the sqlgen dialect shims.

Every oracle-checked operator rests on these helpers producing IDENTICAL
values in Spark SQL and DuckDB.  The operators exercise them on corpus
data; this battery attacks them directly with adversarial inputs —
negative numbers (where DuckDB's floor-`//` and Spark's truncate-`div`
genuinely differ), zero, 32/53-bit boundaries, empty strings, regex
metacharacters in data, unicode, boundary-empty split tokens — generated
as one seeded batch so the whole battery is two queries per engine, not a
Spark job per example.
"""

from __future__ import annotations

import random

import pytest

from serene_spark.functions import sqlgen as g
from serene_spark.functions.sqlgen import DUCKDB, SPARK
from serene_spark.operators.clustering import _tdiv

# --- the shared value battery -------------------------------------------------

_EDGE_INTS = [0, 1, -1, 2, -2, 7, -7, 10, -10, 2**31 - 1, -(2**31), 2**40, -(2**40), 999999, -999999]
_rng = random.Random(20260814)
_INTS = _EDGE_INTS + [_rng.randint(-(10**12), 10**12) for _ in range(40)]
_DIVS = [1, 2, 3, 7, 10, 16, 1000, 2**16]

_EDGE_STRS = [
    "", " ", "abc", "a b  c", "A1-b2_C3", "commas,,and,,more",
    "tab\tand nl", "dots...dots", "(paren) [brack] {brace}",
    "Ünïcodé tøkens", "2019-03-04", "$12,345.67", "1e-5", "0x1F",
    "trailing space ", " leading", "a|b|c", "x%y%z", "N/A", "null",
]
_WORDS = ["spark", "join", "row", "scan", "agg", "table", "value", "part"]
_STRS = _EDGE_STRS + [
    " ".join(_rng.choice(_WORDS) for _ in range(_rng.randint(1, 6)))
    for _ in range(30)
]
_HEXES = ["0", "f", "ff", "0000", "deadbeef", "7fffffff", "123abc", "00ff00ff", "fffffffffffffff"]
# non-zero vectors of mixed sign and scale (cosine of a zero vector is 0/0)
_VECS = [
    ([_rng.uniform(-3, 3) for _ in range(8)], [_rng.uniform(-3, 3) for _ in range(8)])
    for _ in range(20)
] + [([1.0, 0.0], [0.0, 1.0]), ([1e-8, 2e8], [3e8, -4e-8]), ([2.5], [-2.5])]


@pytest.fixture(scope="module")
def engines(spark, duck):
    int_rows = [
        (i, a, b) for i, (a, b) in enumerate(
            (a, b) for a in _INTS for b in _DIVS
        )
    ]
    str_rows = [(i, s, s.encode("utf-8").hex()) for i, s in enumerate(_STRS)]
    hex_rows = list(enumerate(_HEXES))
    vec_rows = [(i, u, v) for i, (u, v) in enumerate(_VECS)]
    spark.createDataFrame(int_rows, "id long, a long, b long").createOrReplaceTempView("__shim_ints")
    spark.createDataFrame(str_rows, "id long, s string, hx string").createOrReplaceTempView("__shim_strs")
    spark.createDataFrame(hex_rows, "id long, h string").createOrReplaceTempView("__shim_hex")
    spark.createDataFrame(vec_rows, "id long, u array<double>, v array<double>") \
        .createOrReplaceTempView("__shim_vecs")
    duck.execute("CREATE OR REPLACE TABLE __shim_ints AS SELECT * FROM (VALUES "
                 + ", ".join(f"({i}, CAST({a} AS BIGINT), CAST({b} AS BIGINT))" for i, a, b in int_rows)
                 + ") t(id, a, b)")
    duck.execute("CREATE OR REPLACE TABLE __shim_strs(id BIGINT, s VARCHAR, hx VARCHAR)")
    duck.executemany("INSERT INTO __shim_strs VALUES (?, ?, ?)", str_rows)
    duck.execute("CREATE OR REPLACE TABLE __shim_hex(id BIGINT, h VARCHAR)")
    duck.executemany("INSERT INTO __shim_hex VALUES (?, ?)", hex_rows)
    duck.execute("CREATE OR REPLACE TABLE __shim_vecs(id BIGINT, u DOUBLE[], v DOUBLE[])")
    duck.executemany("INSERT INTO __shim_vecs VALUES (?, ?, ?)", vec_rows)
    return spark, duck


def _compare(engines, table: str, exprs_fn) -> None:
    """exprs_fn(dialect) -> list of select expressions; compare full sorted
    result sets across engines."""
    spark, duck = engines
    sp_sql = f"SELECT id, {', '.join(exprs_fn(SPARK))} FROM {table} ORDER BY id"
    du_sql = f"SELECT id, {', '.join(exprs_fn(DUCKDB))} FROM {table} ORDER BY id"
    sp = [tuple(r) for r in spark.sql(sp_sql).collect()]
    du = [tuple(r) for r in duck.execute(du_sql).fetchall()]
    assert len(sp) == len(du)
    for rs, rd in zip(sp, du):
        assert rs == rd, f"row {rs[0]}: spark={rs} duckdb={rd}"


def test_integer_division_shims(engines):
    # idiv documents nonneg-only use; _tdiv must agree everywhere
    _compare(engines, "__shim_ints", lambda d: [
        f"CAST({g.idiv(d, 'abs(a)', 'b')} AS BIGINT) AS nonneg_idiv",
        f"CAST({_tdiv(d, 'a', 'b')} AS BIGINT) AS tdiv",
        f"CAST({g.idiv(d, 'abs(a)', 'b')} * b + abs(a) % b AS BIGINT) AS recompose",
    ])


def test_bit_shims(engines):
    _compare(engines, "__shim_ints", lambda d: [
        f"CAST({g.bxor(d, 'abs(a) % 65536', 'b % 65536')} AS BIGINT) AS x",
        f"CAST({g.shl(d, 'abs(a) % 1024', 'b % 16')} AS BIGINT) AS sl",
        f"CAST({g.shr(d, 'abs(a)', 'b % 16')} AS BIGINT) AS sr",
    ])


def test_hex_shim(engines):
    _compare(engines, "__shim_hex", lambda d: [
        f"CAST({g.hex_to_int(d, 'h')} AS BIGINT) AS v",
    ])
    # unhex then UTF-8 decode round-trips every string, multi-byte ones too
    _compare(engines, "__shim_strs", lambda d: [
        g.utf8_decode(d, "unhex(hx)") + " AS decoded",
        f"CAST({g.utf8_decode(d, 'unhex(hx)')} = s AS INT) AS round_trips",
    ])


def test_vector_shims(engines):
    """Both engines fold in index order over DOUBLEs, so the values are
    bit-identical, not just close. The one exception is a cosine of
    parallel vectors: the Spark fold can land one ulp above 1 where DuckDB
    never exceeds 1, which is why operators round cosines to 6 places."""
    _compare(engines, "__shim_vecs", lambda d: [
        g.cosine_expr(d, "u", "v") + " AS cos",
        g.dot_expr(d, "u", "v") + " AS dot",
        g.l2_expr(d, "u", "v") + " AS l2",
        f"round({g.cosine_expr(d, 'u', 'u')}, 6) AS cos_self",
    ])


def test_regex_shims(engines):
    _compare(engines, "__shim_strs", lambda d: [
        g.rr(d, "s", "[0-9]+", "#") + " AS digits_repl",
        g.rr(d, "s", "[^a-zA-Z0-9 ]") + " AS strip_punct",
        f"CAST({g.rx(d, 's', '[0-9]')} AS INT) AS has_digit",
        f"CAST({g.rx(d, 's', '^[a-z ]+$')} AS INT) AS all_lower",
        g.re_extract(d, "s", "([a-z]+)", 1) + " AS first_word",
        f"CAST({g.re_extract_all_count(d, 's', '[aeiou]')} AS BIGINT) AS vowels",
        f"CAST({g.count_chars(d, 's', chr(39) + ',.' + chr(39))} AS BIGINT) AS commas_dots",
    ])


def test_split_and_array_shims(engines):
    def exprs(d):
        toks = g.arr_filter_nonempty(d, g.split_re(d, "lower(s)", "[^a-z0-9]+"))
        # element_at diverges OUT OF BOUNDS: Spark (ANSI) raises where DuckDB
        # returns NULL — every operator use is in-bounds by construction, and
        # this battery documents the constraint by guarding the probe
        head = (f"CASE WHEN {g.arr_len(d, toks)} > 0 "
                f"THEN {g.element_at(d, toks, 1)} ELSE '<none>' END")
        last = (f"CASE WHEN {g.arr_len(d, toks)} > 0 "
                f"THEN {g.element_at(d, toks, -1)} ELSE '<none>' END")
        return [
            f"CAST({g.arr_len(d, toks)} AS BIGINT) AS n_toks",
            g.arr_join(d, toks, "|") + " AS joined",
            g.arr_join(d, g.arr_slice(d, toks, "1", "2"), "-") + " AS first2",
            head + " AS head",
            last + " AS last",
        ]
    _compare(engines, "__shim_strs", exprs)


def test_explode_seq_shim(engines):
    spark, duck = engines
    sp = sorted(
        tuple(r) for r in spark.sql(
            f"SELECT id, {g.explode_seq(SPARK, 1, 'CAST(1 + id % 4 AS INT)')} AS i "
            "FROM __shim_ints WHERE id < 20"
        ).collect()
    )
    du = sorted(
        duck.execute(
            f"SELECT id, {g.explode_seq(DUCKDB, 1, '1 + id % 4')} AS i "
            "FROM __shim_ints WHERE id < 20"
        ).fetchall()
    )
    assert sp == du


def test_agg_ordered_shims(engines):
    def exprs(d):
        return [
            g.agg_ordered(d, "s", "id", "~") + " AS cat",
            g.arr_join(d, g.arr_agg_ordered(d, "s", "id"), "~") + " AS arr_cat",
            g.arg_min_by(d, "s", "id") + " AS first_s",
            g.arg_max_by(d, "s", "id") + " AS last_s",
        ]
    spark, duck = engines
    sp_sql = f"SELECT {', '.join(exprs(SPARK))} FROM __shim_strs WHERE s <> ''"
    du_sql = f"SELECT {', '.join(exprs(DUCKDB))} FROM __shim_strs WHERE s <> ''"
    assert [tuple(r) for r in spark.sql(sp_sql).collect()] == \
        [tuple(r) for r in duck.execute(du_sql).fetchall()]
