"""Cross-dialect equivalence of the sqlgen helpers: the same generated SQL
expression must produce identical values on Spark and DuckDB for adversarial
strings (the whole oracle gate rests on these shims)."""

from __future__ import annotations

import duckdb
import pytest

from serene_spark.functions.sqlgen import (
    DUCKDB,
    SPARK,
    arr_agg_ordered,
    arr_len,
    count_chars,
    element_at,
    explode_seq,
    idiv,
    split_re,
)

# adversarial: empties, unicode, control chars, regex metachars, long runs
CASES = [
    "",
    " ",
    "hello world",
    "a,b,,c",
    "tab\there",
    "nl\nline",
    "cr\rhere",
    "ünïcødé πß",
    "a.b*c+d(e)f[g]h",
    "123-456",
    "  padded  ",
    "$$$///---",
    "x" * 300,
    "Mixed CASE 42 Words",
]


def _spark_vals(spark, expr: str) -> list:
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i, s) for i, s in enumerate(CASES)], "id long, s string")
    return [r["v"] for r in df.select(F.expr(expr).alias("v")).orderBy("id").collect()]


def _duck_vals(expr: str) -> list:
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(CASES)))
    return [r[0] for r in con.execute(f"SELECT {expr} AS v FROM t ORDER BY id").fetchall()]


def test_count_chars_dialects(spark):
    chars = "(' ' || chr(9) || chr(10) || chr(13))"
    s = _spark_vals(spark, count_chars(SPARK, "s", chars))
    d = _duck_vals(count_chars(DUCKDB, "s", chars))
    assert s == d
    letters = "'abcdefghijklmnopqrstuvwxyz'"
    assert _spark_vals(spark, count_chars(SPARK, "s", letters)) == _duck_vals(
        count_chars(DUCKDB, "s", letters)
    )


def test_split_and_len_dialects(spark):
    expr_s = arr_len(SPARK, split_re(SPARK, "s", "[^a-z0-9]+"))
    expr_d = arr_len(DUCKDB, split_re(DUCKDB, "s", "[^a-z0-9]+"))
    assert _spark_vals(spark, expr_s) == _duck_vals(expr_d)


def test_element_at_dialects(spark):
    for idx in (1, -1):  # -1: the last element
        expr_s = element_at(SPARK, split_re(SPARK, "s", " "), idx)
        expr_d = element_at(DUCKDB, split_re(DUCKDB, "s", " "), idx)
        assert _spark_vals(spark, expr_s) == _duck_vals(expr_d), idx


def test_idiv_dialects(spark):
    assert _spark_vals(spark, idiv(SPARK, "length(s)", 3)) == _duck_vals(
        idiv(DUCKDB, "length(s)", 3)
    )


def test_arr_agg_ordered_dialects(spark):
    """Aggregate CASES's lengths in id order — one grouped row per parity."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(CASES)], "id long, s string"
    )
    sv = df.agg(
        F.expr(arr_agg_ordered(SPARK, "length(s)", "id")).alias("v")
    ).first()["v"]

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(CASES)))
    dv = con.execute(
        f"SELECT {arr_agg_ordered(DUCKDB, 'length(s)', 'id')} FROM t"
    ).fetchone()[0]
    assert list(sv) == list(dv)


def test_explode_seq_dialects(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(3,), (1,), (0,)], "n long")
    sv = sorted(
        tuple(r)
        for r in df.where("n >= 1")
        .select("n", F.expr(explode_seq(SPARK, 1, "n")).alias("i"))
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (n BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(3,), (1,), (0,)])
    dv = sorted(
        tuple(r)
        for r in con.execute(
            f"SELECT n, {explode_seq(DUCKDB, 1, 'n')} AS i FROM t WHERE n >= 1"
        ).fetchall()
    )
    assert sv == dv


def test_repetition_ngram_boundary_semantics():
    """'cat dog.' must yield one 2-gram and no 3-gram: boundary-empty tokens
    from the regex split must not become phantom n-grams. Both engines share
    the generated SQL, so the parity gate cannot catch this class of bug —
    pin the semantics against DuckDB directly."""
    from serene_spark.operators.text_analysis import repetition_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        [
            (1, "cat dog."),          # trailing punct -> 2 tokens, 1 bigram, 0 trigrams
            (2, "go go go go"),       # pure repetition
            (3, "x"),                 # <2 tokens -> all-zero row via left join
        ],
    )
    rows = {r[0]: r[1:] for r in con.execute(repetition_sql(DUCKDB)).fetchall()}
    # doc 1: one 2-gram total -> top_2gram_frac = 1.0; no 3-grams -> 0.0
    assert rows[1][1] == 1.0 and rows[1][2] == 0.0
    # doc 2: every token duplicated, single repeated 2-gram and 3-gram
    assert rows[2][0] == 1.0 and rows[2][1] == 1.0 and rows[2][2] == 1.0
    # doc 3: too short for any n-gram stats, and the gate passes trivially
    assert rows[3] == (0.0, 0.0, 0.0, 1.0)


def test_doc_chunks_adversarial_parity(spark):
    """doc_chunks must agree across engines and keep every document — exactly
    one empty chunk for NULL/empty/punct-only text (the corpus has no such
    docs, so the sf gates can't cover this)."""
    from serene_spark.operators.text_analysis import doc_chunks_sql

    docs = [
        (1, " ".join(f"w{i % 7}" for i in range(80))),  # 80 tokens -> 3 chunks
        (2, "...!!!"),
        (3, None),
        (4, ""),
        (5, "one two"),
    ]
    spark.createDataFrame(docs, "doc_id long, text string").createOrReplaceTempView(
        "documents"
    )
    got_spark = sorted(tuple(r) for r in spark.sql(doc_chunks_sql(SPARK)).collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    got_duck = sorted(tuple(r) for r in con.execute(doc_chunks_sql(DUCKDB)).fetchall())

    assert got_spark == got_duck
    by_doc = {}
    for doc_id, ci, text, n in got_spark:
        by_doc.setdefault(doc_id, []).append((ci, text, n))
    assert len(by_doc[1]) == 3 and by_doc[1][0][2] == 32
    for d in (2, 3, 4):
        assert by_doc[d] == [(1, "", 0)], by_doc[d]
    assert by_doc[5] == [(1, "one two", 2)]


def test_epoch_us_dialects(spark):
    """epoch_us must be exact micros in both engines, including pre-1970 and
    sub-second timestamps (no flooring — unlike epoch_s)."""
    from serene_spark.functions.sqlgen import epoch_us

    stamps = [
        "1969-12-31 23:59:59.999999",
        "1970-01-01 00:00:00.000001",
        "2024-06-01 12:34:56.789012",
        "1950-03-04 05:06:07.000123",
    ]
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(
        [(i, s) for i, s in enumerate(stamps)], "id long, s string"
    ).select("id", F.col("s").cast("timestamp").alias("ts"))
    got_s = [
        r["v"]
        for r in sdf.select(F.expr(epoch_us(SPARK, "ts")).alias("v")).orderBy("id").collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE tt (id BIGINT, ts TIMESTAMP)")
    con.executemany("INSERT INTO tt VALUES (?, CAST(? AS TIMESTAMP))", list(enumerate(stamps)))
    got_d = [
        r[0]
        for r in con.execute(
            f"SELECT {epoch_us(DUCKDB, 'ts')} AS v FROM tt ORDER BY id"
        ).fetchall()
    ]
    assert got_s == got_d
