"""Replicates the driver's correctness gate at sf0.001 for every registered
query that carries an oracle: row count + columns + exact values."""

from __future__ import annotations

import pytest

from serene_spark.registry import load_all

QUERIES = load_all()
ORACLE_NAMES = sorted(n for n, q in QUERIES.items() if q.oracle is not None)
ROWS_ONLY_NAMES = sorted(n for n, q in QUERIES.items() if q.oracle is None)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(name, spark, duck, sf_dir):
    import sys

    sys.path.insert(0, "tools")
    from parity import compare

    q = QUERIES[name]
    sdf = q.spark(spark, sf_dir).toPandas()
    odf = duck.sql(q.oracle).df()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_runs(name, spark, sf_dir):
    from serene_spark.reference import missing

    q = QUERIES[name]
    absent = missing(q.requires)
    if absent:
        pytest.skip(f"fixtures not present: {', '.join(absent)}")
    df = q.spark(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_consistent():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert qs, "no queries registered"
