"""Relations are bound per statement (``catalog.bound_sql``), never as
session temp views: a query leaves the session catalog as it found it."""

from __future__ import annotations

# one query of each runner kind
RUNNER_KINDS = {
    "resample_upsample_max": "sql_runner",
    "corpus_select": "sql_runner with stages",
    "profile_scalar_customer": "run_over_melt",
    "numeric_stats_customer": "run_over_melt with a stage",
    "q1_pricing_summary": "relational, spread projections",
    "kmeans_converged": "iterated to convergence",
    "dedup_canonical_select": "stages a DataFrame loop's labels",
    "semantic_type_predict": "feature matrix + classifier",
}


def _views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


def test_bound_sql_merges_with_and_keeps_literal_braces(spark):
    from serene_spark.catalog import bound_sql

    before = _views(spark)
    out = bound_sql(
        spark,
        "WITH t AS (SELECT id FROM nums WHERE id > 1)\n"
        "SELECT regexp_extract('ab12', '[a-z]{2}', 0) AS m, COUNT(*) AS n FROM t",
        {"nums": spark.range(4), "unread": spark.range(9)},
    )
    assert [tuple(r) for r in out.collect()] == [("ab", 2)]
    # PySpark drops its per-statement views once the statement is analyzed
    assert _views(spark) == before


def test_queries_leave_the_catalog_unchanged(spark, sf_dir):
    from serene_spark.registry import load_all

    queries = load_all()
    grew = {}
    for name in RUNNER_KINDS:
        before = _views(spark)
        queries[name].spark(spark, sf_dir)
        # twice: a per-call view name would grow the catalog on every call
        queries[name].spark(spark, sf_dir).limit(1).collect()
        if _views(spark) != before:
            grew[name] = sorted(_views(spark) - before)
    assert grew == {}
