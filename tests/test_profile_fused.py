"""The feature matrix that ``profile_features_from_long`` builds on Spark
(staged histogram + the fused statement) must equal the four standalone
DuckDB oracle statements (scalar, text length, char entropy, numeric)
joined on column_name, with the matrix's -1 fill for absent values; and
its feature gating must drop whole families from the fused statement, not
just from the projection. Both histogram branches are covered: the
one-partition histogram (what AQE leaves for a histogram of up to about
1 MB of shuffle output, as these are) and a multi-partition one, forced by
turning AQE's partition coalescing off."""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd
import pytest

from serene_spark.catalog import COLUMNS, load_table
from serene_spark.functions.melt import melt_ids, melt_sql
from serene_spark.functions.sqlgen import DUCKDB
from serene_spark.ml import pipeline
from serene_spark.ml.pipeline import profile_features_from_long
from serene_spark.operators.profile_chardist import char_entropy_sql
from serene_spark.operators.profile_scalar import profile_scalar_sql
from serene_spark.operators.profile_textstats import numeric_stats_sql, textlen_stats_sql


COALESCE_CONF = "spark.sql.adaptive.coalescePartitions.enabled"
SHUFFLE_NODES = ("ShuffleExchange", "ShuffleQueryStage")


def _fused(spark, sf_dir: str, table: str) -> pd.DataFrame:
    long_df, name_case = melt_ids(load_table(spark, sf_dir, table))
    return profile_features_from_long(spark, long_df, name_case=name_case).toPandas()


@contextmanager
def _histograms(spark, partitions: str):
    """Run the block with one-partition histograms (the default: AQE
    coalesces these small ones to one partition) or multi-partition ones
    (AQE's coalescing off keeps every shuffle partition), i.e. on either
    branch of profile_features_from_long. A tiny advisory partition size
    would not split them: under the default ``parallelismFirst`` AQE
    ignores it and coalesces towards the 1 MB ``minPartitionSize``."""
    prev = spark.conf.get(COALESCE_CONF)
    spark.conf.set(COALESCE_CONF, str(partitions == "one").lower())
    try:
        yield
    finally:
        spark.conf.set(COALESCE_CONF, prev)


def _traced_fused(spark, sf_dir: str, table: str, monkeypatch):
    """The staged histogram's partition count, the fused statement's
    executed plan, and the jobs started between the two barriers (the
    partition check, the view, the fused statement's analysis)."""
    sc = spark.sparkContext
    group = "profile-fused-between-barriers"
    real = pipeline.materialize
    hist, fused, between = [], [], []

    def spy(df):
        if hist:  # the fused statement
            between.extend(sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", None)
            fused.append(df)
            return real(df)
        hist.append(real(df))
        sc.setJobGroup(group, group)
        return hist[0]

    monkeypatch.setattr(pipeline, "materialize", spy)
    try:
        _fused(spark, sf_dir, table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = fused[0]._jdf.queryExecution().executedPlan().toString()
    return hist[0].rdd.getNumPartitions(), plan, between


def _four_way(duck, table: str) -> pd.DataFrame:
    long_rel = f"({melt_sql(table, COLUMNS[table])})"
    out = duck.execute(profile_scalar_sql(long_rel, DUCKDB)).fetchdf()
    tl = duck.execute(textlen_stats_sql(long_rel, DUCKDB)).fetchdf()[
        ["column_name", "mean_len", "median_len", "mode_len", "min_len", "max_len"]
    ]
    ce = duck.execute(char_entropy_sql(long_rel, DUCKDB)).fetchdf()[
        ["column_name", "shannon_char_entropy"]
    ]
    nm = duck.execute(numeric_stats_sql(long_rel, DUCKDB)).fetchdf()[
        ["column_name", "mean_num", "median_num", "min_num", "max_num"]
    ]
    for extra in (tl, ce, nm):
        out = out.merge(extra, on="column_name", how="left")
    return out


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values("column_name").reset_index(drop=True)
    return df.astype({c: float for c in df.columns if c != "column_name"}).fillna(-1.0)


BRANCHES = pytest.mark.parametrize("partitions", ["one", "multi"])


@BRANCHES
def test_fused_equals_four_way_customer(spark, sf_dir, duck, partitions):
    with _histograms(spark, partitions):
        a = _norm(_fused(spark, sf_dir, "customer"))
    pd.testing.assert_frame_equal(a, _norm(_four_way(duck, "customer")))


@BRANCHES
def test_fused_equals_four_way_orders(spark, sf_dir, duck, partitions):
    with _histograms(spark, partitions):
        a = _norm(_fused(spark, sf_dir, "orders"))
    pd.testing.assert_frame_equal(a, _norm(_four_way(duck, "orders")))


def test_one_partition_histogram_plans_no_shuffle(spark, sf_dir, monkeypatch):
    with _histograms(spark, "one"):
        parts, plan, between = _traced_fused(spark, sf_dir, "customer", monkeypatch)
    assert parts == 1
    assert between == [], "the partition check or the view started a Spark job"
    assert "BroadcastQueryStage" in plan
    assert not any(node in plan for node in SHUFFLE_NODES), plan


def test_multi_partition_histogram_keeps_its_plan(spark, sf_dir, monkeypatch):
    with _histograms(spark, "multi"):
        parts, plan, between = _traced_fused(spark, sf_dir, "customer", monkeypatch)
    assert parts > 1
    assert between == []
    assert "ShuffleQueryStage" in plan
    assert "Coalesce" not in plan, plan


def test_fused_gating_drops_families(spark, sf_dir, monkeypatch):
    from serene_spark.ml.feature_settings import ALL_FEATURES, FeatureSettings

    settings = FeatureSettings(
        active_features=ALL_FEATURES - {"shannon-entropy"},
        active_feature_groups=frozenset({"stats-of-numerical-type"}),
    )
    submitted: list[str] = []
    sql = type(spark).sql

    def spy(self, text, *args, **kwargs):
        submitted.append(text)
        return sql(self, text, *args, **kwargs)

    monkeypatch.setattr(type(spark), "sql", spy)
    long_df, name_case = melt_ids(load_table(spark, sf_dir, "customer"))
    slim = profile_features_from_long(spark, long_df, settings=settings, name_case=name_case)
    fused = submitted[-1]
    assert "scalar_out" in fused and "nm_out" in fused
    assert "tl_out" not in fused and "ce_out" not in fused
    assert slim.columns == ["column_name", *settings.matrix_columns()]
    assert "mean_len" not in slim.columns
    assert "shannon_char_entropy" not in slim.columns
    assert "mean_num" in slim.columns
