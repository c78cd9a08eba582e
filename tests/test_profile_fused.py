"""The feature matrix that ``profile_features_from_long`` builds on Spark
(staged histogram + the fused statement) must equal the four standalone
DuckDB oracle statements (scalar, text length, char entropy, numeric)
joined on column_name, with the matrix's -1 fill for absent values; and
its feature gating must drop whole families from the fused statement, not
just from the projection."""

from __future__ import annotations

import pandas as pd

from serene_spark.catalog import COLUMNS, load_table
from serene_spark.functions.melt import melt_ids, melt_sql
from serene_spark.functions.sqlgen import DUCKDB
from serene_spark.ml.pipeline import profile_features_from_long
from serene_spark.operators.profile_chardist import char_entropy_sql
from serene_spark.operators.profile_scalar import profile_scalar_sql
from serene_spark.operators.profile_textstats import numeric_stats_sql, textlen_stats_sql


def _fused(spark, sf_dir: str, table: str) -> pd.DataFrame:
    long_df, name_case = melt_ids(load_table(spark, sf_dir, table))
    return profile_features_from_long(spark, long_df, name_case=name_case).toPandas()


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


def test_fused_equals_four_way_customer(spark, sf_dir, duck):
    a, b = _norm(_fused(spark, sf_dir, "customer")), _norm(_four_way(duck, "customer"))
    pd.testing.assert_frame_equal(a, b)


def test_fused_equals_four_way_orders(spark, sf_dir, duck):
    a, b = _norm(_fused(spark, sf_dir, "orders")), _norm(_four_way(duck, "orders"))
    pd.testing.assert_frame_equal(a, b)


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
