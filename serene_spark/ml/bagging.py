"""Bagged training and prediction for the semantic-type classifier (§2.9).

The reference's bagging path trains the RF on PER-BAG feature vectors — each
bag is a with-replacement sample of a column's values and contributes one
training instance (FeatureExtractorUtil.scala:123-253) — and, at predict
time, scores every bag of a test column and averages the score vectors per
attribute before the argmax (MLibSemanticTypeClassifier.scala:154-166).

This module wires those two halves end-to-end on Spark:

- bag membership comes from the §2.8 deterministic-hash bagging SQL
  (operators/resample.py — reproducible on any engine/partitioning);
- each (column, bag) becomes a pseudo-column ``name#bagK`` of the long
  relation, so the ordinary profiling aggregations compute per-bag features
  with NO new feature code — one groupBy over (pseudo-column, value), the
  same scale shape as unbagged profiling (bags multiply rows by
  n_bags x bag_size / n_values, all map-side);
- prediction reuses ``predict_with_scores(bag_col=...)`` bag-averaging.

The >0.9 bagging accuracy gate (SparkParallelSpec.scala:449-500) runs over
the homeseekers-analog fixture in tests/test_homeseekers.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BAG_SEP = "#bag"  # never appears in fixture/corpus column names


def bag_long(
    spark: SparkSession, long_df: DataFrame, n_bags: int, bag_size: int
) -> DataFrame:
    """(column_name, value) -> (``column#bagK``, value): ``n_bags`` bags of
    ``bag_size`` with-replacement samples per column, deterministic-hash
    membership (ClassImbalanceResampler.scala:186-270 semantics)."""
    from serene_spark.catalog import bound_sql
    from serene_spark.functions.sqlgen import SPARK
    from serene_spark.operators.resample import bagging_sql

    bags = bound_sql(
        spark,
        bagging_sql(SPARK, None, long_rel="__serene_bag_src", n_bags=n_bags, bag_size=bag_size),
        {"__serene_bag_src": long_df},
    )
    return bags.select(
        F.concat(
            F.col("column_name"), F.lit(BAG_SEP), F.col("bag").cast("string")
        ).alias("column_name"),
        "value",
    )


def split_bag_key(df: DataFrame) -> DataFrame:
    """Recover (original column, bag index) from the pseudo-column key."""
    return df.withColumn(
        "orig_column", F.expr(f"substring_index(column_name, '{BAG_SEP}', 1)")
    ).withColumn(
        "bag", F.regexp_extract("column_name", f"{BAG_SEP}([0-9]+)$", 1).cast("int")
    )


def train_on_bags(
    spark: SparkSession,
    train_long: DataFrame,
    labels_df: DataFrame,
    n_bags: int = 10,
    bag_size: int = 50,
):
    """Fit the reference RF on per-bag feature vectors.

    Each bag inherits its source column's label; the classifier sees
    ``n_bags`` instances per labeled column (FeatureExtractorUtil.scala:
    123-253). Returns ``(model, classes)`` — classes in sorted label order
    for the score-map reorder at predict.
    """
    from serene_spark.ml.pipeline import (
        profile_features_from_long,
        train_semantic_classifier,
    )

    bagged = bag_long(spark, train_long, n_bags, bag_size)
    feats = split_bag_key(profile_features_from_long(spark, bagged))
    train = feats.join(
        labels_df.withColumnRenamed("column_name", "orig_column"), "orig_column"
    ).drop("orig_column", "bag")
    model, _conv = train_semantic_classifier(spark, train)
    classes = sorted(r["class"] for r in labels_df.select("class").distinct().collect())
    return model, classes


def predict_bagged(
    spark: SparkSession,
    model,
    test_long: DataFrame,
    classes: list[str],
    n_bags: int = 10,
    bag_size: int = 50,
) -> DataFrame:
    """Score every bag of each test column, then bag-average the score
    vectors per original column before the argmax
    (MLibSemanticTypeClassifier.scala:154-166). Output schema matches
    ``predict_semantic_types`` plus the full score map."""
    from serene_spark.ml.pipeline import predict_with_scores, profile_features_from_long

    bagged = bag_long(spark, test_long, n_bags, bag_size)
    feats = split_bag_key(profile_features_from_long(spark, bagged))
    per_bag = feats.drop("column_name").withColumnRenamed("orig_column", "column_name")
    return predict_with_scores(model, per_bag, classes, bag_col="bag")


# --- oracle-checked per-bag feature extraction -------------------------------


def bag_profile_sql(dialect: str) -> str:
    """Per-bag scalar profiling features over the customer bagging demo, as
    ONE dialect-shared statement: the §2.8 bag relation re-keyed to
    ``column#bagK`` pseudo-columns feeding the §2.3 histogram-cascade
    profiler — the oracle-checkable core of FeatureExtractorUtil.scala's
    per-bag feature extraction (:123-253)."""
    from serene_spark.operators.profile_scalar import profile_scalar_sql
    from serene_spark.operators.resample import bagging_sql

    inner = profile_scalar_sql("bag_long", dialect).lstrip()
    assert inner.startswith("WITH ")
    return (
        "WITH bag_long AS (\n"
        "  SELECT column_name || '#bag' || CAST(bag AS STRING) AS column_name, value\n"
        f"  FROM ({bagging_sql(dialect)}) b\n"
        "),\n" + inner[len("WITH "):]
    )


def _register():
    from serene_spark.functions.sqlgen import DUCKDB, SPARK
    from serene_spark.operators.profile_scalar import profile_scalar_sql
    from serene_spark.registry import register

    @register(
        "bag_profile_features",
        oracle=bag_profile_sql(DUCKDB),
        doc="per-bag scalar profiling features over the customer bagging demo "
        "(§2.8 deterministic bags -> §2.3 histogram cascade; the per-bag "
        "feature-vector unit the bagged RF trains on)",
    )
    def bag_profile_features(spark: SparkSession, sf_dir: str) -> DataFrame:
        from serene_spark.catalog import bound_sql, load_table
        from serene_spark.functions.melt import melt
        from serene_spark.operators.resample import BAG_SIZE, NUM_BAGS

        bagged = bag_long(
            spark, melt(load_table(spark, sf_dir, "customer")), NUM_BAGS, BAG_SIZE
        )
        return bound_sql(
            spark, profile_scalar_sql("__serene_bagfeat", SPARK), {"__serene_bagfeat": bagged}
        )


_register()
