"""REAL homeseekers.csv end-to-end accuracy gates (round-4 top item).

The reference's flagship matcher validation ("train and predict and check
accuracy" / "train and predict with bagging", SparkParallelSpec.scala:404-447
and :449-500) runs on its actual test dataset —
``core/src/test/resources/homeseekers.csv`` (2,367 data rows, 33 columns of
real-estate listings) — labeling 18 columns by position with 16 semantic
classes (SparkParallelSpec.scala:122-143 ``defaultLabels``), training the RF
on those columns' profiling features, predicting the SAME dataset, and
asserting accuracy > 0.9 over the labeled columns.

This module runs that exact protocol on the exact file, read-only, through
the repo's own CSV loader and profiling/train/predict pipeline. The round-3
gate (ml/homeseekers_fixture.py) proved >0.9 on a synthetic analog with a
stricter cross-source split; this closes the loop on the reference's own
benchmark data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serene_spark.registry import register
from serene_spark.materialize import constraint_propagation_off, materialize
from serene_spark.reference import reference_path, require

HOMESEEKERS_CSV = reference_path("core", "src", "test", "resources", "homeseekers.csv")

# SparkParallelSpec.scala:122-143 — 0-based header position -> class, verbatim.
DEFAULT_LABELS: dict[int, str] = {
    4: "address",
    5: "firm_name",
    7: "email",
    9: "price",
    10: "type",
    11: "mls",
    12: "levels",
    14: "phone",
    18: "phone",
    19: "year_built",
    21: "garage",
    24: "fireplace",
    25: "bathrooms",
    27: "size",
    29: "house_description",
    30: "heating",
    31: "phone",
    32: "bedrooms",
}


def load_homeseekers_long(spark: SparkSession):
    """(long_df, labels_df) for the labeled columns of the real CSV.

    Wide→long melt via one ``stack`` expression (a single narrow projection,
    no shuffle — the 100 TB-safe melt shape); labels applied by header
    POSITION exactly as the reference's ``createLabelMap``
    (SparkParallelSpec.scala:272-282 indexes ``ds.columns`` in header order).
    """
    from serene_spark.sources.csv_loader import load_csv

    require(HOMESEEKERS_CSV)
    wide = load_csv(spark, HOMESEEKERS_CSV)
    cols = wide.columns
    pairs = ", ".join(
        f"'{cols[i]}', coalesce(`{cols[i]}`, '')" for i in sorted(DEFAULT_LABELS)
    )
    long_df = wide.selectExpr(
        f"stack({len(DEFAULT_LABELS)}, {pairs}) as (column_name, value)"
    )
    # Materialize the (tiny: 18 x 2,367 rows) long relation. The loader's
    # header-drop filter is a 33-column conjunction; under the 18-branch
    # stack, Catalyst's constraint propagation (getAllValidConstraints)
    # explodes combinatorially on that lineage — observed as a driver OOM
    # during optimization of any downstream agg. Cutting lineage here makes
    # every consumer plan against a leaf relation instead. The barrier plan
    # ITSELF still pays the explosion at this eager action (measured 52-57 s
    # of driver planning, r13), so the pass is scoped off around it — rows
    # verified identical, see constraint_propagation_off.
    with constraint_propagation_off(spark):
        long_df = long_df.transform(materialize)
    labels_df = spark.createDataFrame(
        sorted((cols[i], c) for i, c in DEFAULT_LABELS.items()),
        "column_name string, class string",
    )
    return long_df, labels_df


def train_and_predict_real(spark: SparkSession, n_bags: int = 0, bag_size: int = 0):
    """The SparkParallelSpec:404-447 protocol on the real file: train on the
    18 labeled columns (NoResampling), predict the same columns, return
    (predictions_df, labels_df). ``n_bags``/``bag_size`` > 0 runs the :449-500
    bagging variant (numBags=50, bagSize=50 in the reference)."""
    long_df, labels_df = load_homeseekers_long(spark)

    if n_bags > 0:
        from serene_spark.ml.bagging import predict_bagged, train_on_bags

        model, classes = train_on_bags(
            spark, long_df, labels_df, n_bags=n_bags, bag_size=bag_size
        )
        preds = predict_bagged(
            spark, model, long_df, classes, n_bags=n_bags, bag_size=bag_size
        )
    else:
        from serene_spark.ml.pipeline import (
            predict_semantic_types,
            profile_features_from_long,
            train_semantic_classifier,
        )

        features = profile_features_from_long(spark, long_df)
        model, conv = train_semantic_classifier(
            spark, features.join(labels_df, "column_name")
        )
        preds = predict_semantic_types(model, conv, features)
    return preds, labels_df


def accuracy(preds: DataFrame, labels_df: DataFrame) -> float:
    """Share of labeled columns whose predicted class equals the true class
    (the :430-440 zip-and-score, as one tiny join)."""
    joined = preds.join(labels_df, "column_name")
    n = joined.count()
    hits = joined.filter(F.col("predicted_class") == F.col("class")).count()
    return hits / n if n else 0.0


@register(
    "semantic_type_predict_homeseekers_real",
    oracle=None,  # ML on the reference's own CSV — rows-only check
    doc="SURVEY §2.9 accuracy gate on the REAL homeseekers.csv "
    "(SparkParallelSpec.scala:404-447): 18 labeled columns, NoResampling, "
    "resubstitution predict; >0.9 gate pinned in tests/test_homeseekers_real.py",
    requires=(HOMESEEKERS_CSV,),
)
def semantic_type_predict_homeseekers_real(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    preds, labels = train_and_predict_real(spark)
    return (
        preds.join(labels, "column_name")
        .select("column_name", "predicted_class", "class", "confidence")
        .orderBy("column_name")
    )
