"""Incremental-train-size evaluation harness (SURVEY §2.11).

Reference: RfKnnSemanticTypeClassifierEvaluationProcess.scala:30-297 (the
code is commented out but the shipped evaluate.sh pipeline drives the same
experiment): hold out a stratified test set, grow the training proportion in
increments, repeat each setting, and report per-class accuracies plus
mean/variance summaries (output rows ``trainSize,testSize,rep,class,acc``
and ``trainSize,testSize,class,mean,variance``, :245-289).

Spark shape: features are profiled ONCE (the expensive long-format
aggregation pass over the data) and cached; the (proportion × repetition)
loop then trains on column-metadata-sized subsets — a driver loop around
``pyspark.ml`` fits, exactly like the reference's offline harness. Splits are
deterministic (md5 of column name + seed + repetition), stratified per class.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SEED = 5123219  # the resampler seed, reused (ClassImbalanceResampler.scala:40)


def _rank_key(name: str, seed: int, rep: int) -> str:
    return hashlib.md5(f"{seed}:{rep}:{name}".encode()).hexdigest()


def incremental_train_eval(
    spark: SparkSession,
    long_df: DataFrame,
    labels_df: DataFrame,
    proportions: tuple[float, ...] = (0.2, 0.5, 1.0),
    repetitions: int = 1,
    test_prop: float = 0.3,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """Returns one row per (train_prop, rep, class): ``n_test`` and
    ``accuracy``, plus the realized ``n_train``. ``train_prop`` scales the
    non-test pool, mirroring the reference's growing-train-proportion sweep.
    """
    from serene_spark.ml.pipeline import (
        predict_semantic_types,
        profile_features_from_long,
        train_semantic_classifier,
    )

    feats = profile_features_from_long(spark, long_df)
    labels = {r["column_name"]: r["class"] for r in labels_df.collect()}

    by_class: dict[str, list[str]] = {}
    for col, cls in labels.items():
        by_class.setdefault(cls, []).append(col)

    out_rows = []
    for rep in range(1, repetitions + 1):
        # stratified split: per class, hash-order columns; first test_prop
        # go to the fixed test set, the rest form the train pool
        test_cols: set[str] = set()
        pool: dict[str, list[str]] = {}
        for cls, cols in sorted(by_class.items()):
            ranked = sorted(cols, key=lambda c: _rank_key(c, seed, rep))
            n_test = max(1, int(round(test_prop * len(ranked)))) if len(ranked) > 1 else 0
            test_cols.update(ranked[:n_test])
            pool[cls] = ranked[n_test:]

        test_labels = {c: labels[c] for c in test_cols}
        test_feats = feats.filter(F.col("column_name").isin(list(test_cols)))

        for prop in proportions:
            train_cols = [
                c
                for cls, cols in sorted(pool.items())
                for c in cols[: max(1, int(round(prop * len(cols))))]
            ]
            train_labels_df = spark.createDataFrame(
                [(c, labels[c]) for c in train_cols], "column_name string, class string"
            )
            model, conv = train_semantic_classifier(
                spark, feats.join(F.broadcast(train_labels_df), "column_name")
            )
            preds = {
                r["column_name"]: r["predicted_class"]
                for r in predict_semantic_types(model, conv, test_feats).collect()
            }
            per_class: dict[str, list[int]] = {}
            for col, gold in test_labels.items():
                per_class.setdefault(gold, []).append(1 if preds.get(col) == gold else 0)
            for cls, hits in sorted(per_class.items()):
                out_rows.append(
                    (prop, test_prop, rep, cls, len(train_cols), len(hits), sum(hits) / len(hits))
                )

    return spark.createDataFrame(
        out_rows,
        "train_prop double, test_prop double, rep int, class string, "
        "n_train int, n_test int, accuracy double",
    )


def summarize_eval(results: DataFrame) -> DataFrame:
    """Mean/variance per (train_prop, class) over repetitions, plus the
    class-averaged accuracy — the reference's two summary CSVs (:266-289)."""
    per_class = results.groupBy("train_prop", "class").agg(
        F.round(F.avg("accuracy"), 6).alias("mean_accuracy"),
        F.round(F.coalesce(F.var_samp("accuracy"), F.lit(0.0)), 6).alias("var_accuracy"),
    )
    overall = (
        results.groupBy("train_prop", "rep")
        .agg(F.avg("accuracy").alias("class_avg"))
        .groupBy("train_prop")
        .agg(
            F.round(F.avg("class_avg"), 6).alias("mean_accuracy"),
            F.round(F.coalesce(F.var_samp("class_avg"), F.lit(0.0)), 6).alias("var_accuracy"),
        )
        .withColumn("class", F.lit("__class_averaged__"))
        .select("train_prop", "class", "mean_accuracy", "var_accuracy")
    )
    return per_class.unionByName(overall).orderBy("train_prop", "class")
