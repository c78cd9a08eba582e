"""End-to-end semantic-type classification: train on 2 fixture tables,
predict the 3rd, accuracy > 0.9 (mirrors the reference's homeseekers
threshold, core/.../SparkParallelSpec.scala:436-438) + determinism."""

from __future__ import annotations

from pyspark.sql import functions as F


def _split_fixture(spark):
    from serene_spark.ml.pipeline import make_fixture_long, profile_features_from_long

    long_df, labels_df = make_fixture_long(spark, n_tables=3, n_rows=120)
    train_long = long_df.filter(~F.col("column_name").endswith("@table2"))
    test_long = long_df.filter(F.col("column_name").endswith("@table2"))
    train = profile_features_from_long(spark, train_long).join(labels_df, "column_name")
    test_feats = profile_features_from_long(spark, test_long)
    return train, test_feats, labels_df


def test_accuracy_above_threshold(spark):
    from serene_spark.ml.pipeline import predict_semantic_types, train_semantic_classifier

    train, test_feats, labels_df = _split_fixture(spark)
    model, conv = train_semantic_classifier(spark, train)
    preds = predict_semantic_types(model, conv, test_feats).join(labels_df, "column_name")
    rows = preds.collect()
    acc = sum(r["predicted_class"] == r["class"] for r in rows) / len(rows)
    assert acc > 0.9, f"accuracy {acc} on {len(rows)} columns"
    assert all(0.0 <= r["confidence"] <= 1.0 for r in rows)


def test_prediction_deterministic(spark):
    from serene_spark.ml.pipeline import predict_semantic_types, train_semantic_classifier

    train, test_feats, _ = _split_fixture(spark)
    out = []
    for _ in range(2):
        model, conv = train_semantic_classifier(spark, train)
        out.append(
            sorted(
                (r["column_name"], r["predicted_class"], r["confidence"])
                for r in predict_semantic_types(model, conv, test_feats).collect()
            )
        )
    assert out[0] == out[1]


def test_small_training_set_uses_fewer_trees(spark):
    """< 20 training rows => 10 trees (TrainMlib:164-171)."""
    from serene_spark.ml.pipeline import RF_TREES_SMALL, train_semantic_classifier

    train, _, _ = _split_fixture(spark)
    small = train.limit(15)
    model, _ = train_semantic_classifier(spark, small)
    assert model.stages[-1].getNumTrees == RF_TREES_SMALL


def test_cross_validation_grid_deterministic(spark):
    """do_cross_validation (TrainMlib:107-143): grid search selects RF params;
    with seed 10857171 the selection is deterministic. Grid shrunk for speed —
    the selection mechanics and seeding are what's under test."""
    from serene_spark.ml.pipeline import train_semantic_classifier

    train, test_feats, labels_df = _split_fixture(spark)
    picked = []
    for _ in range(2):
        model, _conv = train_semantic_classifier(
            spark,
            train,
            do_cross_validation=True,
            cv_folds=3,
            cv_depths=(2, 5),
            cv_trees=(5,),
            cv_impurities=("gini", "entropy"),
        )
        rf = model.stages[-1]
        picked.append((rf.getMaxDepth(), rf.getNumTrees, rf.getImpurity()))
    assert picked[0] == picked[1], f"CV selection not deterministic: {picked}"
    assert picked[0][0] in (2, 5) and picked[0][2] in ("gini", "entropy")
    # the selected model still predicts the held-out table accurately
    from serene_spark.ml.pipeline import predict_semantic_types
    from pyspark.ml.feature import IndexToString

    conv = IndexToString(
        inputCol="prediction", outputCol="predicted_class",
        labels=model.stages[0].labels,
    )
    preds = predict_semantic_types(model, conv, test_feats).join(labels_df, "column_name")
    rows = preds.collect()
    acc = sum(r["predicted_class"] == r["class"] for r in rows) / len(rows)
    # the shrunk 5-tree grid is deliberately weak; >0.9 is asserted for the
    # full-size pipeline in test_accuracy_above_threshold
    assert acc >= 0.75


def test_score_map_reorder_and_absent_class(spark):
    """predict_with_scores mirrors MLibSemanticTypeClassifier.scala:68-103:
    scores reordered to the user's class order; a class the model never saw
    scores exactly 0.0; per-row scores of present classes sum to ~1."""
    from serene_spark.ml.pipeline import (
        predict_with_scores,
        score_column_name,
        train_semantic_classifier,
    )

    train, test_feats, labels_df = _split_fixture(spark)
    model, _conv = train_semantic_classifier(spark, train)
    trained = sorted(r["class"] for r in train.select("class").distinct().collect())
    user_order = ["never_seen_class"] + trained[::-1]  # absent first, rest reversed
    rows = predict_with_scores(model, test_feats, user_order).collect()
    assert rows
    for r in rows:
        assert r[score_column_name("never_seen_class")] == 0.0
        total = sum(r[score_column_name(c)] for c in trained)
        assert abs(total - 1.0) < 1e-4
        # argmax consistency: predicted class carries the max score
        assert r[score_column_name(r["predicted_class"])] == r["confidence"]
    # predictions agree with the labeled classes (same data as accuracy test)
    labels = {r["column_name"]: r["class"] for r in labels_df.collect()}
    acc = sum(r["predicted_class"] == labels[r["column_name"]] for r in rows) / len(rows)
    assert acc > 0.9


def test_bag_averaging(spark):
    """Bag-averaging (MLibSemanticTypeClassifier.scala:154-166): with bagged
    feature rows, scores are averaged per original column before argmax."""
    from serene_spark.ml.pipeline import (
        predict_with_scores,
        score_column_name,
        train_semantic_classifier,
    )

    train, test_feats, _ = _split_fixture(spark)
    model, _conv = train_semantic_classifier(spark, train)
    trained = sorted(r["class"] for r in train.select("class").distinct().collect())

    # Duplicate each test column as 3 "bags" (identical features => the
    # average must equal the single-row scores).
    bagged = test_feats.crossJoin(
        spark.range(3).withColumnRenamed("id", "bag")
    )
    plain = {
        r["column_name"]: [r[score_column_name(c)] for c in trained]
        for r in predict_with_scores(model, test_feats, trained).collect()
    }
    avg = {
        r["column_name"]: [r[score_column_name(c)] for c in trained]
        for r in predict_with_scores(model, bagged, trained, bag_col="bag").collect()
    }
    assert plain == avg


def test_concurrent_feature_extraction_isolated(spark):
    """profile_features_from_long from two threads at once: each call's
    features must come from its own data (per-call temp-view names — a shared
    name let one thread's createOrReplaceTempView clobber the other's view
    mid-analysis; service.py serves each POST /train on its own thread)."""
    import threading

    from serene_spark.ml.pipeline import make_fixture_long, profile_features_from_long

    long_df, _ = make_fixture_long(spark, n_tables=3, n_rows=60)
    splits = [
        long_df.filter(F.col("column_name").endswith(f"@table{i}")) for i in range(3)
    ]
    expected = [
        sorted(r["column_name"] for r in profile_features_from_long(spark, s).collect())
        for s in splits
    ]

    results: dict[int, list] = {}
    errors: list[BaseException] = []

    def work(i):
        try:
            out = profile_features_from_long(spark, splits[i])
            results[i] = sorted(r["column_name"] for r in out.collect())
        except BaseException as e:  # noqa: BLE001 - surface thread failures
            errors.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert [results[i] for i in range(3)] == expected


def test_train_collect_guard(spark, monkeypatch):
    """The public train API must refuse a data-scale input instead of
    collecting it to the driver (round-4 verdict item): the parity
    collect-then-coalesce(1) is only valid for column-metadata-sized
    frames."""
    import pytest

    import serene_spark.ml.pipeline as pl

    monkeypatch.setattr(pl, "TRAIN_COLLECT_MAX", 10)
    big = spark.range(50).selectExpr(
        "CAST(id AS STRING) AS column_name",
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS class",
        "CAST(id AS DOUBLE) AS f1",
    )
    with pytest.raises(ValueError, match="not column-metadata-sized"):
        pl.train_semantic_classifier(spark, big)


def test_fixture_model_disk_cache_parity(spark, tmp_path, monkeypatch):
    """The disk-cached fixture pipeline predicts IDENTICALLY to a freshly
    trained one — the cache is a pure persistence tier, never a semantic
    change. Also pins fingerprint invalidation: a mismatched fingerprint
    must retrain, not serve the stale model."""
    import json
    import os

    from serene_spark.ml import pipeline as P

    sf = "/root/testdata/sf0.001"

    # fresh train, cache disabled
    monkeypatch.setenv(P.FIXTURE_CACHE_ENV, "")
    P._FIXTURE_MODEL_CACHE.clear()
    model_fresh, conv_fresh = P._fixture_model(spark)

    # train + save into tmp cache, then force a disk load in the same
    # process by clearing the session memo
    cache_root = str(tmp_path / "cache")
    monkeypatch.setenv(P.FIXTURE_CACHE_ENV, cache_root)
    P._FIXTURE_MODEL_CACHE.clear()
    P._fixture_model(spark)          # trains and writes the cache
    assert os.path.exists(os.path.join(cache_root, "fixture_model", "model"))
    P._FIXTURE_MODEL_CACHE.clear()
    model_loaded, conv_loaded = P._fixture_model(spark)

    from serene_spark.catalog import load_table
    from serene_spark.functions.melt import melt

    feats = P.profile_features_from_long(spark, melt(load_table(spark, sf, "customer")))
    a = P.predict_semantic_types(model_fresh, conv_fresh, feats).orderBy("column_name").collect()
    b = P.predict_semantic_types(model_loaded, conv_loaded, feats).orderBy("column_name").collect()
    assert a == b
    assert list(model_fresh.stages[0].labels) == list(model_loaded.stages[0].labels)

    # fingerprint mismatch -> retrain (cache not served)
    meta = os.path.join(cache_root, "fixture_model", "fingerprint.json")
    with open(meta, "w") as f:
        json.dump({"fingerprint": "stale"}, f)
    P._FIXTURE_MODEL_CACHE.clear()
    model_retrained, _ = P._fixture_model(spark)
    with open(meta) as f:
        assert json.load(f)["fingerprint"] == P._fixture_fingerprint()
    P._FIXTURE_MODEL_CACHE.clear()


def test_feature_matrix_is_staged_projection(spark, sf_dir):
    """profile_features_from_long is eager: its result is one projection over
    a checkpointed leaf, so consumers never re-plan the fused profiler."""
    from serene_spark.catalog import load_table
    from serene_spark.functions.melt import melt_ids
    from serene_spark.ml.pipeline import profile_features_from_long

    long_df, name_case = melt_ids(load_table(spark, sf_dir, "nation"))
    feats = profile_features_from_long(spark, long_df, name_case=name_case)
    plan = feats._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "Project"
    assert plan.children().apply(0).nodeName() == "LogicalRDD"
    tree = plan.treeString()
    assert "Aggregate" not in tree and "Join" not in tree
    assert sorted(r["column_name"] for r in feats.collect()) == sorted(
        load_table(spark, sf_dir, "nation").columns
    )


class _StubModel:
    """Just what predict_with_scores reads of a PipelineModel: the label
    order of stage 0 and a transform yielding a ``probability`` vector."""

    class _Indexer:
        labels = ["back\\slash", "it's", "plain"]

    stages = [_Indexer()]

    def transform(self, df):
        from pyspark.ml.functions import array_to_vector

        return df.withColumn("probability", array_to_vector(F.array("p0", "p1", "p2")))


def test_predict_with_scores_semantics(spark):
    """Reordering to the user's classes, absent class -> 0.0, first-maximum
    tie-break in user order, round(.., 6), bag averaging, and class names
    that need SQL-literal escaping."""
    from serene_spark.ml.pipeline import predict_with_scores, score_column_name

    classes = ["plain", "never_seen", "it's", "back\\slash"]
    names = [score_column_name(c) for c in classes]
    feats = spark.createDataFrame(
        [
            ("tie", 0.5, 0.5, 0.0),      # it's and back\slash tie: it's is first
            ("plain", 0.2, 0.3, 0.5),
            ("third", 1 / 3, 1 / 3, 1 / 3),
            ("slash", 0.7, 0.2, 0.1),
        ],
        "column_name string, p0 double, p1 double, p2 double",
    )
    rows = {
        r["column_name"]: (r["predicted_class"], r["confidence"], [r[n] for n in names])
        for r in predict_with_scores(_StubModel(), feats, classes).collect()
    }
    assert rows == {
        "tie": ("it's", 0.5, [0.0, 0.0, 0.5, 0.5]),
        "plain": ("plain", 0.5, [0.5, 0.0, 0.3, 0.2]),
        "third": ("plain", 0.333333, [0.333333, 0.0, 0.333333, 0.333333]),
        "slash": ("back\\slash", 0.7, [0.1, 0.0, 0.2, 0.7]),
    }

    bags = spark.createDataFrame(
        [("c", 0, 1.0, 0.0, 0.0), ("c", 1, 0.0, 1.0, 0.0), ("d", 0, 0.0, 0.0, 1.0)],
        "column_name string, bag int, p0 double, p1 double, p2 double",
    )
    rows = {
        r["column_name"]: (r["predicted_class"], r["confidence"], [r[n] for n in names])
        for r in predict_with_scores(_StubModel(), bags, classes, bag_col="bag").collect()
    }
    assert rows == {
        "c": ("it's", 0.5, [0.0, 0.0, 0.5, 0.5]),
        "d": ("plain", 1.0, [1.0, 0.0, 0.0, 0.0]),
    }


def test_registered_predictions_golden(spark, sf_dir):
    """Rows of the RF-backed registered queries, pinned by digest: staging
    the feature matrix and the SQL-string score projections change no
    output."""
    import hashlib
    import json
    import os

    import pytest

    from serene_spark.registry import load_all

    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        pytest.skip("digests are pinned at sf0.001")
    queries = load_all()
    got = {}
    for name in ("semantic_type_predict", "predict_scores_customer", "ssd_suggest_supplier"):
        rows = sorted([repr(v) for v in r] for r in queries[name].spark(spark, sf_dir).collect())
        got[name] = hashlib.sha256(json.dumps(rows).encode()).hexdigest()[:16]
    assert got == {
        "semantic_type_predict": "028d5bf2d7b0055a",
        "predict_scores_customer": "bc0ac177fb3358f0",
        "ssd_suggest_supplier": "eddcd2f157c72d1f",
    }
