"""Semantic-type classification pipeline (SURVEY §2.9) — the reference's core.

Mirrors TrainMlibSemanticTypeClassifier (matcher/.../train/
TrainMlibSemanticTypeClassifier.scala): StringIndexer("class"->"label") ->
VectorAssembler -> RandomForestClassifier(128 trees, depth 10, gini, seed
5043; 10 trees when < 20 training rows, :43-48,:164-171) -> IndexToString,
rebuilt on pyspark.ml. Feature extraction is NOT the reference's
broadcast-attributes-to-executors loop (FeatureExtractorUtil.scala:341-384)
but the engine's long-format profiling aggregations — the central
architectural divergence (SURVEY §2.9 "Parallel feature extraction").

Prediction mirrors MLibSemanticTypeClassifier.predict
(matcher/.../matcher/MLibSemanticTypeClassifier.scala:172-214): probability
vector -> confidence = max prob, predicted class via IndexToString.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serene_spark.catalog import load_table
from serene_spark.functions.melt import melt, melt_ids
from serene_spark.functions.sqlgen import SPARK
from serene_spark.registry import register
from serene_spark.materialize import materialize

RF_SEED = 5043          # TrainMlibSemanticTypeClassifier.scala:223
RF_TREES = 128          # :43-48
RF_TREES_SMALL = 10     # :164-171 (< 20 training rows)
RF_DEPTH = 10

# Cross-validation grid (TrainMlibSemanticTypeClassifier.scala:107-143):
# 10-fold, depth x trees x impurity, seed 10857171, f1 evaluator.
CV_SEED = 10857171
CV_FOLDS = 10
CV_DEPTHS = (1, 5, 10, 20, 30)
CV_TREES = (1, 5, 10, 15, 20)
CV_IMPURITIES = ("entropy", "gini")
# Ceiling on the training-set collect in train_semantic_classifier: the
# input is one row per labeled (column[, bag]) — 100k columns is far beyond
# any real schema corpus, while a mistaken data-scale frame exceeds it
# immediately.
TRAIN_COLLECT_MAX = 100_000


def profile_features_from_long(
    spark: SparkSession, long_df: DataFrame, settings=None, name_case: str | None = None
) -> DataFrame:
    """Wide per-column feature matrix from the oracle-checked profiling SQL.

    Scalar features, text-length stats, char entropy, and numeric stats all
    derive from one materialized (column, value) histogram in a single fused
    statement (profile_fused.py; left joins, -1 fill: absent numerics mirror
    the reference's sentinel, FeatureExtractor.scala:778-839).

    ``settings`` (a ``FeatureSettings``, SURVEY §2.12) gates which features
    are computed: ungated aggregations are never joined (the plan shrinks,
    not just the projection) and the matrix carries exactly the gated
    columns.

    ``name_case``: when ``long_df`` came from :func:`melt_ids` (int column
    ids — the narrower group-by key, guide §2.3), the CASE expression
    mapping ids back to names; applied to the final per-column matrix so
    callers always see name-keyed rows.

    Eager: the fused statement runs here, behind its own ``materialize()``
    barrier, and the result is one projection over that checkpoint. The
    matrix is column-metadata-sized but sits on a ~100-node fused plan;
    staged, every consumer (joins, ``PipelineModel`` stages, the score
    projections) analyzes and optimizes a leaf instead of re-planning the
    profiler. Callers need no further ``cache()``/``materialize()``.
    """
    from serene_spark.operators.profile_fused import fused_profile_sql
    from serene_spark.operators.profile_scalar import hist_sql
    from serene_spark.operators.profile_textstats import NUM_PAT
    from serene_spark.functions.sqlgen import rx

    # One data-scale pass: reduce the long relation to its (column, value)
    # histogram, materialize THAT once (Spark inlines CTEs, so the six
    # downstream consumers would otherwise recompute the shuffle), and derive
    # every gated feature family from it in a single fused statement
    # (profile_fused.py). PER-CALL view names: service.py serves each POST
    # /train on its own thread, and a shared name would let one call's
    # createOrReplaceTempView interleave with another's spark.sql parse,
    # silently training on the wrong data. spark.sql resolves views eagerly
    # at analysis, so both views are dropped before returning — the
    # checkpoint RDD stays reachable only through the returned DataFrame's
    # lineage (no catalog pinning, no leak).
    tag = uuid.uuid4().hex
    view = f"__serene_feat_long_{tag}"
    hist_view = f"__serene_feat_hist_{tag}"
    ncnt_view = f"__serene_feat_ncnt_{tag}"
    needs_numeric = settings is None or settings.needs_numeric
    long_df.createOrReplaceTempView(view)
    try:
        # the numeric family reads its (column, num) counts three times
        # (per-column stats, bucket totals, in-bucket median pass). r12
        # materialized a grouped ncounts relation as a SECOND checkpoint,
        # which the driver measured as a warm-rep regression at local[32]
        # (per-checkpoint AQE/stage-scheduling cost > the saved regex
        # scans). r13: fold the NUM_PAT parse INTO the hist checkpoint as
        # two extra columns — the regex still runs once per distinct value,
        # and ncounts becomes a plain filter VIEW over the checkpointed
        # hist: no second materialization, no repeated regex, no extra
        # exchange. Skipping ncounts' GROUP BY num is value-identical:
        # every consumer is a sum/min/max over (num, c) (duplicate string
        # forms of one numeric merge inside SUM), and the in-bucket
        # cumulative window uses the default RANGE frame, so tied nums
        # share one cumulative count exactly as the grouped form did.
        hist_stmt = f"SELECT * FROM ({hist_sql(view)}) h"
        if needs_numeric:
            isnum = rx(SPARK, "trim(value)", NUM_PAT)
            hist_stmt = (
                f"SELECT column_name, value, cnt, ne, isnum, "
                f"CASE WHEN isnum = 1 THEN CAST(trim(value) AS DECIMAL(28,10)) END AS num "
                f"FROM (SELECT h.*, CASE WHEN {isnum} THEN 1 ELSE 0 END AS isnum "
                f"FROM ({hist_sql(view)}) h) hn"
            )
        spark.sql(hist_stmt).transform(materialize).createOrReplaceTempView(hist_view)
        if needs_numeric:
            spark.sql(
                f"SELECT column_name, num, cnt AS c FROM {hist_view} WHERE isnum = 1"
            ).createOrReplaceTempView(ncnt_view)
        out = spark.sql(
            fused_profile_sql(
                hist_view,
                SPARK,
                needs_textlen=settings is None or settings.needs_textlen,
                needs_char_entropy=settings is None or settings.needs_char_entropy,
                needs_numeric=needs_numeric,
                ncounts_src=ncnt_view if needs_numeric else None,
            )
        ).transform(materialize)
    finally:
        spark.catalog.dropTempView(view)
        spark.catalog.dropTempView(hist_view)
        if needs_numeric:
            spark.catalog.dropTempView(ncnt_view)

    if settings is None:
        feature_cols = [c for c in out.columns if c != "column_name"]
    else:
        feature_cols = settings.matrix_columns()
    return out.selectExpr(
        f"{name_case} AS column_name" if name_case else "column_name",
        *[f"coalesce(CAST(`{c}` AS DOUBLE), -1.0D) AS `{c}`" for c in feature_cols],
    )


def feature_columns(features_df: DataFrame) -> list[str]:
    return [c for c in features_df.columns if c not in ("column_name", "class")]


def train_semantic_classifier(
    spark: SparkSession,
    labeled_features: DataFrame,
    do_cross_validation: bool = False,
    cv_folds: int = CV_FOLDS,
    cv_depths: tuple[int, ...] = CV_DEPTHS,
    cv_trees: tuple[int, ...] = CV_TREES,
    cv_impurities: tuple[str, ...] = CV_IMPURITIES,
):
    """Fit the reference RF pipeline on (column_name, class, f1..fn).

    ``do_cross_validation`` mirrors the reference's optional 10-fold grid
    search (depth x trees x impurity, seed 10857171, f1 metric,
    TrainMlibSemanticTypeClassifier.scala:107-143) — the fitted result is the
    grid's best pipeline. Grid dimensions are overridable (the reference
    hardcodes them; tests shrink the grid to stay fast).
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import IndexToString, StringIndexer, VectorAssembler

    # The training set is COLUMN metadata (one row per labeled column —
    # thousands at most). Collect it to the driver and re-create a
    # lineage-free single-partition DataFrame, exactly the reference's
    # collect-then-parallelize(numSlices=1) (TrainMlib:186-192): row order
    # is the column_name sort (model independent of input partitioning),
    # and tree induction's many tiny jobs iterate over 1 local partition
    # instead of re-entering the cached-profiling-SQL lineage — measured
    # ~3x faster RF fit at bench scale with identical fitted trees.
    #
    # Guard: this is the PUBLIC train API; a caller feeding a data-scale
    # frame (row-per-record instead of row-per-column) would OOM the driver
    # here. The parity choice is only valid for column-metadata inputs, so
    # refuse anything larger and point at the bagged/sampled path.
    # guard and collect fused into ONE plan execution: TakeOrdered of
    # MAX+1 rows — a MAX+1'th row proves the input is too large without a
    # separate count() that would run the whole profiling lineage twice
    # (measured ~2.5s/train saved at bench scale)
    rows = labeled_features.orderBy("column_name").limit(TRAIN_COLLECT_MAX + 1).collect()
    if len(rows) > TRAIN_COLLECT_MAX:
        raise ValueError(
            f"train_semantic_classifier collects the training set to the "
            f"driver (reference parity, TrainMlib:186-192) and got more than "
            f"{TRAIN_COLLECT_MAX} rows — this input is not column-metadata-"
            f"sized. Aggregate to per-column features first "
            f"(profile_features_from_long) or train on bags (ml.bagging)."
        )
    # parallelize(rows, numSlices=1), not createDataFrame(rows).coalesce(1):
    # a plain createDataFrame pickles the list into defaultParallelism
    # python partitions, and coalesce(1) then drains all of them through
    # ONE task's sequential python-worker loop — measured 5.6-7.9 s of
    # per-partition worker roundtrips for an 18-row training set (r13).
    # One slice is one roundtrip (~1.3-1.6 s incl. fit); same single
    # partition, same row order, fitted trees byte-identical (verified
    # via toDebugString modulo the random model uid).
    ordered = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), labeled_features.schema
    ).cache()
    n_rows = len(rows)
    n_trees = RF_TREES_SMALL if n_rows < 20 else RF_TREES
    # "keep" under CV: a validation fold may hold a class absent from its
    # train fold; keeping (not erroring) matches the reference's tolerant CV
    indexer = StringIndexer(
        inputCol="class",
        outputCol="label",
        handleInvalid="keep" if do_cross_validation else "error",
    )
    assembler = VectorAssembler(
        inputCols=feature_columns(labeled_features), outputCol="features"
    )
    rf = RandomForestClassifier(
        numTrees=n_trees,
        maxDepth=RF_DEPTH,
        impurity="gini",
        seed=RF_SEED,
        labelCol="label",
        featuresCol="features",
    )
    pipeline = Pipeline(stages=[indexer, assembler, rf])
    if do_cross_validation:
        from pyspark.ml.evaluation import MulticlassClassificationEvaluator
        from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

        grid = (
            ParamGridBuilder()
            .addGrid(rf.maxDepth, list(cv_depths))
            .addGrid(rf.numTrees, list(cv_trees))
            .addGrid(rf.impurity, list(cv_impurities))
            .build()
        )
        evaluator = MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName="f1"
        )
        cv = CrossValidator(
            estimator=pipeline,
            estimatorParamMaps=grid,
            evaluator=evaluator,
            numFolds=cv_folds,
            seed=CV_SEED,
            parallelism=4,
        )
        model = cv.fit(ordered).bestModel
    else:
        model = pipeline.fit(ordered)
    label_converter = IndexToString(
        inputCol="prediction",
        outputCol="predicted_class",
        labels=model.stages[0].labels,
    )
    return model, label_converter


def predict_semantic_types(model, label_converter, features_df: DataFrame) -> DataFrame:
    from pyspark.ml.functions import vector_to_array

    preds = label_converter.transform(model.transform(features_df))
    return preds.select(
        "column_name",
        "predicted_class",
        F.round(F.array_max(vector_to_array("probability")), 6).alias("confidence"),
    )


def score_column_name(cls: str) -> str:
    """Relational column name for a class score (``Class---prop`` → ``score_...``)."""
    import re

    return "score_" + re.sub(r"[^A-Za-z0-9]", "_", cls)


def predict_with_scores(
    model, features_df: DataFrame, classes: list[str], bag_col: str | None = None
) -> DataFrame:
    """Full reference prediction output: per-class score map reordered to the
    user's ``classes`` order with absent-class → 0.0, plus argmax label.

    Mirrors MLibSemanticTypeClassifier.processPredictions
    (matcher/.../matcher/MLibSemanticTypeClassifier.scala:68-103): the MLlib
    probability vector is indexed by StringIndexer label order; it is
    reordered to ``classes`` and classes the model never saw score 0.0.
    The argmax ties break toward the EARLIEST class in ``classes`` (Scala
    ``maxBy`` returns the first maximum, :186-193).

    With ``bag_col`` set, score vectors are averaged per column before the
    argmax — the reference's bag-averaging (:154-166).
    """
    from pyspark.ml.functions import vector_to_array

    mlib_labels: list[str] = list(model.stages[0].labels)
    new_order = [mlib_labels.index(c) if c in mlib_labels else -1 for c in classes]

    names = [score_column_name(c) for c in classes]
    # SQL-string projections over the transformed leaf (the staged feature
    # matrix): each call analyzes a few nodes above the checkpoint, not the
    # profiling plan
    scored = (
        model.transform(features_df)
        .select("column_name", vector_to_array("probability").alias("_probs"))
        .selectExpr(
            "column_name",
            *[f"{f'_probs[{idx}]' if idx >= 0 else '0.0D'} AS {n}"
              for n, idx in zip(names, new_order)],
        )
    )
    if bag_col is not None:
        # bag-averaging: mean score vector per original column (:154-166)
        scored = scored.groupBy("column_name").agg(*[F.avg(n).alias(n) for n in names])

    confidence = f"greatest({', '.join(names)})" if len(names) > 1 else names[0]
    # first-maximum tie-break in user class order (Scala maxBy semantics)
    predicted = "coalesce(" + ", ".join(
        f"CASE WHEN {n} = _conf THEN {_sql_string(c)} END" for c, n in zip(classes, names)
    ) + ")"
    return scored.selectExpr("*", f"{confidence} AS _conf").selectExpr(
        "column_name",
        f"{predicted} AS predicted_class",
        "round(_conf, 6) AS confidence",
        *[f"round({n}, 6) AS {n}" for n in names],
    )


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal (backslash-escaping parser)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def save_derived_features(
    scored_df: DataFrame, features_df: DataFrame, classes: list[str], path: str
) -> None:
    """Derived-features sink: ``id,label,confidence,<class scores>,<features>``
    (MLibSemanticTypeClassifier.saveFeatures,
    matcher/.../matcher/MLibSemanticTypeClassifier.scala:218-258). Score
    columns carry the raw class names, matching the reference header; written
    with the §2.1 quoteAll CSV writer.
    """
    from serene_spark.sources.csv_loader import write_csv

    feature_cols = [c for c in features_df.columns if c != "column_name"]
    out = scored_df.join(features_df, "column_name").select(
        F.col("column_name").alias("id"),
        F.col("predicted_class").alias("label"),
        "confidence",
        *[F.col(score_column_name(c)).alias(c) for c in classes],
        *feature_cols,
    )
    write_csv(out.orderBy("id"), path, single_file=True)


# ---------------------------------------------------------------------------
# Deterministic synthetic fixture (homeseekers-like; FIXTURES.md §1):
# k tables x one column per semantic class, distinctive value shapes.

FIXTURE_CLASSES = (
    "phone", "email", "price", "year_built", "address", "person_name",
    "description", "size",
)


def _fixture_values(cls: str, rng, n: int) -> list[str]:
    first = ["anna", "ben", "carla", "dan", "eva", "felix", "gina", "hugo"]
    last = ["smith", "jones", "lee", "chen", "garcia", "kim", "patel", "novak"]
    cities = ["Springfield", "Riverton", "Lakeside", "Hillview", "Brookfield"]
    words = ["spacious", "sunny", "cozy", "modern", "garden", "view", "quiet",
             "renovated", "close", "schools", "park", "large", "kitchen"]
    out = []
    for _ in range(n):
        if cls == "phone":
            out.append(f"{rng.randint(200, 999)}-{rng.randint(200, 999)}-{rng.randint(1000, 9999)}")
        elif cls == "email":
            out.append(f"{rng.choice(first)}.{rng.choice(last)}@example{rng.randint(1, 9)}.com")
        elif cls == "price":
            out.append(f"${rng.randint(30, 900) * 1000:,}")
        elif cls == "year_built":
            out.append(str(rng.randint(1850, 2025)))
        elif cls == "address":
            out.append(f"{rng.choice(cities)}, ST {rng.randint(10000, 99999)}")
        elif cls == "person_name":
            out.append(f"{rng.choice(first).title()} {rng.choice(last).title()}")
        elif cls == "description":
            k = rng.randint(6, 14)
            out.append(" ".join(rng.choice(words) for _ in range(k)))
        elif cls == "size":
            v = rng.randint(300, 9000)
            out.append(f"{v:,}" if rng.random() < 0.5 else str(v))
    return out


def make_fixture_long(spark: SparkSession, n_tables: int = 3, n_rows: int = 120,
                      seed: int = 5123219):
    """Long-format labeled fixture: (column_name, value) + (column_name, class).

    Deterministic via seeded Python RNG (the reference's resampler seed,
    ClassImbalanceResampler.scala:121, reused as fixture seed).
    """
    import random

    rng = random.Random(seed)
    rows, labels = [], []
    for t in range(n_tables):
        for cls in FIXTURE_CLASSES:
            col = f"{cls}@table{t}"
            labels.append((col, cls))
            for v in _fixture_values(cls, rng, n_rows):
                rows.append((col, v))
    # a few thousand fixture rows: spreading them over defaultParallelism
    # (32) partitions makes every downstream profiling stage pay 32-task
    # scheduling for microseconds of work — coalesce to a handful instead
    long_df = spark.createDataFrame(rows, "column_name string, value string").coalesce(4)
    labels_df = spark.createDataFrame(labels, "column_name string, class string")
    return long_df, labels_df


@register(
    "semantic_type_predict",
    oracle=None,  # ML — not SQL-expressible; driver records rows-only check
    doc="SURVEY §2.9 end-to-end: train reference RF pipeline on a deterministic "
    "labeled fixture, predict semantic types of `customer` columns",
)
def semantic_type_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    import threading

    # the fixture-train chain and the target-profiling chain are independent
    # until predict; profile the target on a second thread so its histogram
    # and feature-matrix checkpoints overlap RF fit (Spark schedules
    # concurrent jobs fine, and profile_features_from_long uses per-call
    # view names — thread-safe). profile_features_from_long is eager, so the
    # fused profiling statement EXECUTES on this thread and the predict
    # action pays only the assembler+RF transform over a leaf
    target_box: dict[str, object] = {}

    def _profile_target() -> None:
        try:
            long_df, name_case = melt_ids(load_table(spark, sf_dir, "customer"))
            target_box["df"] = profile_features_from_long(
                spark, long_df, name_case=name_case
            )
        except BaseException as exc:  # surfaced on the main thread below
            target_box["err"] = exc

    t = threading.Thread(target=_profile_target, daemon=True)
    t.start()
    model, conv = _fixture_model(spark)
    t.join()
    if "err" in target_box:  # re-raise with the real cause, not a KeyError
        raise RuntimeError("target profiling failed on worker thread") from target_box["err"]
    return predict_semantic_types(model, conv, target_box["df"])


# User class order for the score-map query: includes a class the model never
# saw ("zipcode" → always 0.0) and the reserved "unknown" label, exercising
# the absent-class path of MLibSemanticTypeClassifier.scala:83-102.
SCORE_MAP_CLASSES = list(FIXTURE_CLASSES) + ["zipcode", "unknown"]

# Per-process memo of the fixture-trained classifier: the fixture is a pure
# function of its seed, so every registered query training on it fits the
# SAME model — train once per process (the driver's correctness sweep runs
# several such queries back to back). Keyed WEAKLY by the live SparkSession
# object (not id(), whose values CPython reuses after GC — a fresh session
# could collide with a stopped one's key and receive dead JVM model
# handles); the lock serializes the check-then-act for the thread-per-POST
# HTTP service so concurrent callers never train twice.
import threading as _threading
import weakref as _weakref

_FIXTURE_MODEL_CACHE: "_weakref.WeakKeyDictionary[SparkSession, tuple]" = (
    _weakref.WeakKeyDictionary()
)
_FIXTURE_MODEL_LOCK = _threading.Lock()


FIXTURE_CACHE_ENV = "SERENE_FIXTURE_CACHE"


def _fixture_cache_dir() -> str | None:
    """Disk-cache location for the fixture-trained pipeline, or None when
    disabled (``SERENE_FIXTURE_CACHE=''``). Default: ``.serene_cache/``
    beside the package (gitignored)."""
    import os

    root = os.environ.get(FIXTURE_CACHE_ENV)
    if root == "":
        return None
    if root is None:
        root = os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            ".serene_cache",
        )
    return os.path.join(root, "fixture_model")


def _fixture_fingerprint() -> str:
    """Hash of everything the fitted fixture model is a pure function of:
    the fixture generator source, the fused profiling SQL text, the RF
    hyperparameters, and the pyspark version. Any change retrains — the
    disk cache can never serve a stale model silently."""
    import hashlib
    import inspect

    import pyspark

    from serene_spark.operators.profile_fused import fused_profile_sql
    from serene_spark.operators.profile_scalar import hist_sql

    payload = "\n".join([
        inspect.getsource(make_fixture_long),
        inspect.getsource(_fixture_values),
        # the TRAINING code itself: editing collect ordering, indexer
        # behavior, tree-count switches, or the feature post-processing
        # must retrain, not serve the stale model
        inspect.getsource(train_semantic_classifier),
        inspect.getsource(profile_features_from_long),
        inspect.getsource(feature_columns),
        repr(FIXTURE_CLASSES),
        hist_sql("__fp__"),
        fused_profile_sql("__fp__", SPARK),
        f"rf={RF_TREES}/{RF_TREES_SMALL}/{RF_DEPTH}/{RF_SEED}",
        pyspark.__version__,
    ])
    return hashlib.sha256(payload.encode()).hexdigest()


def _fixture_model(spark: SparkSession):
    """The fixture-trained classifier, three-tier: per-session memo →
    disk cache → train.

    The fixture is a pure function of its seed and the profiling SQL, and
    MLlib's RF fit is deterministic given the seed and the ordered
    single-partition training frame — so the fitted PipelineModel is a
    pure function of the fingerprint below, and persisting it across
    processes changes nothing observable (pinned by
    tests/test_ml_pipeline.py's cache-parity test). This removes the
    fixture-profiling + fit chain (~7s) from every fresh process that
    exercises prediction — the reference's server holds trained models in
    its store for exactly this reason (ModelStorage in the server module).
    """
    import json
    import os

    with _FIXTURE_MODEL_LOCK:
        cached = _FIXTURE_MODEL_CACHE.get(spark)
        if cached is not None:
            return cached

        cache_dir = _fixture_cache_dir()
        fp = _fixture_fingerprint() if cache_dir else None
        meta_path = os.path.join(cache_dir, "fingerprint.json") if cache_dir else None
        if cache_dir and os.path.exists(meta_path):
            try:
                with open(meta_path) as f:
                    if json.load(f).get("fingerprint") == fp:
                        from pyspark.ml import PipelineModel
                        from pyspark.ml.feature import IndexToString

                        model = PipelineModel.load(os.path.join(cache_dir, "model"))
                        conv = IndexToString(
                            inputCol="prediction",
                            outputCol="predicted_class",
                            labels=model.stages[0].labels,
                        )
                        cached = (model, conv)
            except Exception:
                cached = None  # unreadable/corrupt cache -> retrain below

        if cached is None:
            long_df, labels_df = make_fixture_long(spark)
            feats = profile_features_from_long(spark, long_df).join(labels_df, "column_name")
            cached = train_semantic_classifier(spark, feats)
            if cache_dir:
                try:
                    os.makedirs(cache_dir, exist_ok=True)
                    cached[0].write().overwrite().save(os.path.join(cache_dir, "model"))
                    with open(meta_path, "w") as f:
                        json.dump({"fingerprint": fp}, f)
                except Exception:
                    pass  # cache is best-effort; training result still valid

        _FIXTURE_MODEL_CACHE.clear()
        _FIXTURE_MODEL_CACHE[spark] = cached
        return cached


@register(
    "predict_scores_customer",
    oracle=None,  # ML probabilities — not SQL-expressible; rows-only check
    doc="SURVEY §2.9 full prediction output: per-class score map over customer "
    "columns, reordered to the user's class list with absent-class -> 0.0 "
    "(MLibSemanticTypeClassifier.scala:68-103)",
)
def predict_scores_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    model, _conv = _fixture_model(spark)
    long_df, name_case = melt_ids(load_table(spark, sf_dir, "customer"))
    target = profile_features_from_long(spark, long_df, name_case=name_case)
    return predict_with_scores(model, target, SCORE_MAP_CLASSES).orderBy("column_name")
