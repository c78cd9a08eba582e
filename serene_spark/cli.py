"""CLI runners (SURVEY §2.13).

Reference: batch entry points under matcher/src/main/.../runner/ and the
dirstruct shell wrappers (train_semtype_classifier.sh, predict_semtypes.sh,
evaluate.sh, transform.sh) — rebuilt as one ``python -m serene_spark.cli``
with train / predict / evaluate / transform / profile subcommands.

Every subcommand reads CSVs with the §2.1 loader (header heuristics), melts
to long format, and drives the same registered operators the driver contract
uses — the CLI is wiring, not a second implementation.
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from serene_spark.session import get_spark

    return get_spark()


def _load_long(spark, path: str):
    from serene_spark.functions.melt import melt
    from serene_spark.sources.csv_loader import load_csv

    return melt(load_csv(spark, path))


def _settings(args):
    from serene_spark.ml.feature_settings import FeatureSettings

    path = getattr(args, "features", None)
    return FeatureSettings.load(path) if path else None


def cmd_profile(args) -> int:
    """Feature dump (RunFeatureExtractor.scala:30-169): per-column feature
    matrix as CSV/JSON on stdout."""
    from serene_spark.ml.pipeline import profile_features_from_long

    spark = _spark()
    feats = profile_features_from_long(
        spark, _load_long(spark, args.data), settings=_settings(args)
    )
    for row in feats.orderBy("column_name").toLocalIterator():
        print(json.dumps(row.asDict(), default=str, sort_keys=True))
    return 0


def _read_labels(spark, path: str):
    """Accept both label shapes: the reference's SemanticTypeLabelsLoader
    format (``attr_id,...`` file or recursive directory, 2-col manual and
    6-col predicted rows, unvalidated ``"?"`` skipped) and the plain
    ``column_name,class`` CSV."""
    import os

    from pyspark.sql import functions as F

    first_line = ""
    if os.path.isfile(path):
        with open(path, encoding="utf-8") as fh:
            first_line = fh.readline()
    if os.path.isdir(path) or first_line.startswith("attr_id"):
        from serene_spark.sources.labels_loader import labels_df

        return labels_df(spark, path).select("column_name", F.col("class"))
    return (
        spark.read.csv(path, header=True)
        .select(F.col("column_name"), F.col("class"))
        .filter(F.col("class") != "?")  # skip unvalidated (LabelsLoader.scala:62-66)
    )


def cmd_train(args) -> int:
    """Train the RF semantic-type classifier from a labels CSV
    (column_name,class — SemanticTypeLabelsLoader semantics) and save it."""
    from pyspark.sql import functions as F

    from serene_spark.ml.pipeline import (
        profile_features_from_long,
        train_semantic_classifier,
    )

    spark = _spark()
    feats = profile_features_from_long(
        spark, _load_long(spark, args.data), settings=_settings(args)
    )
    labels = _read_labels(spark, args.labels).select(F.col("column_name"), F.col("class"))
    labeled = feats.join(F.broadcast(labels), "column_name")
    model, _conv = train_semantic_classifier(
        spark, labeled, do_cross_validation=getattr(args, "cross_validate", False)
    )
    model.write().overwrite().save(args.model)
    classes = model.stages[0].labels
    with open(f"{args.model}/classes.json", "w") as f:  # JSON sidecar
        json.dump({"classes": list(classes)}, f)
    print(json.dumps({"model": args.model, "classes": list(classes)}))
    return 0


def cmd_predict(args) -> int:
    from pyspark.ml import PipelineModel
    from pyspark.ml.feature import IndexToString

    from serene_spark.ml.pipeline import (
        predict_semantic_types,
        predict_with_scores,
        profile_features_from_long,
        save_derived_features,
    )

    spark = _spark()
    model = PipelineModel.load(args.model)
    conv = IndexToString(
        inputCol="prediction",
        outputCol="predicted_class",
        labels=model.stages[0].labels,
    )
    feats = profile_features_from_long(spark, _load_long(spark, args.data))
    if getattr(args, "derived_features", None):
        # full score map in the user's class order (classes.json sidecar) +
        # id,label,confidence,<classes>,<features> CSV (saveFeatures :218-258)
        with open(f"{args.model}/classes.json") as f:
            classes = list(json.load(f)["classes"])
        scored = predict_with_scores(model, feats, classes)
        save_derived_features(scored, feats, classes, args.derived_features)
        preds = scored.select("column_name", "predicted_class", "confidence")
    else:
        preds = predict_semantic_types(model, conv, feats)
    for row in preds.orderBy("column_name").toLocalIterator():
        print(json.dumps(row.asDict(), sort_keys=True))
    return 0


def cmd_evaluate(args) -> int:
    """Confusion matrix + per-class P/R/F1 from a predictions CSV
    (column_name,actual,predicted) — §2.11 metrics over arbitrary input."""
    from serene_spark.catalog import bound_sql
    from serene_spark.operators.evaluation import prf1_sql  # noqa: F401  (shape reference)

    spark = _spark()
    out = bound_sql(
        spark,
        """
        SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
        FROM __cli_pairs GROUP BY actual, predicted ORDER BY actual, predicted
        """,
        {"__cli_pairs": spark.read.csv(args.predictions, header=True)},
    )
    for row in out.toLocalIterator():
        print(json.dumps(row.asDict(), sort_keys=True))
    return 0


def cmd_transform(args) -> int:
    """Rule-table regex rewrite (§2.7) from a rules CSV
    (class,source_pattern,output_format) applied to a data CSV."""
    from pyspark.sql import functions as F

    spark = _spark()
    long_df = _load_long(spark, args.data)
    rules = spark.read.csv(args.rules, header=True).toDF("cls", "pattern", "fmt")
    out = (
        long_df.join(F.broadcast(rules), long_df.column_name == rules.cls, "left")
        .withColumn(
            "transformed",
            F.when(F.col("cls").isNull(), F.col("value")).otherwise(
                # empty CSV cell reads as NULL; an empty replacement means ''
                F.expr("regexp_replace(value, pattern, coalesce(fmt, ''))")
            ),
        )
        .select("column_name", "value", "transformed")
    )
    for row in out.toLocalIterator():
        print(json.dumps(row.asDict(), sort_keys=True))
    return 0


def cmd_label(args) -> int:
    """Interactive manual labeling console (RunLabelManual.scala;
    LabelManualInterface.scala:8-69): page attributes, manage classes, label
    columns, save a SemanticTypeLabelsLoader-compatible CSV on 'x'."""
    from serene_spark.interactive import LabelingConsole
    from serene_spark.sources.csv_loader import load_csv

    spark = _spark()
    df = load_csv(spark, args.data)
    with open(args.class_list, encoding="utf-8") as f:
        classes = [line.strip() for line in f if line.strip()]
    console = LabelingConsole(attributes=list(df.columns), classes=classes)
    if console.run(sys.stdin, sys.stdout):
        console.save(args.labels)
        print(json.dumps({"saved": args.labels, "labeled": len(console.labels)}))
    return 0


def cmd_validate(args) -> int:
    """Interactive prediction validation (RunSemanticTypePredictionValidation):
    confirm/correct predicted labels; writes 6-column rows, unvalidated '?'."""
    import csv as _csv
    import datetime

    from serene_spark.interactive import ValidationConsole

    with open(args.predictions, encoding="utf-8") as f:
        rows = [
            (r["attr_id"], r["predicted"], float(r["confidence"]), r.get("date_predicted", ""))
            for r in _csv.DictReader(f)
        ]
    console = ValidationConsole(predictions=rows)
    console.run(sys.stdin, sys.stdout)
    console.save(args.labels, date_validated=datetime.date.today().isoformat())
    print(json.dumps({"saved": args.labels, "validated": len(console.validated)}))
    return 0


def cmd_eval_incremental(args) -> int:
    """Incremental-train-size experiment (evaluate.sh pipeline;
    RfKnnSemanticTypeClassifierEvaluationProcess.scala:30-297)."""
    from serene_spark.operators.eval_harness import incremental_train_eval, summarize_eval

    spark = _spark()
    long_df = _load_long(spark, args.data)
    labels = _read_labels(spark, args.labels)
    results = incremental_train_eval(
        spark,
        long_df,
        labels,
        proportions=tuple(float(x) for x in args.proportions.split(",")),
        repetitions=args.repetitions,
    )
    for row in summarize_eval(results).toLocalIterator():
        print(json.dumps(row.asDict(), sort_keys=True))
    return 0


def cmd_query(args) -> int:
    """Run one registered query against a corpus directory — the CLI door
    to the whole registry (the driver contract's queries() surface)."""
    from serene_spark.registry import load_all

    queries = load_all()
    if args.name not in queries:
        print(f"unknown query: {args.name}", file=sys.stderr)
        close = [n for n in sorted(queries) if args.name.lower() in n.lower()]
        if close:
            print("did you mean: " + ", ".join(close[:8]), file=sys.stderr)
        return 2
    df = queries[args.name].spark(_spark(), args.sf_dir)
    if args.out:
        # stream partition-by-partition: toPandas() would materialize the
        # whole result on the driver (ts_gapfill_locf is ~1M rows at sf0.1,
        # more at higher sf) — toLocalIterator holds one partition at a time
        import csv as _csv

        with open(args.out, "w", newline="", encoding="utf-8") as fh:
            w = _csv.writer(fh)
            w.writerow(df.columns)
            n = 0
            for row in df.toLocalIterator():
                w.writerow(row)
                n += 1
        print(f"wrote {args.out} ({n} rows)")
    else:
        for row in df.limit(args.limit).collect():
            print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_convert_model(args) -> int:
    """Convert between the public semantic-model formats: Karma
    ``*.model.json`` (karma_io) and the reference's ``.ssd`` JSON (ssd_io).
    Lets a user carry existing Karma/serene models into and out of this
    engine from the shell."""
    src = args.input
    if args.frm == "karma":
        from serene_spark.modeler.karma_io import load_karma_model

        ssd = load_karma_model(src).to_ssd()
    else:
        from serene_spark.modeler.ssd_io import load_ssd

        ssd = load_ssd(src)
    if args.to == "ssd":
        from serene_spark.modeler.ssd_io import dump_ssd

        out_text = dump_ssd(ssd)
    else:
        from serene_spark.modeler.karma_io import KarmaModel, dump_karma_model

        km = KarmaModel(
            name=ssd.name,
            source_columns=[(a, a) for a in ssd.attributes],
            semantic_model=ssd.semantic_model,
            column_types=[],
        )
        out_text = dump_karma_model(km, namespace=args.namespace)
    with open(args.output, "w", encoding="utf-8") as fh:
        fh.write(out_text)
    print(f"wrote {args.output}")
    return 0


def cmd_list_queries(args) -> int:
    from serene_spark.registry import load_all

    for name, q in sorted(load_all().items()):
        if args.grep and args.grep.lower() not in name.lower():
            continue
        kind = "oracle" if q.oracle else "rows-only"
        doc = " ".join((q.doc or "").split())[:100]
        print(f"{name}\t{kind}\t{doc}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="serene_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("profile", help="per-column feature matrix")
    sp.add_argument("data", help="CSV file or directory")
    sp.add_argument("--features", help="feature-config JSON (activeFeatures / "
                    "activeFeatureGroups / featureExtractorParams)")
    sp.set_defaults(fn=cmd_profile)

    st = sub.add_parser("train", help="train the semantic-type classifier")
    st.add_argument("data")
    st.add_argument("labels", help="CSV: column_name,class")
    st.add_argument("model", help="output model dir")
    st.add_argument(
        "--cross-validate",
        action="store_true",
        help="10-fold grid search (depth x trees x impurity, seed 10857171; "
        "TrainMlibSemanticTypeClassifier.scala:107-143)",
    )
    st.add_argument("--features", help="feature-config JSON gating which "
                    "profiling features feed the model (FeatureSettings.scala:9-60)")
    st.set_defaults(fn=cmd_train)

    spr = sub.add_parser("predict", help="predict semantic types")
    spr.add_argument("model")
    spr.add_argument("data")
    spr.add_argument(
        "--derived-features",
        help="write id,label,confidence,<class scores>,<features> CSV here",
    )
    spr.set_defaults(fn=cmd_predict)

    se = sub.add_parser("evaluate", help="confusion matrix from predictions CSV")
    se.add_argument("predictions", help="CSV: column_name,actual,predicted")
    se.set_defaults(fn=cmd_evaluate)

    str_ = sub.add_parser("transform", help="rule-table regex rewrite")
    str_.add_argument("data")
    str_.add_argument("rules", help="CSV: class,source_pattern,output_format")
    str_.set_defaults(fn=cmd_transform)

    sl = sub.add_parser("label", help="interactive manual labeling console")
    sl.add_argument("data", help="CSV file or directory")
    sl.add_argument("class_list", help="text file: one class per line")
    sl.add_argument("labels", help="output labels CSV (attr_id,class)")
    sl.set_defaults(fn=cmd_label)

    sv = sub.add_parser("validate", help="interactive prediction validation")
    sv.add_argument("predictions", help="CSV: attr_id,predicted,confidence[,date_predicted]")
    sv.add_argument("labels", help="output 6-column validated labels CSV")
    sv.set_defaults(fn=cmd_validate)

    sei = sub.add_parser(
        "evaluate-incremental", help="incremental-train-size accuracy experiment"
    )
    sei.add_argument("data")
    sei.add_argument("labels")
    sei.add_argument("--proportions", default="0.2,0.5,1.0")
    sei.add_argument("--repetitions", type=int, default=1)
    sei.set_defaults(fn=cmd_eval_incremental)

    sq = sub.add_parser("query", help="run any registered query by name")
    sq.add_argument("name")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sq.add_argument("--out", help="write result CSV here instead of stdout")
    sq.add_argument("--limit", type=int, default=20, help="stdout row cap")
    sq.set_defaults(fn=cmd_query)

    scv = sub.add_parser(
        "convert-model", help="convert Karma *.model.json <-> reference .ssd"
    )
    scv.add_argument("input")
    scv.add_argument("output")
    scv.add_argument("--from", dest="frm", choices=("karma", "ssd"), required=True)
    scv.add_argument("--to", choices=("karma", "ssd"), required=True)
    scv.add_argument(
        "--namespace",
        default="http://serene-spark/ontology#",
        help="ontology namespace used to qualify non-URI class/property "
        "labels when writing Karma model.json — set it to the target "
        "workspace's ontology namespace so imported models match its "
        "classes (labels that are already URIs pass through unchanged)",
    )
    scv.set_defaults(fn=cmd_convert_model)

    slq = sub.add_parser("list-queries", help="list the registered query surface")
    slq.add_argument("--grep", help="case-insensitive substring filter")
    slq.set_defaults(fn=cmd_list_queries)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
