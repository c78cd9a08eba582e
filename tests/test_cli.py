"""CLI (SURVEY §2.13) end-to-end: profile → train → predict → evaluate →
transform over a tiny CSV fixture, all through the argparse surface."""

from __future__ import annotations

import json

import pytest

from serene_spark import cli


@pytest.fixture(scope="module")
def fixture_csv(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    data = d / "data.csv"
    # Three labeled columns per class so the bootstrap in every RF tree sees
    # each class (a single row per class makes self-prediction flaky).
    hdr = ["phone", "phone_b", "phone_c", "email", "email_b", "email_c",
           "price", "price_b", "price_c"]
    rows = [",".join(hdr)]
    for i in range(30):
        rows.append(
            f"0{400 + i}-555-1{i:03d},0{500 + i}-555-2{i:03d},0{600 + i}-555-3{i:03d},"
            f"user{i}@example.com,a{i}@test.org,p{i}@mail.net,"
            f"{100 + i}.50,{200 + i}.25,{300 + i}.75"
        )
    data.write_text("\n".join(rows) + "\n")
    labels = d / "labels.csv"
    labels.write_text(
        "column_name,class\n"
        + "".join(f"{c},{c.split('_')[0]}\n" for c in hdr)
    )
    rules = d / "rules.csv"
    rules.write_text('class,source_pattern,output_format\nprice,"[.][0-9]+$",""\n')
    preds = d / "preds.csv"
    preds.write_text(
        "column_name,actual,predicted\na,phone,phone\nb,email,phone\nc,price,price\n"
    )
    return d


def test_cli_profile(fixture_csv, capsys, spark):
    assert cli.main(["profile", str(fixture_csv / "data.csv")]) == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 9
    by_col = {l["column_name"]: l for l in lines}
    assert by_col["email"]["prop_entries_with_at_sign"] == 1.0


def test_cli_train_predict(fixture_csv, capsys, spark, tmp_path):
    model_dir = str(tmp_path / "model")
    assert (
        cli.main(
            ["train", str(fixture_csv / "data.csv"), str(fixture_csv / "labels.csv"), model_dir]
        )
        == 0
    )
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["classes"]) == {"phone", "email", "price"}

    assert cli.main(["predict", model_dir, str(fixture_csv / "data.csv")]) == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    by_col = {l["column_name"]: l["predicted_class"] for l in lines}
    # Self-prediction on the training source must be perfect.
    assert by_col["phone"] == "phone"
    assert by_col["email"] == "email"
    assert by_col["price"] == "price"
    assert len(by_col) == 9


def test_cli_predict_derived_features_sink(fixture_csv, capsys, spark, tmp_path):
    """Golden-format check of the derived-features sink
    (MLibSemanticTypeClassifier.saveFeatures:218-258):
    header = id,label,confidence,<classes>,<features>; one row per column."""
    import csv
    import glob

    model_dir = str(tmp_path / "model")
    sink = str(tmp_path / "derived")
    cli.main(["train", str(fixture_csv / "data.csv"), str(fixture_csv / "labels.csv"), model_dir])
    capsys.readouterr()
    assert (
        cli.main(
            ["predict", model_dir, str(fixture_csv / "data.csv"),
             "--derived-features", sink]
        )
        == 0
    )
    capsys.readouterr()
    classes = json.load(open(f"{model_dir}/classes.json"))["classes"]
    [part] = glob.glob(f"{sink}/part-*.csv")
    with open(part) as f:
        rows = list(csv.reader(f))
    header, data = rows[0], rows[1:]
    assert header[:3] == ["id", "label", "confidence"]
    assert header[3:3 + len(classes)] == list(classes)
    n_features = len(header) - 3 - len(classes)
    assert n_features > 10  # the profiling feature block follows
    assert len(data) == 9  # one row per column
    for r in data:
        scores = [float(v) for v in r[3:3 + len(classes)]]
        assert abs(sum(scores) - 1.0) < 1e-4
        assert float(r[2]) == max(scores)  # confidence = max class score
        assert r[1] in classes


def test_cli_evaluate(fixture_csv, capsys, spark):
    assert cli.main(["evaluate", str(fixture_csv / "preds.csv")]) == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    cm = {(l["actual"], l["predicted"]): l["n"] for l in lines}
    assert cm[("phone", "phone")] == 1
    assert cm[("email", "phone")] == 1


def test_cli_transform(fixture_csv, capsys, spark):
    assert (
        cli.main(["transform", str(fixture_csv / "data.csv"), str(fixture_csv / "rules.csv")])
        == 0
    )
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    priced = [l for l in lines if l["column_name"] == "price"]
    assert priced and all("." not in l["transformed"] for l in priced)
    untouched = [l for l in lines if l["column_name"] == "email"]
    assert all(l["transformed"] == l["value"] for l in untouched)


def test_cli_list_queries_and_run(tmp_path, capsys):
    from serene_spark.cli import main

    assert main(["list-queries", "--grep", "skyline"]) == 0
    out = capsys.readouterr().out
    assert "skyline_parts" in out and "oracle" in out

    csv_path = str(tmp_path / "skyline.csv")
    assert main(["query", "skyline_parts", "--out", csv_path]) == 0
    import pandas as pd

    df = pd.read_csv(csv_path)
    assert set(df.columns) == {"p_partkey", "p_retailprice", "p_size"}
    assert len(df) >= 1

    # unknown name: non-zero exit + suggestion
    assert main(["query", "skyline"]) == 2
    assert "did you mean" in capsys.readouterr().err


def test_cli_convert_model(tmp_path):
    """Karma model.json -> .ssd -> karma via the CLI: structure preserved."""
    import os

    import pytest

    from serene_spark.modeler.museum import museum_dir

    src = os.path.join(museum_dir("crm"), "s01-cb.csv.model.json")
    if not os.path.isfile(src):
        pytest.skip("reference museum corpus not mounted")
    from serene_spark.cli import main
    from serene_spark.modeler.karma_io import load_karma_model
    from serene_spark.modeler.ssd_io import load_ssd

    ssd_out = str(tmp_path / "s01.ssd")
    assert main(["convert-model", src, ssd_out, "--from", "karma", "--to", "ssd"]) == 0
    converted = load_ssd(ssd_out)
    original = load_karma_model(src).to_ssd()
    assert converted.semantic_model.triples() == original.semantic_model.triples()
    assert converted.attributes == original.attributes

    karma_out = str(tmp_path / "s01.model.json")
    assert main(["convert-model", ssd_out, karma_out, "--from", "ssd", "--to", "karma"]) == 0
    back = load_karma_model(karma_out)
    assert back.semantic_model.triples() == original.semantic_model.triples()


def test_cli_convert_model_namespace(tmp_path):
    """--namespace qualifies non-URI labels with the TARGET workspace's
    ontology namespace, so imported models match its classes."""
    import json
    import os

    import pytest

    from serene_spark.modeler.museum import museum_dir

    src = os.path.join(museum_dir("crm"), "s01-cb.csv.model.json")
    if not os.path.isfile(src):
        pytest.skip("reference museum corpus not mounted")
    from serene_spark.cli import main

    ssd_out = str(tmp_path / "ns.ssd")
    karma_out = str(tmp_path / "ns.model.json")
    ns = "http://erlangen-crm.org/current/"
    assert main(["convert-model", src, ssd_out, "--from", "karma", "--to", "ssd"]) == 0
    assert main([
        "convert-model", ssd_out, karma_out,
        "--from", "ssd", "--to", "karma", "--namespace", ns,
    ]) == 0
    doc = json.load(open(karma_out))
    internal_uris = [
        n["label"]["uri"]
        for n in doc["graph"]["nodes"]
        if n.get("type") == "InternalNode"
    ]
    assert internal_uris and all(u.startswith(ns) for u in internal_uris)
