"""Museum-29 real-data validation (round-4 top item).

Runs the reference's own museum benchmark artifacts — the 29 Karma model
JSONs per ontology flavor at
``modeler/src/test/resources/karma/museum/museum-29-{crm,edm}`` of the
reference checkout (serene_spark.reference) — through the rebuild, read-only:

1. **Read-in extraction** (MuseumSpec.scala:54-144 "Museum dataset crm/edm
   read in"): parse every model, emit one row per column node with its first
   user semantic type ``(datasetName, columnHeader, hNodeId, domainUri,
   typeUri)`` — exactly the CSV those tests write.
2. **Conversion gate** (MuseumSpec.scala:164-214 "edm models conversions"):
   all 29 models convert to SSDs; every SSD's semantic model is defined;
   class nodes carry non-empty labels from more than one namespace prefix.
3. **Leave-one-out suggestion** (the MuseumSpec/AlignmentGraphSpec workload
   end-to-end): build the alignment graph from 28 models + a model-derived
   ontology, take the held-out source's user semantic types as column
   predictions, and suggest its semantic model — asserting a connected
   structure over the true classes.

All parsing is driver-side (each model is O(40) nodes); the extraction rows
become a DataFrame so the per-flavor query is a registered part of the
engine surface.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession

from serene_spark.modeler.alignment import AlignmentGraph
from serene_spark.modeler.karma_io import (
    KarmaModel,
    load_karma_dir,
    local_name,
    ontology_from_models,
)
from serene_spark.modeler.suggest import suggest_models
from serene_spark.registry import register
from serene_spark.materialize import constraint_propagation_off, materialize
from serene_spark.reference import reference_path, require

MUSEUM_ROOT = reference_path("modeler", "src", "test", "resources", "karma", "museum")


def museum_dir(flavor: str = "crm") -> str:
    return os.path.join(MUSEUM_ROOT, f"museum-29-{flavor}")


@lru_cache(maxsize=4)
def load_museum(flavor: str = "crm") -> tuple[KarmaModel, ...]:
    """The 29 parsed models of one flavor, name-ordered (cached: the files
    are immutable reference test resources, read many times per session)."""
    require(museum_dir(flavor))
    return tuple(load_karma_dir(museum_dir(flavor)))


def column_type_rows(flavor: str = "crm") -> list[tuple[str, str, str, str, str]]:
    """The MuseumSpec read-in extraction: one row per column node
    ``(datasetName, columnHeader, hNodeId, domainUri, typeUri)``
    (MuseumSpec.scala:70-93), across all 29 models in name order."""
    rows: list[tuple[str, str, str, str, str]] = []
    for km in load_museum(flavor):
        for col_name, h_id, dom, typ in km.column_types:
            rows.append((km.name, col_name, h_id, dom, typ))
    return rows


def conversion_gate(flavor: str = "edm") -> dict[str, int | bool]:
    """The MuseumSpec.scala:164-214 assertions, as measured facts:
    29 models read; all convert to SSDs with a defined semantic model;
    all class nodes carry a non-empty namespace prefix; the prefixes of
    helper (class-to-class) links span more than one namespace."""
    models = load_museum(flavor)
    ssds = [km.to_ssd() for km in models]
    prefixes: set[str] = set()
    class_labels_ok = True
    for km in models:
        # class-node labels non-empty <=> their URIs had a local name
        for n in km.semantic_model.nodes:
            if n.node_type == "ClassNode" and not n.label:
                class_labels_ok = False
    # namespace prefixes of the object-property links, via the raw files'
    # label URIs — recover from the parsed labels' source models
    for km in models:
        for h_id, types in km.user_types.items():
            for t in types:
                if "#" in t.domain_uri:
                    prefixes.add(t.domain_uri.rsplit("#", 1)[0])
                elif "/" in t.domain_uri:
                    prefixes.add(t.domain_uri.rsplit("/", 1)[0])
    return {
        "n_models": len(models),
        "n_ssds_defined": sum(1 for s in ssds if s.semantic_model.nodes),
        "all_class_labels_nonempty": class_labels_ok,
        "n_namespace_prefixes": len(prefixes),
    }


def _unique_col_keys(km: KarmaModel) -> dict[str, str]:
    """hnode id -> unique prediction key.

    suggest_models keys columns by NAME; several museum sources carry
    duplicate column names (s05-met: two 'values'; s10-s-18-artworks:
    ELEVEN 'values') and a name-keyed dict silently merges them into one
    pseudo-column — measured at 15 true columns -> 5 prediction entries
    on s10, costing it 5 of its 11 classes (LOO recall 0.545). Duplicate
    names get a stable ~hnode suffix so every column keeps its own
    candidate list; unique names stay verbatim (golden orderings in
    SuggestModelSpec-derived tests key on them)."""
    from collections import Counter

    counts = Counter(c for _h, c in km.source_columns)
    return {h: (c if counts[c] == 1 else f"{c}~{h}")
            for h, c in km.source_columns}


def _predictions_from_user_types(km: KarmaModel) -> dict[str, dict[str, float]]:
    """Held-out source's column predictions from its own user annotations:
    column -> {"Class---property": 1.0} — the ground-truth analog of the
    matcher scores KarmaSuggestModel consumes (KarmaSuggestModel.scala:122-173
    builds candidate types per column from exactly such scored pairs)."""
    keys = _unique_col_keys(km)
    preds: dict[str, dict[str, float]] = {}
    for col_name, h_id, dom, typ in km.column_types:
        if not dom:
            continue
        label = f"{local_name(dom)}---{local_name(typ)}"
        preds.setdefault(keys.get(h_id, col_name), {})[label] = 1.0
    return preds


def _predictions_from_learned_types(km: KarmaModel) -> dict[str, dict[str, float]]:
    """REAL matcher scores: the museum files carry each column's
    ``learnedSemanticTypes`` — Karma's own TfIdf model's ranked (domain,
    property) candidates with confidences (seen in every museum-29 file).
    Using them as the prediction input exercises the noisy multi-candidate
    mapping enumeration (KarmaSuggestModel.scala:122-173) on genuine
    matcher output rather than ground truth."""
    h_to_col = _unique_col_keys(km)
    preds: dict[str, dict[str, float]] = {}
    for h_id, types in km.learned_types.items():
        col = h_to_col.get(h_id)
        if col is None:
            continue
        for t in types:
            if not t.domain_uri or t.confidence <= 0:
                continue
            label = f"{local_name(t.domain_uri)}---{local_name(t.type_uri)}"
            preds.setdefault(col, {})[label] = max(
                preds.get(col, {}).get(label, 0.0), t.confidence
            )
    return preds


def suggest_with_learned_types(
    flavor: str = "crm", holdout_index: int = 0, top_k: int = 1
):
    """Leave-one-out suggestion driven by the held-out source's REAL Karma
    TfIdf scores instead of ground-truth types."""
    models = load_museum(flavor)
    held = models[holdout_index]
    train = [m for i, m in enumerate(models) if i != holdout_index]
    onto = ontology_from_models(train)
    alignment = AlignmentGraph(onto).construct_initial_alignment(
        [m.semantic_model for m in train]
    )
    preds = _predictions_from_learned_types(held)
    return suggest_models(alignment, preds, top_k=top_k), held


def suggest_leave_one_out(flavor: str = "crm", holdout_index: int = 0, top_k: int = 1):
    """Build the alignment from the other 28 models and suggest the held-out
    source's model. Returns (suggestions, held_out_model)."""
    models = load_museum(flavor)
    held = models[holdout_index]
    train = [m for i, m in enumerate(models) if i != holdout_index]
    onto = ontology_from_models(train)
    alignment = AlignmentGraph(onto).construct_initial_alignment(
        [m.semantic_model for m in train]
    )
    preds = _predictions_from_user_types(held)
    return suggest_models(alignment, preds, top_k=top_k), held


def _column_types_df(spark: SparkSession, flavor: str) -> DataFrame:
    return spark.createDataFrame(
        column_type_rows(flavor),
        "dataset_name string, column_header string, hnode_id string, "
        "domain_uri string, type_uri string",
    ).orderBy("dataset_name", "hnode_id")


@register(
    "museum29_column_types_crm",
    oracle=None,  # input is the reference's Karma JSON corpus, not sf parquet
    doc="REAL-data museum benchmark: per-column first user semantic type "
    "across all 29 crm Karma models (MuseumSpec.scala:54-99 'read in'); "
    "418 rows pinned in tests/test_museum.py",
    requires=(museum_dir("crm"),),
)
def museum29_column_types_crm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _column_types_df(spark, "crm")


S01_CSV = reference_path("core", "src", "test", "resources", "s01-cb.csv.csv")


def museum_e2e_s01(spark: SparkSession):
    """FULL pipeline on the reference's real museum source: the actual
    s01-cb data file (72 rows of Crystal Bridges records) through the repo
    CSV loader -> per-column profiling -> RF semantic-type classifier
    (labels = the s01 Karma model's user semantic types) -> predicted
    ``Class---property`` scores -> alignment-graph suggestion from the
    OTHER 28 museum models. Returns (suggestions, predictions, held_model).

    This is the serene architecture end-to-end — matcher + modeler — on the
    reference's own benchmark data; the LOO gates elsewhere feed ground-
    truth types, here the types come from the trained classifier over real
    column VALUES.
    """
    from pyspark.sql import functions as F

    from serene_spark.ml.pipeline import (
        predict_semantic_types,
        profile_features_from_long,
        train_semantic_classifier,
    )
    from serene_spark.sources.csv_loader import load_csv

    models = load_museum("crm")
    held = models[0]  # s01-cb.csv

    # the loader's own header sanitization — NOT an inline copy, so a
    # loader change cannot silently desync these keys from wide.columns
    from serene_spark.sources.csv_loader import _sanitize as sanitize

    label_by_col = {
        sanitize(col): f"{local_name(dom)}---{local_name(typ)}"
        for col, _h, dom, typ in held.column_types
        if dom
    }
    require(S01_CSV)
    wide = load_csv(spark, S01_CSV)
    cols = [c for c in wide.columns if c in label_by_col]
    pairs = ", ".join(f"'{c}', coalesce(`{c}`, '')" for c in cols)
    # cut loader-filter lineage, with constraint propagation scoped off for
    # the barrier plan itself (see homeseekers_real: the pass explodes on
    # loader-filters-under-stack — 52-57 s of driver planning without this)
    with constraint_propagation_off(spark):
        long_df = wide.selectExpr(
            f"stack({len(cols)}, {pairs}) as (column_name, value)"
        ).transform(materialize)
    labels_df = spark.createDataFrame(
        sorted((c, label_by_col[c]) for c in cols), "column_name string, class string"
    )
    features = profile_features_from_long(spark, long_df)
    model, conv = train_semantic_classifier(
        spark, features.join(labels_df, "column_name")
    )
    pred_rows = predict_semantic_types(model, conv, features).collect()
    predictions = {
        r["column_name"]: {r["predicted_class"]: float(r["confidence"])}
        for r in pred_rows
    }

    train = [m for i, m in enumerate(models) if i != 0]
    onto = ontology_from_models(train)
    alignment = AlignmentGraph(onto).construct_initial_alignment(
        [m.semantic_model for m in train]
    )
    return suggest_models(alignment, predictions, top_k=1), predictions, held


@register(
    "museum_e2e_s01",
    oracle=None,  # ML + graph search over reference test files — rows-only
    doc="FULL serene pipeline on the reference's real s01-cb museum data: "
    "CSV loader -> profiling -> RF types -> alignment suggestion from the "
    "other 28 models; recovery gates pinned in tests/test_museum.py",
    requires=(museum_dir("crm"), S01_CSV),
)
def museum_e2e_s01_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serene_spark.modeler.report_fixture import _suggestions_df

    suggestions, _preds, _held = museum_e2e_s01(spark)
    return _suggestions_df(spark, suggestions)


@register(
    "ssd_suggest_museum29",
    oracle=None,
    doc="REAL-data museum benchmark: leave-one-out suggestion for s01-cb.csv "
    "from the other 28 crm models (MuseumSpec/AlignmentGraphSpec workload); "
    "structural gates pinned in tests/test_museum.py",
    requires=(museum_dir("crm"),),
)
def ssd_suggest_museum29(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serene_spark.modeler.report_fixture import _suggestions_df

    suggestions, _held = suggest_leave_one_out("crm", 0, top_k=1)
    return _suggestions_df(spark, suggestions)
