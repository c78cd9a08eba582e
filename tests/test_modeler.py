"""Modeler (SURVEY §2.10) tests — golden-model style, mirroring the
reference's SuggestModelSpec/AlignmentGraphSpec assertions (node/link counts
of constructed alignment graphs; expected suggested structures)."""

from __future__ import annotations

import os

import pytest

from serene_spark.modeler import (
    AlignmentGraph,
    SemanticModel,
    Ssd,
    evaluate_ssd,
    suggest_models,
)
from serene_spark.modeler.octopus import (
    CUSTOMER_SSD,
    ORDERS_SSD,
    octopus_training_labels,
    predict_supplier_ssd,
    ssd_semantic_type_labels,
    train_octopus,
)
from serene_spark.modeler.museum import museum_dir
from serene_spark.modeler.suggest import filter_predictions


def test_ssd_complete_and_roundtrip():
    assert CUSTOMER_SSD.is_complete()
    assert ORDERS_SSD.is_complete()
    sm = SemanticModel.from_json(CUSTOMER_SSD.semantic_model.to_json())
    assert sm.triples() == CUSTOMER_SSD.semantic_model.triples()


def test_alignment_graph_counts():
    """AlignmentGraphSpec-style: known node/edge population after merging the
    two known models + ontology closure."""
    g = train_octopus().graph
    # Customer1, Nation1, Region1, Order1 from models; Supplier1 + Party1 from ontology.
    assert set(g.nodes) == {"Customer1", "Nation1", "Region1", "Order1", "Supplier1", "Party1"}
    # Model-derived links are cheaper than ontology-only links.
    w_seen2 = g["Customer1"]["Nation1"]["locatedIn"]["weight"]  # in both SSDs
    w_seen1 = g["Nation1"]["Region1"]["partOf"]["weight"]  # in one SSD
    w_onto = g["Supplier1"]["Nation1"]["locatedIn"]["weight"]  # ontology only
    assert w_seen2 == 1.0 / 3.0
    assert w_seen1 == 0.5
    assert w_onto == 1.0
    assert w_seen2 < w_seen1 < w_onto


def test_prediction_filter_drops_unknown_and_zero():
    preds = {
        "a": {"unknown": 0.9, "Customer---name": 0.0},
        "b": {"Customer---name": 0.7, "unknown": 0.2},
    }
    kept = filter_predictions(preds)
    assert set(kept) == {"b"}
    assert kept["b"] == {"Customer---name": 0.7}


def test_ssd_label_derivation():
    """Labels for lobster training come from SSD mappings as Class---property
    (OctopusInterface.scala:580-660), not hardcoded dicts."""
    assert ssd_semantic_type_labels(CUSTOMER_SSD) == {
        "c_name": "Customer---name",
        "c_acctbal": "Customer---acctBal",
        "n_name": "Nation---name",
    }
    labels = octopus_training_labels()
    assert labels["o_totalprice"] == "Order---totalPrice"
    assert labels["c_name"] == "Customer---name"


def test_suggest_supplier_golden(spark, sf_dir):
    """End-to-end matcher→modeler: the RF (trained from known-SSD labels over
    real profiled columns) types s_name as a name-like property; key columns
    fall to `unknown` and are filtered; the top suggestion maps the surviving
    columns onto trained classes."""
    suggestions = predict_supplier_ssd(spark, sf_dir)
    assert suggestions, "no suggestions returned"
    top, scores = suggestions[0]
    assert scores.karma_rank == 1
    triples = top.triples()
    # s_name is a name-shaped string column -> mapped via the `name` property.
    assert any(p == "name" and o == "s_name" for _s, p, o in triples)
    # Key columns predicted `unknown` never appear in any suggestion.
    for ssd, _sc in suggestions:
        assert "s_suppkey" not in ssd.attributes
        assert "s_nationkey" not in ssd.attributes
    assert top.is_complete()
    # Ranks are 1..n and scores non-increasing.
    ranks = [s.karma_rank for _m, s in suggestions]
    assert ranks == list(range(1, len(suggestions) + 1))
    karma = [s.karma_score for _m, s in suggestions]
    assert karma == sorted(karma, reverse=True)


def test_suggest_deterministic(spark, sf_dir):
    a = [(m.semantic_model.to_json(), s) for m, s in predict_supplier_ssd(spark, sf_dir)]
    b = [(m.semantic_model.to_json(), s) for m, s in predict_supplier_ssd(spark, sf_dir)]
    assert a == b


def test_steiner_prefers_seen_links():
    """With Order+Nation as terminals the search must route Order->Customer->
    Nation (seen links, cost 1/2+1/3) over any ontology-only shortcut."""
    alignment = train_octopus()
    edges, cost = alignment.steiner_tree(["Order1", "Nation1"])
    assert ("Order1", "Customer1", "placedBy") in edges
    assert ("Customer1", "Nation1", "locatedIn") in edges
    assert abs(cost - (0.5 + 1.0 / 3.0)) < 1e-9


def test_top_k_distinct_trees():
    """Customer→Region has two routes: via Nation (seen links, 1/3 + 1/2)
    and the direct ontology memberOf edge (1.0); penalization surfaces both,
    ranked by original cost."""
    alignment = train_octopus()
    trees = alignment.top_k_steiner(["Customer1", "Region1"], k=3)
    assert len(trees) >= 2
    assert len({tuple(e) for e, _c in trees}) == len(trees)
    costs = [c for _e, c in trees]
    assert costs == sorted(costs)
    assert ("Customer1", "Nation1", "locatedIn") in trees[0][0]
    assert abs(trees[0][1] - (1.0 / 3.0 + 0.5)) < 1e-9


def test_evaluate_ssd_metrics():
    perfect = evaluate_ssd(CUSTOMER_SSD, CUSTOMER_SSD)
    assert perfect == {"precision": 1.0, "recall": 1.0, "jaccard": 1.0}
    cross = evaluate_ssd(ORDERS_SSD, CUSTOMER_SSD)
    assert cross["precision"] < 1.0
    # Each SSD has 5 triples; shared: Customer->Nation locatedIn,
    # Customer name c_name, Nation name n_name.
    assert cross["precision"] == pytest.approx(3 / 5)
    assert cross["recall"] == pytest.approx(3 / 5)
    assert cross["jaccard"] == pytest.approx(3 / 7)
    # Ignoring column nodes folds per-column ids away but keeps the typing.
    folded = evaluate_ssd(ORDERS_SSD, CUSTOMER_SSD, ignore_column_nodes=True)
    assert folded["recall"] >= cross["recall"]


def test_unmappable_prediction_yields_empty():
    alignment = train_octopus()
    assert suggest_models(alignment, {"x": {"unknown": 0.9}}) == []


def test_modeling_properties_rules_and_wiring():
    from serene_spark.modeler.octopus import (
        supplier_predictions,  # noqa: F401 — shape reference only
        train_octopus,
    )
    from serene_spark.modeler.suggest import ModelingProperties, suggest_models

    # reference defaults validate clean
    assert ModelingProperties().broken_rules() == []
    bad = ModelingProperties(
        mapping_branching_factor=0, confidence_weight=1.5, unknown_threshold=0.0
    )
    msgs = bad.broken_rules()
    assert "Property mappingBranchingFactor should be positive." in msgs
    assert "Property confidenceWeight should be in range [0, 1]" in msgs
    assert "Property unknownThreshold should be in range (0, 1]" in msgs

    alignment = train_octopus()
    preds = {
        "s_name": {"Supplier---name": 0.8},
        "s_acctbal": {"Supplier---acctBal": 0.7},
    }
    good = ModelingProperties(topk_steiner_trees=2, unknown_threshold=0.1)
    out = suggest_models(alignment, preds, props=good)
    assert out and out[0][1].karma_rank == 1
    try:
        suggest_models(alignment, preds, props=bad)
        raise AssertionError("invalid props must raise")
    except ValueError as e:
        assert "mappingBranchingFactor" in str(e)


def test_alignment_export_realign_roundtrip():
    """Round-4 item #6: JSON export round-trips (structure, weights, counts);
    realign after model-set change equals fresh construction; graphviz dump
    contains every node and edge."""
    from serene_spark.modeler.alignment import AlignmentGraph
    from serene_spark.modeler.report_fixture import museum_alignment

    ag = museum_alignment()
    # JSON round-trip
    restored = AlignmentGraph.import_json(ag.export_json(), ag.ontology)
    assert restored.export_json() == ag.export_json()
    assert restored.graph.number_of_nodes() == ag.graph.number_of_nodes()
    assert restored.graph.number_of_edges() == ag.graph.number_of_edges()
    # restored graph searches identically
    terms = sorted(ag.graph.nodes)[:3]
    assert restored.steiner_tree(terms) == ag.steiner_tree(terms)
    # graphviz contains every node id and one line per edge
    dot = ag.export_graphviz()
    assert dot.startswith("digraph alignment {") and dot.endswith("}")
    for u in ag.graph.nodes:
        assert f'"{u}"' in dot
    assert dot.count(" -> ") == ag.graph.number_of_edges()


@pytest.mark.skipif(
    not os.path.isdir(museum_dir("crm")), reason="reference museum corpus not mounted"
)
def test_realign_equals_fresh_construction():
    """Dropping a model and realigning == constructing fresh from the
    reduced set (KarmaBuildAlignmentGraph.scala:190-216 semantics)."""
    from serene_spark.modeler.alignment import AlignmentGraph
    from serene_spark.modeler.karma_io import ontology_from_models
    from serene_spark.modeler.museum import load_museum

    models = [km.semantic_model for km in load_museum("crm")[:5]]
    onto = ontology_from_models(list(load_museum("crm")[:5]))
    full = AlignmentGraph(onto).construct_initial_alignment(models)
    # realign the SAME object onto a reduced model set
    realigned = full.realign(models[:3])
    fresh = AlignmentGraph(onto).construct_initial_alignment(models[:3])
    assert realigned.export_json() == fresh.export_json()
    # and weights reflect the reduced agreement counts
    assert realigned._link_counts == fresh._link_counts
