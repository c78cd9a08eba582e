"""Museum-29 REAL-data validation (round-4 top item).

Every test here reads the reference's OWN benchmark artifacts read-only —
the 29 Karma model JSONs per flavor under the reference checkout's
modeler/src/test/resources/karma/museum — and asserts the
properties the reference's MuseumSpec.scala checks, plus leave-one-out
suggestion quality gates the reference exercises through
AlignmentGraphSpec/SuggestModel workloads. Nothing is copied into the repo.
"""

from __future__ import annotations

import os

import pytest

from serene_spark.modeler.karma_io import (
    load_karma_model,
    local_name,
    ontology_from_models,
)
from serene_spark.modeler.museum import (
    column_type_rows,
    conversion_gate,
    load_museum,
    museum_dir,
    suggest_leave_one_out,
)
from serene_spark.modeler.ssd import CLASS_NODE, DATA_NODE, SemanticModel

pytestmark = pytest.mark.skipif(
    not os.path.isdir(museum_dir("crm")),
    reason="reference museum corpus not mounted",
)


def test_karma_loader_round_trip_counts():
    """Pinned node/link counts on 3+ files (round-4 done-criterion #2) and
    SemanticModel JSON round-trip."""
    d = museum_dir("crm")
    # (file, nodes, links) measured off the raw JSON's graph arrays
    pins = [
        ("s01-cb.csv.model.json", 22, 21),
        ("s03-ima-artists.xml.model.json", 18, 17),
        ("s05-met.json.model.json", 33, 32),
    ]
    for fname, n_nodes, n_links in pins:
        km = load_karma_model(os.path.join(d, fname))
        assert len(km.semantic_model.nodes) == n_nodes
        assert len(km.semantic_model.links) == n_links
        rt = SemanticModel.from_json(km.semantic_model.to_json())
        assert rt.triples() == km.semantic_model.triples()
        # every source column surfaced as a data node
        data_labels = {
            n.label for n in km.semantic_model.nodes if n.node_type == DATA_NODE
        }
        assert {c for _h, c in km.source_columns} == data_labels


def test_karma_loader_link_types_and_sem_types():
    """s01-cb: the raw Karma link-type split and the classLink annotation the
    MuseumSpec extraction surfaces (MuseumSpec.scala:70-93)."""
    km = load_karma_model(os.path.join(museum_dir("crm"), "s01-cb.csv.model.json"))
    assert km.link_type_counts == {
        "ObjectPropertyLink": 11,
        "ClassInstanceLink": 3,
        "DataPropertyLink": 7,
    }
    by_col = {c: (d, t) for c, _h, d, t in km.column_types}
    assert by_col["Actor_URI"] == (
        "http://erlangen-crm.org/current/E21_Person",
        "http://isi.edu/integration/karma/dev#classLink",
    )


def test_museum_crm_read_in():
    """'Museum dataset crm read in' (MuseumSpec.scala:54-99): 29 models, one
    extraction row per column node, every column annotated."""
    models = load_museum("crm")
    assert len(models) == 29
    rows = column_type_rows("crm")
    assert len(rows) == 418  # total crm column nodes, all carrying user types
    assert all(dom and typ for _ds, _c, _h, dom, typ in rows)
    assert len({ds for ds, *_ in rows}) == 29


def test_museum_edm_read_in():
    """'Museum dataset edm read in' (MuseumSpec.scala:101-144)."""
    models = load_museum("edm")
    assert len(models) == 29
    rows = column_type_rows("edm")
    assert len(rows) == sum(
        1 for km in models for n in km.semantic_model.nodes if n.node_type == DATA_NODE
    )
    assert len({ds for ds, *_ in rows}) == 29


def test_museum_edm_conversions():
    """'Museum dataset edm models conversions' (MuseumSpec.scala:164-214):
    all 29 convert to defined SSDs; class labels non-empty; >1 namespace."""
    gate = conversion_gate("edm")
    assert gate["n_models"] == 29
    assert gate["n_ssds_defined"] == 29
    assert gate["all_class_labels_nonempty"]
    assert gate["n_namespace_prefixes"] > 1
    # and each converted SSD is structurally complete
    for km in load_museum("edm"):
        ssd = km.to_ssd()
        assert set(ssd.mappings) == set(ssd.attributes)


def test_model_derived_ontology():
    onto = ontology_from_models(list(load_museum("crm")))
    assert "E21_Person" in onto.classes
    assert "P14_carried_out_by" in onto.object_properties
    dom, rng = onto.object_properties["P14_carried_out_by"]
    assert rng in onto.classes and dom in onto.classes


def test_leave_one_out_s01():
    """Held-out s01-cb.csv: complete connected model covering all six true
    classes (measured this session; suggestion structure is deterministic)."""
    sugg, held = suggest_leave_one_out("crm", 0, top_k=1)
    assert len(sugg) == 1
    ssd, scores = sugg[0]
    assert ssd.is_complete()
    true_classes = {local_name(d) for _c, _h, d, _t in held.column_types if d}
    got = {n.label for n in ssd.semantic_model.nodes if n.node_type == CLASS_NODE}
    assert true_classes <= got
    assert scores.karma_rank == 1 and scores.node_confidence == 1.0


def test_leave_one_out_all_29_quality():
    """Aggregate LOO gates over all 29 crm sources (measured this session:
    29/29 suggest, 25 complete, mean class recall 0.978, mean class-class
    triple precision 0.861 / recall 0.680 vs the held-out Karma model).
    Thresholds leave headroom for the KMB 2-approximation's tie behavior."""
    cls_recall, trip_prec, trip_rec = [], [], []
    n_complete = 0
    for i in range(29):
        sugg, held = suggest_leave_one_out("crm", i, top_k=1)
        assert sugg, f"holdout {i} ({held.name}): no suggestion"
        ssd, _ = sugg[0]
        if ssd.is_complete():
            n_complete += 1
        true_classes = {local_name(d) for _c, _h, d, _t in held.column_types if d}
        got = {n.label for n in ssd.semantic_model.nodes if n.node_type == CLASS_NODE}
        cls_recall.append(len(true_classes & got) / len(true_classes))

        def class_triples(sm):
            by = {n.id: n for n in sm.nodes}
            return {
                (by[l.source].label, l.label, by[l.target].label)
                for l in sm.links
                if by[l.source].node_type == CLASS_NODE
                and by[l.target].node_type == CLASS_NODE
            }

        true_t = class_triples(held.semantic_model)
        got_t = class_triples(ssd.semantic_model)
        if got_t:
            trip_prec.append(len(true_t & got_t) / len(got_t))
        if true_t:
            trip_rec.append(len(true_t & got_t) / len(true_t))
    assert n_complete >= 24
    assert sum(cls_recall) / len(cls_recall) >= 0.9
    assert sum(trip_prec) / len(trip_prec) >= 0.8
    assert sum(trip_rec) / len(trip_rec) >= 0.6


def test_registered_queries(spark, sf_dir):
    from serene_spark.modeler.museum import (
        museum29_column_types_crm,
        ssd_suggest_museum29,
    )

    cols = museum29_column_types_crm(spark, sf_dir)
    assert cols.count() == 418
    assert cols.columns == [
        "dataset_name", "column_header", "hnode_id", "domain_uri", "type_uri",
    ]
    trips = ssd_suggest_museum29(spark, sf_dir)
    rows = trips.collect()
    assert rows and all(r.rank == 1 for r in rows)
    # the suggested model's triples include a known s01 structure edge
    preds = {r.pred for r in rows}
    assert "P14_carried_out_by" in preds


def test_karma_model_dump_round_trip(tmp_path):
    """dump_karma_model is the inverse of load_karma_model: structure
    (triples over local names), source columns, and semantic-type
    annotations survive a dump -> reload cycle for real museum models."""
    from serene_spark.modeler.karma_io import dump_karma_model

    for fname in (
        "s01-cb.csv.model.json",
        "s05-met.json.model.json",
        "s16-s-hammer.xml.model.json",
    ):
        km = load_karma_model(os.path.join(museum_dir("crm"), fname))
        out = tmp_path / fname
        out.write_text(dump_karma_model(km), encoding="utf-8")
        rt = load_karma_model(str(out))
        assert rt.name == km.name
        assert rt.source_columns == km.source_columns
        assert rt.semantic_model.triples() == km.semantic_model.triples()
        assert rt.column_types == km.column_types
        assert rt.user_types == km.user_types
        assert rt.link_type_counts == km.link_type_counts


def test_leave_one_out_edm_flavor():
    """The suggestion machinery generalizes to the second ontology flavor
    (measured this session: 29/29 suggest, 29/29 complete, mean class
    recall 0.974 on edm). Full per-holdout sweep runs on crm; here a
    spot-check plus the aggregate recall gate on all 29 edm sources."""
    recalls = []
    n_complete = 0
    for i in range(29):
        sugg, held = suggest_leave_one_out("edm", i, top_k=1)
        assert sugg, f"edm holdout {i} ({held.name}): no suggestion"
        ssd, _ = sugg[0]
        if ssd.is_complete():
            n_complete += 1
        true_classes = {local_name(d) for _c, _h, d, _t in held.column_types if d}
        got = {n.label for n in ssd.semantic_model.nodes if n.node_type == CLASS_NODE}
        recalls.append(len(true_classes & got) / len(true_classes))
    assert n_complete >= 27
    assert sum(recalls) / len(recalls) >= 0.9


def test_museum_e2e_s01_full_pipeline(spark):
    """FULL pipeline on the reference's real s01-cb data file: loader ->
    profiling -> RF -> suggestion. Measured this session: 6/7 columns typed
    correctly (Attribution -> note confusion on 72 rows), suggestion
    complete with every class drawn from s01's true model."""
    from serene_spark.modeler.museum import museum_e2e_s01

    sugg, preds, held = museum_e2e_s01(spark)
    truth = {
        c: f"{local_name(d)}---{local_name(t)}"
        for c, _h, d, t in held.column_types
        if d
    }

    from serene_spark.sources.csv_loader import _sanitize as sanitize

    truth = {sanitize(c): v for c, v in truth.items()}
    hits = sum(
        1 for c, sc in preds.items() if max(sc, key=sc.get) == truth.get(c)
    )
    assert len(preds) == 7
    assert hits >= 5, (hits, preds)
    assert len(sugg) == 1
    ssd, _scores = sugg[0]
    assert ssd.is_complete()
    got_classes = {
        n.label for n in ssd.semantic_model.nodes if n.node_type == CLASS_NODE
    }
    held_classes = {
        n.label for n in held.semantic_model.nodes if n.node_type == CLASS_NODE
    }
    assert got_classes <= held_classes
    # the dominant time-span / dimension / title / type structure is present
    assert {"E52_Time-Span", "E54_Dimension", "E35_Title", "E55_Type"} <= got_classes


def test_leave_one_out_with_real_karma_tfidf_scores():
    """Suggestion driven by the museum files' REAL learnedSemanticTypes
    (Karma's TfIdf matcher scores) instead of ground truth — the noisy
    multi-candidate path (measured: 29/29 suggest, 14/29 complete, mean
    class recall 0.975 after the round-8 duplicate-column-key fix —
    s10's eleven 'values' columns used to collapse into one prediction
    entry, recall 0.545 there; 0.962 before that, 0.911 under the old
    conf/(1+cost) blend; remaining degradation from the ground-truth
    figure is genuine matcher noise, e.g. s10's Title column never
    ranks E35_Title)."""
    from serene_spark.modeler.museum import suggest_with_learned_types

    recalls = []
    n_complete = 0
    for i in range(29):
        sugg, held = suggest_with_learned_types("crm", i)
        assert sugg, f"holdout {i} ({held.name}): no suggestion"
        ssd, _ = sugg[0]
        if ssd.is_complete():
            n_complete += 1
        true_classes = {local_name(d) for _c, _h, d, _t in held.column_types if d}
        got = {n.label for n in ssd.semantic_model.nodes if n.node_type == CLASS_NODE}
        recalls.append(len(true_classes & got) / len(true_classes))
    assert n_complete >= 14
    assert sum(recalls) / len(recalls) >= 0.97


def test_duplicate_column_names_keep_all_mappings():
    """s05-met has two 'values' columns; a label-keyed mapping dict would
    silently drop one. Every data node must keep its own mapping and the
    SSD must be complete."""
    from serene_spark.modeler.karma_io import DATA_NODE, load_karma_model

    km = load_karma_model(
        os.path.join(museum_dir("crm"), "s05-met.json.model.json")
    )
    cols = [c for _h, c in km.source_columns]
    assert len(cols) == 18 and len(set(cols)) < 18  # the duplicate exists
    ssd = km.to_ssd()
    n_data = sum(1 for n in km.semantic_model.nodes if n.node_type == DATA_NODE)
    assert len(ssd.attributes) == len(set(ssd.attributes)) == 18
    assert len(ssd.mappings) == n_data == 18
    assert ssd.is_complete()
