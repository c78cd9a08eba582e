"""JSON file storage layer (Storage.scala:75-265 semantics)."""

from __future__ import annotations

import os
import random

from serene_spark.storage import (
    ModelStorage,
    OctopusStorage,
    OwlStorage,
    SsdStorage,
    Storage,
)


def test_generic_crud_and_ids(tmp_path):
    store = Storage(str(tmp_path / "things"), rng=random.Random(42))
    a = store.add({"x": 1})
    b = store.add({"x": 2})
    assert a != b and 0 <= a <= 2**31 - 1
    assert store.get(a) == {"x": 1}
    assert store.get(99) is None
    store.update(a, {"x": 3})
    assert store.get(a) == {"x": 3}
    try:
        store.update(12345, {"x": 0})
        raise AssertionError("update of missing id must raise")
    except KeyError:
        pass
    assert store.keys() == sorted([a, b])
    store.remove(a)
    assert store.get(a) is None and store.keys() == [b]


def test_ssd_roundtrip(tmp_path):
    from serene_spark.modeler.octopus import CUSTOMER_SSD

    store = SsdStorage(str(tmp_path / "ssds"), rng=random.Random(7))
    eid = store.add(CUSTOMER_SSD)
    back = store.get(eid)
    assert back.name == CUSTOMER_SSD.name
    assert back.attributes == CUSTOMER_SSD.attributes
    assert back.mappings == CUSTOMER_SSD.mappings
    assert back.triples() == CUSTOMER_SSD.triples()
    assert back.is_complete()


def test_owl_store_reparses(tmp_path):
    import os

    import serene_spark.modeler.octopus as octo

    store = OwlStorage(str(tmp_path / "owls"), rng=random.Random(7))
    ttl = os.path.join(os.path.dirname(octo.__file__), "tpch_ontology.ttl")
    eid = store.add_owl(ttl)
    ont = store.get_ontology(eid)
    assert ont.classes == octo.ONTOLOGY.classes
    assert ont.object_properties == octo.ONTOLOGY.object_properties
    assert store.get_ontology(424242) is None


def test_octopus_alignment_cache(tmp_path):
    from serene_spark.modeler.octopus import ONTOLOGY, train_octopus

    alignment = train_octopus()
    store = OctopusStorage(str(tmp_path / "octopi"), rng=random.Random(7))
    eid = store.add({"name": "octo"})
    store.cache_alignment(eid, alignment)
    back = store.load_alignment(eid, ONTOLOGY)

    terminals = ["Customer1", "Region1"]
    assert back.steiner_tree(terminals) == alignment.steiner_tree(terminals)
    assert back._link_counts == alignment._link_counts
    assert back.export_json() == alignment.export_json()

    store.delete_alignment(eid)
    assert store.load_alignment(eid, ONTOLOGY) is None
    store.delete_alignment(eid)  # idempotent


def test_model_storage_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from serene_spark.ml.pipeline import (
        make_fixture_long,
        predict_semantic_types,
        profile_features_from_long,
        train_semantic_classifier,
    )

    long_df, labels_df = make_fixture_long(spark, n_tables=2, n_rows=60)
    feats = profile_features_from_long(spark, long_df)
    model, conv = train_semantic_classifier(spark, feats.join(F.broadcast(labels_df), "column_name"))

    store = ModelStorage(str(tmp_path / "models"), rng=random.Random(7))
    eid = store.add({"description": "fixture RF"})
    classes = list(model.stages[0].labels)
    store.save_model(eid, model, classes)

    loaded, classes_back = store.load_model(eid)
    assert classes_back == classes
    want = {
        (r["column_name"], r["predicted_class"])
        for r in predict_semantic_types(model, conv, feats).collect()
    }
    got = {
        (r["column_name"], r["predicted_class"])
        for r in predict_semantic_types(loaded, conv, feats).collect()
    }
    assert got == want
    assert store.load_model(store.add({"empty": True})) is None


def test_orchestrator_caches_alignment(spark, sf_dir, tmp_path):
    from serene_spark.modeler.octopus import ONTOLOGY
    from serene_spark.modeler.orchestrate import Octopus, Status

    store = OctopusStorage(str(tmp_path / "octostore"), rng=random.Random(7))
    eid = store.add({"name": "octo"})
    oct_ = Octopus(spark, sf_dir, storage=store, octopus_id=eid)
    oct_.train()
    assert oct_.wait(timeout=600).status == Status.COMPLETE
    cached = store.load_alignment(eid, ONTOLOGY)
    assert cached is not None
    assert cached.steiner_tree(["Customer1", "Region1"]) == oct_.alignment.steiner_tree(
        ["Customer1", "Region1"]
    )


def test_failed_update_keeps_the_old_record(tmp_path):
    """An update whose value cannot be serialized raises and leaves the
    stored record as it was, with no temporary file behind."""
    store = Storage(str(tmp_path / "things"), rng=random.Random(3))
    eid = store.add({"x": 1})
    try:
        store.update(eid, {"x": object()})
        raise AssertionError("serializing an object() must raise")
    except TypeError:
        pass
    assert store.get(eid) == {"x": 1}
    assert os.listdir(tmp_path / "things" / str(eid)) == ["data.json"]
