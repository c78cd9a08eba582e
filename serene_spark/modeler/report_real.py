"""SuggestModelSpec scenarios on the reference's REAL files (round-4).

SuggestModelSpec.scala drives its suggestion scenarios with actual test
resources: ``businessInfo.ssd`` / ``getCities.ssd`` / ``personalInfo.ssd``
as known models, ``dataintegration_report_ontology.ttl`` as the preloaded
ontology, and the ``empty_*.ssd`` variants as the new sources to suggest
for. Round 3 validated these flows on hand-built ANALOG fixtures
(report_fixture.py); this module re-runs them on the reference's own files,
read-only, through the repo's ssd_io/owl/alignment/suggest stack:

- "Recommendation for empty businessInfo.csv succeeds"
  (SuggestModelSpec.scala:353-377): known=[businessInfo], suggest for the
  empty variant -> exactly the original model back, confidence 1;
- "Recommendation for empty getCities.csv using personalInfo and
  businessInfo succeeds" (:770-800): the cross-SSD scenario — the City
  structure must come from the ontology closure, since neither known model
  contains a City-City link.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession

from serene_spark.modeler.alignment import AlignmentGraph
from serene_spark.modeler.ssd import DATA_NODE, Ontology, Ssd
from serene_spark.modeler.ssd_io import load_ssd
from serene_spark.modeler.suggest import suggest_models
from serene_spark.reference import reference_path, require
from serene_spark.registry import register

SSD_DIR = reference_path("modeler", "src", "test", "resources", "ssd")
REPORT_ONTOLOGY_TTL = os.path.join(SSD_DIR, "dataintegration_report_ontology.ttl")


@lru_cache(maxsize=1)
def real_report_ontology() -> Ontology:
    """The reference's actual report ontology (file-level contents: 6
    classes, 9 object properties, 7 data properties, City/State < Place —
    Karma's manager reports 7/12/9 because it adds owl:Thing and its
    internal inverse/hierarchy links on top, SuggestModelSpec.scala:309-312)."""
    from serene_spark.modeler.owl import load_ontology

    require(REPORT_ONTOLOGY_TTL)
    return load_ontology(REPORT_ONTOLOGY_TTL)


@lru_cache(maxsize=8)
def real_ssd(name: str) -> Ssd:
    path = os.path.join(SSD_DIR, f"{name}.ssd")
    require(path)
    return load_ssd(path)


def predictions_from_ssd(ssd: Ssd) -> dict[str, dict[str, float]]:
    """Column predictions derived from a complete SSD's own mappings:
    attribute -> {"Class---property": 1.0} (the DataSetPrediction fixtures
    the spec feeds carry exactly these class/property pairs)."""
    sm = ssd.semantic_model
    by_id = {n.id: n for n in sm.nodes}
    # data node -> (owning class, data property)
    owner: dict[int, tuple[str, str]] = {}
    for l in sm.links:
        if by_id[l.target].node_type == DATA_NODE:
            owner[l.target] = (by_id[l.source].label, l.label)
    preds: dict[str, dict[str, float]] = {}
    for attr, node_id in ssd.mappings.items():
        if node_id in owner:
            cls, prop = owner[node_id]
            preds[attr] = {f"{cls}---{prop}": 1.0}
    return preds


def suggest_business_real(top_k: int = 1):
    """known=[businessInfo.ssd], real ontology, suggest for the empty
    variant (SuggestModelSpec.scala:353-377)."""
    known = real_ssd("businessInfo")
    alignment = AlignmentGraph(real_report_ontology()).construct_initial_alignment(
        [known.semantic_model]
    )
    return suggest_models(
        alignment, predictions_from_ssd(known), top_k=top_k
    ), known


def suggest_cities_cross_real(top_k: int = 1):
    """known=[personalInfo, businessInfo], suggest for getCities — the
    City--isPartOf--State structure exists in NEITHER known model, so it
    must come from the ontology closure (SuggestModelSpec.scala:770-800)."""
    target = real_ssd("getCities")
    known = [real_ssd("personalInfo"), real_ssd("businessInfo")]
    alignment = AlignmentGraph(real_report_ontology()).construct_initial_alignment(
        [k.semantic_model for k in known]
    )
    return suggest_models(
        alignment, predictions_from_ssd(target), top_k=top_k
    ), target


def _suggestion_triples_df(spark: SparkSession, suggestions) -> DataFrame:
    from serene_spark.modeler.report_fixture import _suggestions_df

    return _suggestions_df(spark, suggestions)


@register(
    "ssd_suggest_business_real",
    oracle=None,  # graph search over reference test files — rows-only
    doc="REAL-file SuggestModelSpec scenario: suggestion for empty "
    "businessInfo from the actual businessInfo.ssd + report ontology "
    "(SuggestModelSpec.scala:353-377); recovery pinned in tests/test_ssd_io.py",
    requires=(SSD_DIR,),
)
def ssd_suggest_business_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    suggestions, _known = suggest_business_real()
    return _suggestion_triples_df(spark, suggestions)


@register(
    "ssd_suggest_cities_cross_real",
    oracle=None,
    doc="REAL-file cross-SSD scenario: getCities suggested from "
    "personalInfo+businessInfo via the ontology closure "
    "(SuggestModelSpec.scala:770-800)",
    requires=(SSD_DIR,),
)
def ssd_suggest_cities_cross_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    suggestions, _target = suggest_cities_cross_real()
    return _suggestion_triples_df(spark, suggestions)
