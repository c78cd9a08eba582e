"""Queries that read the reference checkout's test resources declare them
(``register(requires=...)``); without the files a call raises the named
``ReferenceFixtureMissing`` from its loader, and the rows-only parity test
skips them instead of failing deep inside a parser."""

from __future__ import annotations

import pytest

from serene_spark.reference import ReferenceFixtureMissing, missing, require
from serene_spark.registry import load_all

REQUIRING = sorted(n for n, q in load_all().items() if q.requires)


def test_reference_queries_declare_requirements():
    assert {
        "museum29_column_types_crm",
        "museum_e2e_s01",
        "ssd_suggest_museum29",
        "ssd_suggest_business_real",
        "ssd_suggest_cities_cross_real",
        "semantic_type_predict_homeseekers_real",
    } <= set(REQUIRING)


@pytest.mark.parametrize("name", REQUIRING)
def test_direct_call_without_fixtures_raises_named_error(name, spark, sf_dir):
    q = load_all()[name]
    if not missing(q.requires):
        pytest.skip("fixtures present")
    with pytest.raises(ReferenceFixtureMissing, match="not present"):
        q.spark(spark, sf_dir)


def test_require_names_every_absent_path(tmp_path):
    present = tmp_path / "here"
    present.write_text("")
    gone = [str(tmp_path / "a"), str(tmp_path / "b")]
    require(str(present))
    with pytest.raises(ReferenceFixtureMissing) as err:
        require(str(present), *gone)
    assert all(p in str(err.value) for p in gone)
    assert isinstance(err.value, FileNotFoundError)
