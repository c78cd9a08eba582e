"""Tests of the benchmark itself: output schema, seed plumbing, failure
counting, checks and trace arithmetic. They need no Spark session, except
the smoke test, which runs only with PERFBENCH_SMOKE=1:

    python3 -m pytest perfbench/tests -q
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/tests -q -k smoke
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import checks, corpus
from perfbench.layers import PER_LAYER
from perfbench.run import REFERENCE_MS, Counter, end_to_end_metrics, host_reference_s
from perfbench.trace import Span, attribute_jobs, self_times
from perfbench.workloads import WORKLOADS, OctopusPredict, ProfileBulk

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


# -- output schema -------------------------------------------------------------


def test_end_to_end_names_and_units_match_spec():
    ref = REFERENCE_MS / 1000.0
    got = end_to_end_metrics(7.5, [1.0, 2.0, 3.0], [ref, ref, 3 * ref])
    assert {k: v["unit"] for k, v in got.items()} == {
        m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert got["op_ms_p50"]["value"] == pytest.approx(2000.0)
    assert got["setup_s"]["value"] == pytest.approx(7.5)
    assert all(v["value"] > 0 for v in got.values())


def test_end_to_end_times_scale_to_reference_speed():
    # on a host that runs the reference work at half speed, times halve
    slow = 2 * REFERENCE_MS / 1000.0
    got = end_to_end_metrics(8.0, [3.0], [slow, slow])
    assert got["op_ms_p50"]["value"] == pytest.approx(1500.0)
    assert got["setup_s"]["value"] == pytest.approx(4.0)


def test_host_reference_times_each_cpu():
    ref = host_reference_s()
    assert 0.1 * REFERENCE_MS / 1000.0 < ref < 20 * REFERENCE_MS / 1000.0


def test_per_layer_names_and_units_match_spec():
    assert [(m["name"], m["unit"]) for m in _spec()["per_layer"]] == PER_LAYER


def test_spec_names_the_workloads_and_its_paths():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert spec["paths"] == ["perfbench"]
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# -- seed plumbing ---------------------------------------------------------------


@pytest.mark.parametrize("size", ["lineitem_sf0.001", "octopus_sf0.001"])
def test_same_seed_same_digest_other_seed_other_digest(size):
    a, b, c = (corpus.digest(corpus.generate(size, s)) for s in (7, 7, 8))
    assert a == b
    assert a != c


def test_corpus_keeps_schema_and_row_counts(tmp_path):
    m = corpus.write_corpus("octopus_sf0.001", 3, str(tmp_path))
    assert m["rows"] == {"nation": 25, "customer": 150, "orders": 1500, "supplier": 10}
    orders = pd.read_parquet(os.path.join(m["dir"], "orders.parquet"))
    assert str(orders["o_orderdate"].dtype) == "datetime64[us]"
    # a second call reuses the written corpus
    assert corpus.write_corpus("octopus_sf0.001", 3, str(tmp_path))["digest"] == m["digest"]


# -- failure counting ------------------------------------------------------------


def _good_body() -> dict:
    ssd = {"attributes": ["s_name"], "mappings": {"s_name": 3}, "name": "x",
           "semanticModel": {}}
    return {"suggestions": [{"rank": r, "karma_score": 1.0, "ssd": ssd} for r in (1, 2, 3)]}


def _predict_stub(body: dict, expected_digest: str | None) -> OctopusPredict:
    wl = OctopusPredict.__new__(OctopusPredict)
    wl.octopus_id = 1
    wl.supplier_columns = ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]
    wl.digests = {} if expected_digest is None else {"suggestions": expected_digest}
    wl.request = lambda method, path, timeout=120.0: (200, body)
    return wl


def test_wrong_expected_digest_counts_as_failed_op():
    counter = Counter()
    counter.add(_predict_stub(_good_body(), "0000000000000000").op())
    assert (counter.attempted, counter.failed) == (1, 1)
    assert "suggestions changed" in counter.problems[0]


def test_matching_digest_counts_as_success():
    body = _good_body()
    counter = Counter()
    counter.add(_predict_stub(body, checks.json_digest(body)).op())
    assert (counter.attempted, counter.failed) == (1, 0)


def test_bad_response_counts_as_failed_op():
    counter = Counter()
    counter.add(_predict_stub({"suggestions": []}, None).op())
    assert counter.failed == 1


def test_counter_counts_failed_ops_not_problems():
    counter = Counter()
    counter.add([[], ["a", "b"], [], []])
    counter.add([["c", "d", "e"]])
    assert (counter.attempted, counter.failed) == (5, 2)
    assert counter.problems == ["a", "b", "c", "d", "e"]


def test_query_with_several_bad_columns_is_one_failed_op(monkeypatch):
    want = pd.DataFrame({"column_name": ["a", "b"], "x": [1.0, 2.0], "y": [3.0, 4.0],
                         "z": ["p", "q"]})
    bad = want.assign(x=[9.0, 9.0], y=[9.0, 9.0], z=["r", "s"])
    name = "typeinfer_lineitem"
    monkeypatch.setattr(checks, "oracle_results", lambda corpus, names, root: {name: want})
    wl = ProfileBulk.__new__(ProfileBulk)
    wl.corpus, wl.cache_root, wl.digests = None, None, {}
    wl._frame = lambda q: type("Frame", (), {"toPandas": lambda self: bad})()
    monkeypatch.setattr("perfbench.workloads.PROFILE_QUERIES", (name,))
    counter = Counter()
    counter.add(wl.check())
    assert (counter.attempted, counter.failed) == (1, 1)
    assert len(counter.problems) == 3


# -- checks ------------------------------------------------------------------------


def test_compare_tolerates_sixth_place_rounding_only():
    want = pd.DataFrame({"column_name": ["a", "b"], "x": [0.040017, 2.0]})
    assert checks.compare(want.iloc[::-1], want) == []
    assert checks.compare(want.assign(x=[0.040016, 2.0]), want) == []
    assert checks.compare(want.assign(x=[0.040014, 2.0]), want)
    assert checks.compare(want.assign(column_name=["a", "c"]), want)
    assert checks.compare(want.head(1), want)


def test_check_suggestions_invariants():
    cols = ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"]
    assert checks.check_suggestions(200, _good_body(), cols) == []
    assert checks.check_suggestions(500, {"error": "x"}, cols)
    bad = _good_body()
    bad["suggestions"][0]["ssd"]["attributes"] = ["c_name"]
    assert checks.check_suggestions(200, bad, cols)


# -- trace arithmetic --------------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op", "m0", 0.0, None, "m0", end=10.0),
        Span(1, "profile", "q", 1.0, 0, "m0", end=9.0),
        Span(2, "materialize", "materialize", 2.0, 1, "m0", end=5.0),
        Span(3, "catalog", "load_table", 4.0, 1, "m0", end=6.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(2.0)
    assert st[1] == pytest.approx(4.0)  # 8 s minus the 4 s its children cover
    jobs = {1: {"submit": 3.0}, 2: {"submit": 8.0}, 3: {"submit": 11.0}}
    assert attribute_jobs(spans, jobs) == {1: 2, 2: 1, 3: None}


# -- smoke -------------------------------------------------------------------------


@pytest.mark.skipif(os.environ.get("PERFBENCH_SMOKE") != "1",
                    reason="starts Spark; set PERFBENCH_SMOKE=1")
def test_smoke_every_workload():
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--smoke"], cwd=ROOT,
                          capture_output=True, text=True, timeout=1200)
    assert proc.returncode == 0, proc.stdout + proc.stderr[-2000:]
