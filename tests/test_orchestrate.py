"""Octopus orchestration state machine (OctopusInterface.scala:219-311)."""

from __future__ import annotations

import threading
import time

import pytest

from serene_spark.modeler import orchestrate
from serene_spark.modeler.orchestrate import Octopus, Status


def test_train_predict_lifecycle(spark, sf_dir):
    oct_ = Octopus(spark, sf_dir)
    assert oct_.state.status == Status.UNTRAINED
    with pytest.raises(RuntimeError):
        oct_.predict()

    state = oct_.train()
    assert state.status == Status.BUSY
    # second launch while busy is a no-op returning the BUSY state
    assert oct_.train().status == Status.BUSY

    final = oct_.wait(timeout=600)
    assert final.status == Status.COMPLETE
    assert oct_.lobster_state.status == Status.COMPLETE
    assert oct_.alignment is not None and oct_.model is not None

    # already-trained + no force → immediate COMPLETE, no relaunch
    assert oct_.train().status == Status.COMPLETE

    suggestions = oct_.predict()
    assert suggestions, "expected at least one suggested SSD"
    ssd, scores = suggestions[0]
    assert ssd.triples() and scores.karma_rank == 1


def test_error_state_on_bad_input(spark, tmp_path):
    oct_ = Octopus(spark, str(tmp_path / "nonexistent"))
    oct_.train()
    final = oct_.wait(timeout=600)
    assert final.status == Status.ERROR
    assert oct_.lobster_state.status == Status.ERROR
    assert "MatcherError" in final.message
    with pytest.raises(RuntimeError):
        oct_.predict()


class _SlowStorage:
    """An OctopusStorage stand-in whose alignment write takes a while (or
    fails)."""

    def __init__(self, fail: bool = False):
        self.fail = fail
        self.cached = threading.Event()
        self.deleted = False

    def cache_alignment(self, eid, alignment):
        time.sleep(0.3)
        if self.fail:
            raise OSError("disk full")
        self.cached.set()

    def delete_alignment(self, eid):
        self.deleted = True


def _stub_training(monkeypatch):
    monkeypatch.setattr(orchestrate, "train_lobster", lambda spark, sf_dir: ("rf", ["a"]))
    monkeypatch.setattr(orchestrate, "train_octopus", lambda: "alignment")


def test_complete_is_published_after_the_alignment_is_cached(monkeypatch):
    _stub_training(monkeypatch)
    storage = _SlowStorage()
    oct_ = Octopus(None, "unused", storage=storage, octopus_id=1)
    oct_.train()
    deadline = time.time() + 30
    # poll the way GET /octopus/:id does: no lock
    while (status := oct_.state.status) == Status.BUSY and time.time() < deadline:
        time.sleep(0.001)
    cached = storage.cached.is_set()
    oct_.wait(timeout=30)
    assert status == Status.COMPLETE
    assert cached, "COMPLETE was published before the alignment was cached"


def test_failed_alignment_cache_is_an_error(monkeypatch):
    _stub_training(monkeypatch)
    storage = _SlowStorage(fail=True)
    oct_ = Octopus(None, "unused", storage=storage, octopus_id=1)
    oct_.train()
    final = oct_.wait(timeout=30)
    assert final.status == Status.ERROR
    assert "disk full" in final.message
    assert oct_.alignment is None and storage.deleted
    with pytest.raises(RuntimeError):
        oct_.predict()

