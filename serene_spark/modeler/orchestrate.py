"""Octopus train orchestration state machine (SURVEY §2.10).

Mirrors the reference's async training flow: ``trainOctopus`` marks the
octopus BUSY, forks two parallel futures — lobster (matcher RF) training and
alignment-graph construction — then merges their outcomes into the
COMPLETE/ERROR terminal states (core/.../drivers/OctopusInterface.scala:219-311;
states ``error/untrained/busy/complete`` per types/.../ModelTypes.scala:83-101).

Spark note: local-mode SparkSessions accept concurrent job submission from
multiple driver threads (Spark's scheduler interleaves the jobs), so the two
futures genuinely overlap — the RF training jobs and the driver-side graph
build run in parallel exactly like the reference's Scala ``Future`` pair.
"""

from __future__ import annotations

import threading
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import SparkSession

from serene_spark.modeler.alignment import AlignmentGraph
from serene_spark.modeler.octopus import (
    UNKNOWN_THRESHOLD,
    supplier_predictions,
    train_lobster,
    train_octopus,
)
from serene_spark.modeler.suggest import suggest_models


class Status(str, Enum):
    """ModelTypes.Status (ModelTypes.scala:83-101)."""

    ERROR = "error"
    UNTRAINED = "untrained"
    BUSY = "busy"
    COMPLETE = "complete"


@dataclass
class TrainState:
    status: Status = Status.UNTRAINED
    message: str = ""


@dataclass
class Octopus:
    """An octopus instance: holds its own and its lobster's train states and
    the trained artifacts (alignment graph; RF model + class list)."""

    spark: SparkSession
    sf_dir: str
    state: TrainState = field(default_factory=TrainState)
    lobster_state: TrainState = field(default_factory=TrainState)
    alignment: AlignmentGraph | None = None
    model: object | None = None
    classes: list[str] | None = None
    # optional persistence (storage.OctopusStorage): COMPLETE caches the
    # alignment graph to disk, ERROR deletes it (OctopusStorage.scala:110;
    # OctopusInterface's deleteAlignmetDir error path)
    storage: object | None = None
    octopus_id: int | None = None
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)
    _pending: Future | None = field(default=None, repr=False)

    # -- train ---------------------------------------------------------------

    def train(self, force: bool = False) -> TrainState:
        """Launch async training; returns the (BUSY) state immediately.

        Re-trains only when ``force`` (OctopusInterface.scala:222-228); a BUSY
        octopus is returned as-is rather than double-launched (:226-228)."""
        with self._lock:
            if self.state.status == Status.COMPLETE and not force:
                return self.state
            if self.state.status == Status.BUSY:
                return self.state
            self.state = TrainState(Status.BUSY)
            self.lobster_state = TrainState(Status.BUSY)

        pool = ThreadPoolExecutor(max_workers=2, thread_name_prefix="octopus-train")
        lobster_fut = pool.submit(train_lobster, self.spark, self.sf_dir)
        align_fut = pool.submit(train_octopus)
        merged = pool.submit(self._merge, lobster_fut, align_fut)
        self._pending = merged
        pool.shutdown(wait=False)
        return self.state

    def _merge(self, lobster_fut: Future, align_fut: Future) -> None:
        """The reference's ``processPaths`` four-way outcome merge
        (OctopusInterface.scala:219-311): each half succeeds or fails
        independently; the octopus is COMPLETE only if both succeeded and
        the alignment is cached."""
        lobster_err = align_err = None
        try:
            model, classes = lobster_fut.result()
        except Exception as exc:  # noqa: BLE001 — reference records any failure
            lobster_err = f"MatcherError: {exc}"
            model = classes = None
        try:
            alignment = align_fut.result()
        except Exception as exc:  # noqa: BLE001
            align_err = f"Modeler failed: {exc}"
            alignment = None

        # The alignment is on disk before COMPLETE is published: pollers
        # read the state without the lock, and a caller that sees
        # ``complete`` may read the cached alignment at once.
        persist = self.storage is not None and self.octopus_id is not None
        if align_err is None and lobster_err is None and persist:
            try:
                self.storage.cache_alignment(self.octopus_id, alignment)
            except Exception as exc:  # noqa: BLE001
                align_err = f"Caching the alignment failed: {exc}"
        with self._lock:
            if lobster_err is None:
                self.model, self.classes = model, classes
                self.lobster_state = TrainState(Status.COMPLETE)
            else:
                self.lobster_state = TrainState(Status.ERROR, lobster_err)
            if align_err is None and lobster_err is None:
                self.alignment = alignment
                self.state = TrainState(Status.COMPLETE)
            else:
                self.alignment = None  # deleteAlignmetDir analogue
                if persist:
                    self.storage.delete_alignment(self.octopus_id)
                self.state = TrainState(
                    Status.ERROR, "; ".join(m for m in (lobster_err, align_err) if m)
                )

    def wait(self, timeout: float | None = None) -> TrainState:
        """Block until the pending training settles (test/CLI convenience —
        the reference polls GET /octopus/:id state instead)."""
        if self._pending is not None:
            self._pending.result(timeout=timeout)
        return self.state

    # -- predict -------------------------------------------------------------

    def predict(self, top_k: int = 3):
        """Octopus predict (OctopusInterface.scala:491-540): requires COMPLETE,
        scores the target table's columns with the trained lobster, then runs
        the alignment-graph suggestion."""
        if self.state.status != Status.COMPLETE:
            raise RuntimeError(f"octopus is not trained (state={self.state.status.value})")
        preds = supplier_predictions(
            self.spark, self.sf_dir, model=self.model, classes=self.classes
        )
        return suggest_models(
            self.alignment, preds, top_k=top_k, unknown_threshold=UNKNOWN_THRESHOLD
        )
