"""Traced run: spans around calls into the engine's layers, Spark job metrics
from the event log, and the per-layer numbers derived from both.

Spans are recorded from the benchmark's side only: ``Tracer.install`` wraps
public functions of the engine's modules at their import sites (the defining
module and every loaded ``serene_spark`` module that bound the same object),
plus a few ``pyspark`` entry points. Nothing in the engine changes, and the
untraced run installs nothing.

A span is (layer, name, start, end, parent, op). A span opened on a thread
with no open span of its own (an HTTP handler thread, the octopus training
pool) takes as parent the most recently opened span still open in the same
op, so one request's spans form one tree. A span's self time is its duration
minus the part of it that its children cover.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    start: float
    parent: int | None
    op: str | None
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.on = False
        self.op: str | None = None
        self._open: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.plan_ms_by_op: dict[str | None, float] = {}

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.on:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            if stack:
                parent = stack[-1].sid
            else:
                same_op = [s for s in self._open if s.op == self.op]
                parent = same_op[-1].sid if same_op else None
            sp = Span(len(self.spans), layer, name, time.time(), parent, self.op)
            self.spans.append(sp)
            self._open.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            with self._lock:
                self._open.remove(sp)

    @contextmanager
    def op_span(self, op_id: str):
        """Root span of one benchmark op; every span opened inside belongs
        to ``op_id``."""
        self.op = op_id
        try:
            with self.span("op", op_id) as sp:
                yield sp
        finally:
            self.op = None

    def add_plan_ms(self, ms: float) -> None:
        with self._lock:
            self.plan_ms_by_op[self.op] = self.plan_ms_by_op.get(self.op, 0.0) + ms

    # -- wrapping ------------------------------------------------------------

    def _wrapper(self, orig, layer: str, name: str, after=None):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(layer, name) as sp:
                out = orig(*args, **kwargs)
                if after is not None and sp is not None:
                    after(sp, args, out)
                return out

        return wrapper

    def wrap_function(self, module: str, attr: str, layer: str, name: str | None = None,
                      after=None) -> None:
        """Wrap ``module.attr`` where it is defined and at every import site
        among the loaded engine modules."""
        __import__(module)
        orig = getattr(sys.modules[module], attr)
        wrapper = self._wrapper(orig, layer, name or attr, after)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("serene_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patched.append((mod, key, orig))
                    setattr(mod, key, wrapper)

    def _set_attr(self, cls, attr: str, new) -> None:
        # an inherited method is shadowed on ``cls`` and the shadow removed
        # again on uninstall
        self._patched.append((cls, attr, cls.__dict__.get(attr)))
        setattr(cls, attr, new)

    def wrap_method(self, cls, attr: str, layer: str, name: str | None = None,
                    after=None) -> None:
        self._set_attr(cls, attr, self._wrapper(getattr(cls, attr), layer, name or attr, after))

    def uninstall(self) -> None:
        for owner, key, orig in reversed(self._patched):
            if orig is None:
                delattr(owner, key)
            else:
                setattr(owner, key, orig)
        self._patched.clear()

    def install(self, dataframe_cls) -> None:
        """Wrap each layer's public entry points (see README.md for the
        layer -> function map)."""
        import serene_spark.catalog
        import serene_spark.functions.melt
        import serene_spark.materialize
        import serene_spark.ml.pipeline
        import serene_spark.modeler.orchestrate
        import serene_spark.operators.profile_scalar  # noqa: F401
        from pyspark.ml import Pipeline
        from serene_spark.modeler.alignment import AlignmentGraph
        from serene_spark.service import SereneService
        from serene_spark.storage import ModelStorage, OctopusStorage, Storage

        for attr in ("predict_octopus", "train_octopus", "octopus_state"):
            self.wrap_method(SereneService, attr, "service", attr)
        for cls, attr in ((Storage, "add"), (Storage, "update"),
                          (OctopusStorage, "cache_alignment"), (ModelStorage, "save_model")):
            self.wrap_method(cls, attr, "storage", attr)
        self.wrap_function("serene_spark.catalog", "load_table", "catalog")
        self.wrap_function("serene_spark.materialize", "materialize", "materialize")
        for attr in ("melt", "melt_ids"):
            self.wrap_function("serene_spark.functions.melt", attr, "profile")
        self.wrap_function("serene_spark.ml.pipeline", "profile_features_from_long", "profile")
        self.wrap_function("serene_spark.operators.profile_scalar", "profile_scalar", "profile")
        self.wrap_function("serene_spark.ml.pipeline", "train_semantic_classifier", "ml", "train")
        self.wrap_method(Pipeline, "fit", "ml", "fit")

        transformed: set[int] = set()
        self.wrap_function("serene_spark.ml.pipeline", "predict_with_scores", "ml",
                           "transform_build", after=lambda sp, a, out: transformed.add(id(out)))
        self.wrap_function("serene_spark.modeler.octopus", "train_octopus", "modeler", "align")
        self.wrap_function("serene_spark.modeler.octopus", "supplier_predictions", "modeler")
        self.wrap_function("serene_spark.modeler.suggest", "suggest_models", "modeler", "suggest")
        # one hypothesis per tree found; suggest_models tries a single-class
        # mapping, which has no tree, as one tree-less hypothesis
        self.wrap_method(AlignmentGraph, "top_k_steiner", "modeler", "steiner",
                         after=lambda sp, a, out: sp.attrs.update(hypotheses=max(len(out), 1)))

        tracer = self

        def action(attr: str):
            orig = getattr(dataframe_cls, attr)

            @functools.wraps(orig)
            def run(df, *args, **kwargs):
                if not tracer.on:
                    return orig(df, *args, **kwargs)
                if id(df) in transformed:
                    with tracer.span("ml", "transform"):
                        out = orig(df, *args, **kwargs)
                else:
                    out = orig(df, *args, **kwargs)
                tracer.add_plan_ms(plan_ms(df))
                return out

            self._set_attr(dataframe_cls, attr, run)

        for attr in ("collect", "localCheckpoint", "checkpoint"):
            action(attr)


def plan_ms(df) -> float:
    """Catalyst parsing + analysis + optimization + planning time recorded
    by the frame's QueryExecution tracker (phases not yet run add 0)."""
    from py4j.protocol import Py4JError

    try:
        it = df._jdf.queryExecution().tracker().phases().iterator()
        total = 0.0
        while it.hasNext():
            summary = it.next()._2()
            try:
                total += float(summary.durationMs())
            except Py4JError:  # Spark versions that wrap it in an Option
                total += float(summary.get().durationMs())
        return total
    except Py4JError:
        return 0.0


# -- event log ---------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs (with their executed stages' task totals) from the uncompressed,
    non-rolling event log(s) under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    completed: set[int] = set()
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit": ev["Submission Time"] / 1000.0,
                                 "stages": 0, "tasks": 0,
                                 "cpu_s": 0.0, "gc_ms": 0.0, "launch_ms": 0.0,
                                 "shuffle_write": 0, "shuffle_records": 0, "spill": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageCompleted":
                    completed.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    info = ev["Task Info"]
                    duration = info["Finish Time"] - info["Launch Time"]
                    deser = m.get("Executor Deserialize Time", 0)
                    delay = duration - m.get("Executor Run Time", 0) - deser - m.get(
                        "Result Serialization Time", 0) - info.get("Getting Result Time", 0)
                    job["tasks"] += 1
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["launch_ms"] += max(delay, 0) + deser
                    shuffle = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_write"] += shuffle.get("Shuffle Bytes Written", 0)
                    job["shuffle_records"] += shuffle.get("Shuffle Records Written", 0)
                    job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for sid in completed:
        if sid in stage_job and stage_job[sid] in jobs:
            jobs[stage_job[sid]]["stages"] += 1
    return jobs


# -- per-layer numbers -------------------------------------------------------


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its children (seconds)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None and sp.end is not None:
            par = spans[sp.parent]
            if par.end is None:
                continue
            s, e = max(sp.start, par.start), min(sp.end, par.end)
            if e > s:
                kids.setdefault(par.sid, []).append((s, e))
    return {sp.sid: (sp.end - sp.start) - _covered(kids.get(sp.sid, []))
            for sp in spans if sp.end is not None}


def attribute_jobs(spans: list[Span], jobs: dict) -> dict[int, int | None]:
    """Job id -> the deepest span open at its submission (None if no span
    was open)."""
    depth: dict[int, int] = {}
    for sp in spans:
        depth[sp.sid] = 0 if sp.parent is None else depth.get(sp.parent, 0) + 1
    closed = [sp for sp in spans if sp.end is not None]
    out: dict[int, int | None] = {}
    for jid, job in jobs.items():
        t = job["submit"]
        live = [sp for sp in closed if sp.start <= t <= sp.end]
        out[jid] = max(live, key=lambda sp: (depth[sp.sid], sp.start)).sid if live else None
    return out
