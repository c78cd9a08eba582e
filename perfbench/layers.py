"""Per-layer numbers of a traced run.

Layers are named after the engine's modules (README.md has the map from
each layer to the functions whose calls open its spans). Unless its name
says otherwise, a metric is a mean per timed op. On ``octopus_predict``
the octopus is trained once during set-up; the training-side metrics
(``storage.*``, ``ml.train_collect_ms``, ``ml.fit_*``, ``modeler.align_ms``)
describe that one cold training run.
"""

from __future__ import annotations

import os
import statistics

from perfbench.trace import attribute_jobs, read_event_log, self_times

OPERATOR_QUERIES = ("profile_scalar_lineitem", "typeinfer_lineitem", "numeric_stats_lineitem")

PER_LAYER: list[tuple[str, str]] = [
    ("service.handler_ms", "ms"),
    ("service.http_ms", "ms"),
    ("storage.write_ms", "ms"),
    ("storage.bytes_written", "bytes"),
    ("catalog.load_ms", "ms"),
    ("catalog.load_calls", "count"),
    ("materialize.calls", "count"),
    ("materialize.ms", "ms"),
    ("profile.ms", "ms"),
    ("profile.executor_cpu_s", "s"),
    ("profile.shuffle_records", "count"),
    ("profile.shuffle_write_bytes", "bytes"),
    ("profile.spill_bytes", "bytes"),
    ("ml.train_collect_ms", "ms"),
    ("ml.fit_ms", "ms"),
    ("ml.fit_jobs", "count"),
    ("ml.transform_ms", "ms"),
    ("modeler.align_ms", "ms"),
    ("modeler.suggest_ms", "ms"),
    ("modeler.hypotheses", "count"),
    *[(f"operators.{q}.{m}", u) for q in OPERATOR_QUERIES
      for m, u in (("ms", "ms"), ("executor_cpu_s", "s"), ("shuffle_write_bytes", "bytes"))],
    ("spark.plan_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_launch_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.executor_cpu_s", "s"),
    ("driver.py_cpu_ms", "ms"),
    ("driver.peak_rss_mb", "MiB"),
    ("trace.unattributed_share", "ratio"),
    ("trace.unattributed_jobs", "ratio"),
    ("trace.overhead_ratio", "ratio"),
]


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(root) for f in files)


def layer_metrics(tracer, result: dict, event_dir: str, storage_root: str) -> dict:
    spans = tracer.spans
    selfs = self_times(spans)
    jobs = read_event_log(event_dir)
    owner = attribute_jobs(spans, jobs)
    timed = result["timed"]
    n = len(timed)
    timed_ids = {s["id"] for s in timed}
    roots = [sp for sp in spans if sp.layer == "op" and sp.op in timed_ids]

    def chain(sid):
        while sid is not None:
            yield spans[sid]
            sid = spans[sid].parent

    def pick(ops, layer=None, name=None):
        return [sp for sp in spans if sp.op in ops and sp.end is not None
                and (layer is None or sp.layer == layer) and (name is None or sp.name == name)]

    def ms(sel, self_only=False) -> float:
        return 1000.0 * sum(selfs[sp.sid] if self_only else sp.end - sp.start for sp in sel)

    def jobs_under(pred, ops) -> list[dict]:
        return [job for jid, job in jobs.items() if owner[jid] is not None
                and spans[owner[jid]].op in ops and any(pred(sp) for sp in chain(owner[jid]))]

    setup = {"setup"}
    op_jobs = [job for job in jobs.values()
               if any(r.start <= job["submit"] <= r.end for r in roots)]
    profile_jobs = jobs_under(lambda sp: sp.layer == "profile", timed_ids)
    op_wall = sum(r.end - r.start for r in roots)
    untraced = statistics.median(s["s"] for s in result["untraced"])
    traced = statistics.median(s["s"] for s in timed)
    unowned = [jid for jid, job in jobs.items()
               if any(r.start <= job["submit"] <= r.end for r in roots)
               and (owner[jid] is None or spans[owner[jid]].layer == "op")]

    values = {
        "service.handler_ms": ms(pick(timed_ids, "service"))
        - ms(pick(timed_ids, "service", "http")),
        "service.http_ms": ms(pick(timed_ids, "service", "http"), self_only=True),
        "catalog.load_ms": ms(pick(timed_ids, "catalog"), self_only=True),
        "catalog.load_calls": len(pick(timed_ids, "catalog")),
        "materialize.calls": len(pick(timed_ids, "materialize")),
        "materialize.ms": ms(pick(timed_ids, "materialize"), self_only=True),
        "profile.ms": ms(pick(timed_ids, "profile"), self_only=True),
        "profile.executor_cpu_s": sum(j["cpu_s"] for j in profile_jobs),
        "profile.shuffle_records": sum(j["shuffle_records"] for j in profile_jobs),
        "profile.shuffle_write_bytes": sum(j["shuffle_write"] for j in profile_jobs),
        "profile.spill_bytes": sum(j["spill"] for j in profile_jobs),
        "ml.transform_ms": ms(pick(timed_ids, "ml", "transform")),
        "modeler.suggest_ms": ms(pick(timed_ids, "modeler", "suggest")),
        "modeler.hypotheses": sum(sp.attrs.get("hypotheses", 0)
                                  for sp in pick(timed_ids, "modeler", "steiner")),
        "spark.plan_ms": sum(tracer.plan_ms_by_op.get(i, 0.0) for i in timed_ids),
        "spark.jobs": len(op_jobs),
        "spark.stages": sum(j["stages"] for j in op_jobs),
        "spark.tasks": sum(j["tasks"] for j in op_jobs),
        "spark.task_launch_ms": sum(j["launch_ms"] for j in op_jobs),
        "spark.gc_ms": sum(j["gc_ms"] for j in op_jobs),
        "spark.executor_cpu_s": sum(j["cpu_s"] for j in op_jobs),
        "driver.py_cpu_ms": 1000.0 * sum(s["cpu_s"] for s in timed),
    }
    for q in OPERATOR_QUERIES:
        q_jobs = jobs_under(lambda sp, q=q: sp.layer == "profile" and sp.name == q, timed_ids)
        values[f"operators.{q}.ms"] = ms(pick(timed_ids, "profile", q))
        values[f"operators.{q}.executor_cpu_s"] = sum(j["cpu_s"] for j in q_jobs)
        values[f"operators.{q}.shuffle_write_bytes"] = sum(j["shuffle_write"] for j in q_jobs)
    values = {k: v / n for k, v in values.items()}

    fit_jobs = jobs_under(lambda sp: sp.layer == "ml" and sp.name == "fit", setup)
    values.update({
        "storage.write_ms": ms(pick(setup | timed_ids, "storage")),
        "storage.bytes_written": dir_bytes(storage_root),
        "ml.train_collect_ms": ms(pick(setup, "ml", "train"), self_only=True),
        "ml.fit_ms": ms(pick(setup, "ml", "fit")),
        "ml.fit_jobs": len(fit_jobs),
        "modeler.align_ms": ms(pick(setup, "modeler", "align")),
        "trace.unattributed_share": ms(roots, self_only=True) / (1000.0 * op_wall),
        "trace.unattributed_jobs": len(unowned) / max(len(op_jobs), 1),
        "trace.overhead_ratio": traced / untraced,
        "driver.peak_rss_mb": result["peak_rss_mb"],
    })
    return {name: {"value": float(values[name]), "unit": unit} for name, unit in PER_LAYER}
