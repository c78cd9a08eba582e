"""Serene benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload profile_bulk --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke        # every workload on sf0.001-sized inputs

Run from the root of a checkout. The benchmark writes its seeded inputs,
oracle cache and per-run scratch under ``.perfbench/`` there, starts the
engine in this process on ``local[<cpus>]`` with the service listening on a
local port, warms up, then runs one closed-loop client for ``--seconds``.
The last line of standard output is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics untraced, the per-layer
metrics with ``--trace 1``). The line before it records the seed, the input
digest, the row counts, the output digests and the host settings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

# A run must end within 180 s; past this the process exits without a result
# (the engine's JVM exits with it when its stdin closes).
WATCHDOG_S = 170.0
# Host speed (see ``host_reference_s``): each of REFERENCE_CPUS processes
# times REFERENCE_REPEATS repeats of a REFERENCE_LOOP-step arithmetic loop;
# REFERENCE_MS is what one repeat takes on an uncontended 2 GHz Xeon core.
REFERENCE_LOOP = 100_000
REFERENCE_REPEATS = 5
REFERENCE_MS = 7.0
# Before each op the client waits, for at most IDLE_MAX_S, until the
# engine's JVM uses under IDLE_CPU_SHARE of a core over IDLE_WINDOW_S.
IDLE_MAX_S = 1.0
IDLE_WINDOW_S = 0.05
IDLE_CPU_SHARE = 0.5


def launcher_env(run_dir: str, event_dir: str | None) -> dict[str, str]:
    """Environment for an engine process: every CPU of this host, fresh
    local dirs, no console progress bar and, for a traced run, an
    uncompressed non-rolling event log. Driver memory is left to the
    engine's own default."""
    confs = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    local = os.path.join(run_dir, "local")
    os.makedirs(local, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {k}={v}" for k, v in confs.items())
        + " pyspark-shell",
    }


def start_engine(data_dir: str, storage_root: str):
    """The set-up a user of the service pays: import the engine, start the
    session, start the REST service. Returns (spark, server, seconds)."""
    t0 = time.perf_counter()
    from serene_spark.service import SereneService, start_server
    from serene_spark.session import get_spark

    spark = get_spark("perfbench")
    server = start_server(SereneService(spark, data_dir, storage_root))
    return spark, server, time.perf_counter() - t0


def stop_engine(spark, server) -> None:
    """Stop the service and the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    server.shutdown()
    server.server_close()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, in MiB (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def proc_cpu_s(pid: int) -> float:
    """User + system CPU time of a process so far, in seconds."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this host's CPUs so far."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def jvm_gc_jit_ms() -> tuple[float, float]:
    """Milliseconds the engine's JVM has spent so far in garbage collection
    and in JIT compilation."""
    from pyspark import SparkContext

    mf = SparkContext._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return float(gc), float(mf.getCompilationMXBean().getTotalCompilationTime())


def host_ram_mb() -> float:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Counter:
    """Attempted and failed ops, and the first few failure messages."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def add(self, ops: list[list[str]]) -> None:
        """Count ``ops``, one list of problems per op; an op with any
        problem is one failed op."""
        self.attempted += len(ops)
        self.failed += sum(1 for problems in ops if problems)
        for problems in ops:
            self.problems += problems[:5]


def wait_idle(pid: int) -> float:
    """Wait until process ``pid`` has nearly stopped using CPU, for at most
    ``IDLE_MAX_S``; returns the seconds waited."""
    t0 = time.perf_counter()
    last = proc_cpu_s(pid)
    while time.perf_counter() - t0 < IDLE_MAX_S:
        time.sleep(IDLE_WINDOW_S)
        now = proc_cpu_s(pid)
        if now - last <= IDLE_WINDOW_S * IDLE_CPU_SHARE:
            break
        last = now
    return time.perf_counter() - t0


def _reference_loop_s() -> float:
    best = float("inf")
    for _ in range(REFERENCE_REPEATS):
        t0 = time.perf_counter()
        x = 0
        for i in range(REFERENCE_LOOP):
            x = (x * 31 + i) % 1000003
        best = min(best, time.perf_counter() - t0)
    return best


def host_reference_s() -> float:
    """How long the host takes right now for a fixed piece of CPU work on
    each of its CPUs: one forked process per CPU times the reference loop
    (fastest of a few repeats); returns the mean over the processes."""
    children = []
    for _ in range(len(os.sched_getaffinity(0))):
        r, w = os.pipe()
        pid = os.fork()
        if pid == 0:  # the child only computes and writes, then exits at once
            os.close(r)
            os.write(w, repr(_reference_loop_s()).encode())
            os._exit(0)
        os.close(w)
        children.append((pid, r))
    times = []
    for pid, r in children:
        with os.fdopen(r, "rb") as fh:
            times.append(float(fh.read()))
        os.waitpid(pid, 0)
    return statistics.fmean(times)


def host_scale(ref_s: list[float]) -> float:
    """The factor that takes this run's times to reference host speed:
    ``REFERENCE_MS`` over the run's median reference time."""
    return REFERENCE_MS / (statistics.median(ref_s) * 1000.0)


def end_to_end_metrics(setup_s: float, op_s: list[float], ref_s: list[float]) -> dict:
    """The untraced run's metrics, by name with their units, scaled to
    reference host speed (see ``host_scale``)."""
    scale = host_scale(ref_s)
    return {
        "op_ms_p50": {"value": statistics.median(op_s) * 1000.0 * scale, "unit": "ms"},
        "setup_s": {"value": setup_s * scale, "unit": "s"},
    }


def closed_loop(workload, seconds: float, counter: Counter, tracer, tag: str,
                min_ops: int = 1) -> list[dict]:
    """Run ops one after another until ``seconds`` have passed and at least
    ``min_ops`` ops have run. Before each op, the client waits for the
    engine to go idle (see ``wait_idle``); the wait is not part of the op."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    samples = []
    start = time.perf_counter()
    while len(samples) < min_ops or time.perf_counter() - start < seconds:
        op_id = f"{tag}{len(samples)}"
        idle = wait_idle(jvm)
        ref = host_reference_s()
        gc0, jit0 = jvm_gc_jit_ms()
        cpu0, jvm0, steal0 = time.process_time(), proc_cpu_s(jvm), steal_s()
        t0 = time.perf_counter()
        with tracer.op_span(op_id):
            ops = workload.op()
        sample = {"id": op_id, "s": time.perf_counter() - t0,
                  "cpu_s": time.process_time() - cpu0, "jvm_cpu_s": proc_cpu_s(jvm) - jvm0,
                  "steal_s": steal_s() - steal0, "idle_s": idle, "ref_s": ref}
        gc1, jit1 = jvm_gc_jit_ms()
        samples.append(dict(sample, gc_ms=gc1 - gc0, jit_ms=jit1 - jit0))
        counter.add(ops)
    return samples


def run(args) -> int:
    from perfbench.corpus import write_corpus
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    t_start = time.perf_counter()
    corpus = write_corpus(wl_cls.corpus_sizes["smoke" if args.smoke else "full"],
                          args.seed, os.path.join(WORK, "data"))
    corpus_s = time.perf_counter() - t_start
    run_dir = tempfile.mkdtemp(dir=WORK, prefix=f"run-{args.workload}-")
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    os.environ.update(launcher_env(run_dir, event_dir))
    storage_root = os.path.join(run_dir, "storage")
    setup_ref_s = host_reference_s()
    try:
        spark, server, setup_s = start_engine(corpus["dir"], storage_root)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer = Tracer()
            service = {"storage_root": storage_root,
                       "url": f"http://127.0.0.1:{server.server_address[1]}/v1.0"}
            workload = wl_cls(spark, corpus, os.path.join(WORK, "oracle"), tracer, service)
            counter = Counter()
            result = measure(args, spark, workload, tracer, counter)
            from pyspark import SparkContext

            jvm_pid = SparkContext._gateway.proc.pid
            result["peak_rss_mb"] = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
            result["heap_mb"] = (spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
                                 .maxMemory() / 2**20)
        finally:
            t0 = time.perf_counter()
            stop_engine(spark, server)
            stop_s = time.perf_counter() - t0
        result["phases"].update(corpus=corpus_s, setup=setup_s, stop=stop_s,
                                timed=sum(s["s"] for s in result["timed"]))
        if args.trace:
            from perfbench.layers import layer_metrics

            metrics = layer_metrics(tracer, result, event_dir, storage_root)
        else:
            metrics = end_to_end_metrics(setup_s, [s["s"] for s in result["timed"]],
                                         [setup_ref_s] + result["ref_s"])
        info = {
            "workload": args.workload, "seed": args.seed, "smoke": args.smoke,
            "input_digest": corpus["digest"], "rows": corpus["rows"],
            "cells_per_op": workload.cells_per_op, "output_digests": workload.digests,
            "warmup_ops": result["warmups"],
            "timed_ops_s": [round(s["s"], 3) for s in result["timed"]],
            "timed_ops_cpu_s": [round(s["cpu_s"] + s["jvm_cpu_s"], 3) for s in result["timed"]],
            "timed_ops_idle_s": [round(s["idle_s"], 3) for s in result["timed"]],
            "timed_ops_steal_s": [round(s["steal_s"], 3) for s in result["timed"]],
            "timed_ops_gc_ms": [s["gc_ms"] for s in result["timed"]],
            "timed_ops_jit_ms": [s["jit_ms"] for s in result["timed"]],
            "reference_ms": [round(r * 1000, 3) for r in [setup_ref_s] + result["ref_s"]],
            "host_scale": host_scale([setup_ref_s] + result["ref_s"]),
            "cpus": len(os.sched_getaffinity(0)),
            "heap_mb": result["heap_mb"], "host_ram_mb": host_ram_mb(),
            "peak_rss_mb": result["peak_rss_mb"],
            "phases_s": {k: round(v, 2) for k, v in result["phases"].items()},
            "wall_s": round(time.perf_counter() - t_start, 2),
            "problems": counter.problems[:10],
        }
        print("perfbench " + json.dumps(info, sort_keys=True))
        print(json.dumps({
            "correct": counter.failed == 0,
            "attempted": counter.attempted,
            "failed": counter.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, spark, workload, tracer, counter: Counter) -> dict:
    """Set up the workload, check its outputs, warm up, then time it. A
    traced run times the first half of the window untraced and the second
    half with tracing installed."""
    from pyspark.sql.classic.dataframe import DataFrame

    phases = {}
    t0 = time.perf_counter()
    if args.trace:
        tracer.install(DataFrame)
        tracer.on = True
    with tracer.op_span("setup"):
        counter.add(workload.setup())
    tracer.on = False
    tracer.uninstall()
    phases["workload_setup"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    checked = workload.check()
    counter.add(checked)
    phases["check"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    from pyspark import SparkContext

    refs = []
    for _ in range(workload.warmups):
        wait_idle(SparkContext._gateway.proc.pid)
        refs.append(host_reference_s())
        counter.add(workload.op())
    phases["warmup"] = time.perf_counter() - t0
    # a check pass runs every op once more, untimed: it is a warm-up pass too
    result = {"warmups": workload.warmups + bool(checked), "phases": phases}
    if not args.trace:
        # a floor on the op count, so that a slow host still reports a
        # median of as many ops as a fast one
        result["timed"] = closed_loop(workload, args.seconds, counter, tracer, "m",
                                      min_ops=workload.min_timed_ops)
        result["ref_s"] = refs + [s["ref_s"] for s in result["timed"]]
        return result
    half_ops = max(2, workload.min_timed_ops // 2)
    result["untraced"] = closed_loop(workload, args.seconds / 2, counter, tracer, "u",
                                     min_ops=half_ops)
    tracer.install(DataFrame)
    tracer.on = True
    try:
        result["timed"] = closed_loop(workload, args.seconds / 2, counter, tracer, "m",
                                      min_ops=half_ops)
    finally:
        tracer.on = False
        tracer.uninstall()
    result["ref_s"] = refs + [s["ref_s"] for s in result["untraced"] + result["timed"]]
    return result


def smoke(seed: int) -> int:
    """Every workload on sf0.001-sized inputs, briefly, traced and untraced."""
    from perfbench.workloads import WORKLOADS

    status = 0
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(seed), "--seconds", "2", "--trace", str(trace), "--smoke"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            last = (proc.stdout.strip().splitlines() or [""])[-1]
            print(f"{name} trace={trace} exit={proc.returncode} {last}")
            try:
                ok = proc.returncode == 0 and json.loads(last)["correct"]
            except (ValueError, KeyError):
                ok = False
            status = status or int(not ok)
    return status


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001-sized inputs; without --workload, run every workload")
    args = ap.parse_args(argv)
    if args.smoke and not args.workload:
        return smoke(args.seed)
    if args.workload is None:
        ap.error("--workload is required")
    timer = threading.Timer(WATCHDOG_S, lambda: os._exit(3))
    timer.daemon = True
    timer.start()
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
