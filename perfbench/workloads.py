"""The two workloads: what one op is, how it is warmed up and checked.

``profile_bulk``: one pass runs each of the three lineitem profilers to the
noop sink, called in-process; each query is one op, and a pass is timed as
one sample. ``octopus_predict``: one op is one HTTP
``POST /v1.0/octopus/{id}/predict`` against an in-process ``SereneService``
whose octopus was trained over HTTP during set-up. Both are driven by one
closed-loop client: the next op starts when the previous one has returned.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from perfbench import checks

PROFILE_QUERIES = (
    "profile_scalar_lineitem",
    "typeinfer_lineitem",
    "numeric_stats_lineitem",
)


class ProfileBulk:
    """Bulk profiling of one wide table: melt, histogram shuffles and the
    fused profiling SQL, all CPU-bound. The matcher feature matrix
    (``profile_features_from_long``) is left to ``octopus_predict``, whose
    every request builds one."""

    name = "profile_bulk"
    corpus_sizes = {"full": "lineitem_20k", "smoke": "lineitem_sf0.001"}
    # After the cold check pass, passes keep getting faster (JIT) for about
    # ten more: by 20-25% over the next four, and by 10% over a few more
    warmups = 4
    min_timed_ops = 4
    profile_table = "lineitem"

    def __init__(self, spark, corpus: dict, cache_root: str, tracer, service: dict):
        from serene_spark.registry import load_all

        self.spark = spark
        self.corpus = corpus
        self.cache_root = cache_root
        self.tracer = tracer
        self.registry = load_all()
        self.digests: dict[str, str] = {}

    @property
    def cells_per_op(self) -> int:
        """Cells of the profiled table; a pass profiles each of them once
        per query."""
        return self.corpus["rows"][self.profile_table] * self.corpus["cols"][self.profile_table]

    def setup(self) -> list[list[str]]:
        return []

    def _frame(self, name: str):
        """Build (not run) one profiling query's DataFrame."""
        sf_dir = self.corpus["dir"]
        if name == "profile_scalar_lineitem":
            from serene_spark.operators.profile_scalar import profile_scalar

            return profile_scalar(self.spark, sf_dir, self.profile_table)
        return self.registry[name].spark(self.spark, sf_dir)

    def check(self) -> list[list[str]]:
        """Run every query once, collect its rows and compare them with the
        DuckDB oracle; one list of problems per query. This is also the
        first, cold warm-up pass. Nothing here is timed, so the oracle is
        computed while the engine runs the pass."""
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracles = pool.submit(checks.oracle_results, self.corpus, list(PROFILE_QUERIES),
                                  self.cache_root)
            got = {}
            for name in PROFILE_QUERIES:
                try:
                    got[name] = self._frame(name).toPandas()
                except Exception as exc:  # noqa: BLE001 - a failing query is a failed check
                    got[name] = f"{name}: {type(exc).__name__}: {exc}"
            want = oracles.result()
        out = []
        for name, frame in got.items():
            if isinstance(frame, str):
                out.append([frame])
                continue
            self.digests[name] = checks.frame_digest(frame)
            out.append([f"{name}: {p}" for p in checks.compare(frame, want[name])])
        return out

    def op(self) -> list[list[str]]:
        """One pass: each query is one op."""
        out = []
        for name in PROFILE_QUERIES:
            problems = []
            try:
                with self.tracer.span("profile", name):
                    df = self._frame(name)
                    if self.tracer.on:
                        from perfbench.trace import plan_ms

                        df._jdf.queryExecution().executedPlan()
                        self.tracer.add_plan_ms(plan_ms(df))
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                problems.append(f"{name}: {type(exc).__name__}: {exc}")
            out.append(problems)
        return out


class OctopusPredict:
    """The read path of the service: profile the supplier table, score its
    columns with the trained random forest, rank Steiner-tree models."""

    name = "octopus_predict"
    corpus_sizes = {"full": "octopus_supplier100", "smoke": "octopus_sf0.001"}
    # after the cold training, the first four predicts get faster (JIT), by
    # 25% in all; later ones keep getting a little faster
    warmups = 4
    min_timed_ops = 5
    train_timeout_s = 120.0

    def __init__(self, spark, corpus: dict, cache_root: str, tracer, service: dict):
        self.tracer = tracer
        self.corpus = corpus
        self.storage_root = service["storage_root"]
        self.base = service["url"]
        self.octopus_id: int | None = None
        self.digests: dict[str, str] = {}
        from serene_spark.catalog import COLUMNS

        self.supplier_columns = list(COLUMNS["supplier"])

    @property
    def cells_per_op(self) -> int:
        return self.corpus["rows"]["supplier"] * self.corpus["cols"]["supplier"]

    def request(self, method: str, path: str, timeout: float = 120.0) -> tuple[int, dict]:
        req = urllib.request.Request(self.base + path, method=method, data=b"{}",
                                     headers={"Content-Type": "application/json"})
        with self.tracer.span("service", "http"):
            try:
                with urllib.request.urlopen(req, timeout=timeout) as resp:
                    return resp.status, json.loads(resp.read())
            except urllib.error.HTTPError as err:
                return err.code, json.loads(err.read() or b"{}")

    def setup(self) -> list[list[str]]:
        """Create and train the octopus over HTTP (one op), then poll until
        it leaves ``busy``; check that it completed and cached its
        alignment."""
        return [self._train()]

    def _train(self) -> list[str]:
        import os

        status, body = self.request("POST", "/octopus")
        if status != 200:
            return [f"create octopus: HTTP {status} {body}"]
        self.octopus_id = body["id"]
        status, body = self.request("POST", f"/octopus/{self.octopus_id}/train")
        if status != 202:
            return [f"train octopus: HTTP {status} {body}"]
        deadline = time.time() + self.train_timeout_s
        while True:
            status, body = self.request("GET", f"/octopus/{self.octopus_id}")
            if status != 200 or body.get("status") != "busy" or time.time() > deadline:
                break
            time.sleep(0.05)
        if body.get("status") != "complete":
            return [f"octopus train ended {status} {body}"]
        cached = os.path.join(self.storage_root, "octopi", str(self.octopus_id), "alignment.json")
        if not os.path.exists(cached):
            return ["octopus alignment not cached"]
        return []

    def check(self) -> list[list[str]]:
        return []

    def op(self) -> list[list[str]]:
        status, body = self.request("POST", f"/octopus/{self.octopus_id}/predict")
        problems = checks.check_suggestions(status, body, self.supplier_columns)
        if not problems:
            digest = checks.json_digest(body)
            # the model and the search are deterministic: every response of
            # one run must be the same
            first = self.digests.setdefault("suggestions", digest)
            if digest != first:
                problems.append(f"suggestions changed: {digest} != {first}")
        return [problems]


WORKLOADS = {w.name: w for w in (ProfileBulk, OctopusPredict)}
