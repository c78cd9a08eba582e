"""Thin REST service skin (SURVEY Phase 5; reference core module).

Mirrors the reference's Finch API surface (``/v1.0/{dataset,model,octopus,
owl,ssd}`` — README.md "API", core/.../api/*.scala) over the JSON storage
layer and the async orchestrator, using only the stdlib http.server (no web
framework in this container):

- datasets: register a CSV/parquet path; GET returns columns + the
  15-values-from-first-60-rows sample (DataSetInterface.scala:39-41,218);
- ssds / owls: CRUD over ``storage.SsdStorage`` / ``OwlStorage`` with
  dependent-delete protection — an entity referenced by an octopus cannot be
  deleted (CoordinationSpec.scala:281-350 behavior);
- models: POST spec, async train (202 Accepted + poll state, the
  ModelInterface future pattern), GET exposes state;
- octopus: POST spec, async train via ``modeler.orchestrate.Octopus`` (two
  parallel futures), poll state, predict → ranked SSD suggestions.

The service is an API *skin*: every endpoint delegates to the same operators
the driver contract uses, on the session passed in. Model and octopus
training run on background threads; the HTTP thread only starts and polls
them. Octopus predict and alignment (including the restore after a restart),
``/query/run`` and the dataset routes run their Spark work on the HTTP thread.
"""

from __future__ import annotations

import json
import os
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from serene_spark.storage import (
    ModelStorage,
    OctopusStorage,
    OwlStorage,
    SsdStorage,
    Storage,
    ssd_from_json,
    ssd_to_json,
)


class HttpError(Exception):
    """A request the client must fix: answered with ``code``, not 500."""

    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code


def _string(value, field: str) -> str:
    """``value`` if it is a string; otherwise the client's error (400)."""
    if not isinstance(value, str):
        raise HttpError(400, f"{field} must be a string")
    return value


def _under_data_root(path: str) -> bool:
    """Whether ``path`` resolves under the data root — otherwise any HTTP
    client could point the engine at an arbitrary file and read it back
    through the response."""
    return os.path.realpath(path).startswith(os.path.realpath(_DATA_ROOT) + os.sep)


class SereneService:
    """State + handlers; the HTTP layer below routes into this object."""

    def __init__(self, spark, sf_dir: str, storage_root: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self.datasets = Storage(f"{storage_root}/datasets")
        self.ssds = SsdStorage(f"{storage_root}/ssds")
        self.owls = OwlStorage(f"{storage_root}/owls")
        self.models = ModelStorage(f"{storage_root}/models")
        self.octopi = OctopusStorage(f"{storage_root}/octopi")
        self._model_states: dict[int, dict] = {}
        self._octopus_runs: dict[int, object] = {}
        # held across each get-or-create of the two dicts above, so
        # concurrent requests share one entry (one restore, one train)
        self._lock = threading.Lock()

    # -- datasets ------------------------------------------------------------

    def _read_dataset(self, path):
        if not _under_data_root(_string(path, "path")):
            raise HttpError(403, f"path must be under {_DATA_ROOT}")
        return (
            self.spark.read.parquet(path)
            if path.endswith(".parquet")
            else self.spark.read.csv(path, header=True)
        )

    def create_dataset(self, body: dict) -> dict:
        path = body.get("path")
        df = self._read_dataset(path)
        eid = self.datasets.add({"path": path, "columns": df.columns})
        return {"id": eid, "path": path, "columns": df.columns}

    def get_dataset(self, eid: int) -> dict | None:
        meta = self.datasets.get(eid)
        if meta is None:
            return None
        from serene_spark.operators.ingest_sample import sample_columns_df

        sample = sample_columns_df(self._read_dataset(meta["path"]))
        out = dict(meta, id=eid, sample={})
        for r in sample.collect():
            out["sample"].setdefault(r["column_name"], []).append(r["value"])
        return out

    # -- ssd / owl CRUD with dependent-delete protection ---------------------

    def _octopus_refs(self) -> tuple[set[int], set[int]]:
        ssd_refs: set[int] = set()
        owl_refs: set[int] = set()
        for oid in self.octopi.keys():
            spec = self.octopi.get(oid) or {}
            ssd_refs.update(spec.get("ssds", []))
            owl_refs.update(spec.get("owls", []))
        return ssd_refs, owl_refs

    def delete_ssd(self, eid: int) -> tuple[int, dict]:
        if eid in self._octopus_refs()[0]:
            return 409, {"error": f"ssd {eid} is referenced by an octopus"}
        if self.ssds.get(eid) is None:
            return 404, {"error": "not found"}
        self.ssds.remove(eid)
        return 200, {"deleted": eid}

    def delete_owl(self, eid: int) -> tuple[int, dict]:
        if eid in self._octopus_refs()[1]:
            return 409, {"error": f"owl {eid} is referenced by an octopus"}
        if self.owls.get(eid) is None:
            return 404, {"error": "not found"}
        self.owls.remove(eid)
        return 200, {"deleted": eid}

    # -- model train (async future + poll state) -----------------------------

    def train_model(self, eid: int) -> tuple[int, dict]:
        if self.models.get(eid) is None:
            return 404, {"error": "not found"}
        with self._lock:
            if self._model_states.get(eid, {}).get("status") == "busy":
                return 202, {"id": eid, "status": "busy"}
            self._model_states[eid] = {"status": "busy", "message": ""}

        def run():
            try:
                from serene_spark.modeler.octopus import train_lobster

                model, classes = train_lobster(self.spark, self.sf_dir)
                self.models.save_model(eid, model, classes)
                self._model_states[eid] = {"status": "complete", "message": ""}
            except Exception as exc:  # noqa: BLE001 — state machine records any failure
                self._model_states[eid] = {"status": "error", "message": str(exc)}

        threading.Thread(target=run, daemon=True).start()
        return 202, {"id": eid, "status": "busy"}

    def model_state(self, eid: int) -> dict | None:
        spec = self.models.get(eid)
        if spec is None:
            return None
        state = self._model_states.get(eid, {"status": "untrained", "message": ""})
        return {"id": eid, "spec": spec, **state}

    # -- octopus train/predict ----------------------------------------------

    def train_octopus(self, eid: int) -> tuple[int, dict]:
        if self.octopi.get(eid) is None:
            return 404, {"error": "not found"}
        from serene_spark.modeler.orchestrate import Octopus

        with self._lock:
            run = self._octopus_runs.get(eid)
            if run is None:
                run = Octopus(self.spark, self.sf_dir, storage=self.octopi, octopus_id=eid)
                self._octopus_runs[eid] = run
        run.train()
        return 202, {"id": eid, "status": run.state.status.value}

    def _octopus_run(self, eid: int):
        """The in-memory run of octopus ``eid``, restored from disk on first
        use after a restart (the reference reads the cached alignment graph
        at predict, KarmaBuildAlignmentGraph.scala:75-82); None when it was
        never aligned."""
        with self._lock:
            return self._octopus_runs.get(eid) or self._restore_octopus(eid)

    def _restore_octopus(self, eid: int):
        """Rebuild a COMPLETE run from the persisted alignment graph (a fresh
        process has no in-memory runs). The lobster RF is retrained — the
        alignment, which the reference persists precisely because it is the
        expensive half to rebuild, comes from disk. Called under the lock."""
        from serene_spark.modeler.octopus import ONTOLOGY, train_lobster
        from serene_spark.modeler.orchestrate import Octopus, Status, TrainState

        alignment = self.octopi.load_alignment(eid, ONTOLOGY)
        if alignment is None:
            return None
        model, classes = train_lobster(self.spark, self.sf_dir)
        run = Octopus(
            self.spark,
            self.sf_dir,
            state=TrainState(Status.COMPLETE),
            lobster_state=TrainState(Status.COMPLETE),
            alignment=alignment,
            model=model,
            classes=classes,
            storage=self.octopi,
            octopus_id=eid,
        )
        self._octopus_runs[eid] = run
        return run

    def octopus_state(self, eid: int) -> dict | None:
        if self.octopi.get(eid) is None:
            return None
        run = self._octopus_runs.get(eid)
        status = run.state.status.value if run else "untrained"
        message = run.state.message if run else ""
        return {"id": eid, "status": status, "message": message}

    def octopus_alignment(self, eid: int) -> tuple[int, dict]:
        """The exported alignment graph of a trained octopus — the JSON +
        graphviz artifacts the reference writes to its karma folders on
        every (re)alignment (KarmaBuildAlignmentGraph.scala:75-82), served
        over HTTP instead of a shared filesystem."""
        if self.octopi.get(eid) is None:
            return 404, {"error": "not found"}
        run = self._octopus_run(eid)
        if run is None:
            return 404, {"error": "not found"}
        run.wait(timeout=600)
        if run.alignment is None or run.state.status.value != "complete":
            return 409, {"error": f"octopus not trained: {run.state.status.value}"}
        return 200, {
            "id": eid,
            "graph": json.loads(run.alignment.export_json()),
            "graphviz": run.alignment.export_graphviz(),
        }

    def predict_octopus(self, eid: int) -> tuple[int, dict]:
        if self.octopi.get(eid) is None:
            return 404, {"error": "not found"}
        run = self._octopus_run(eid)
        if run is None:
            return 404, {"error": "not found"}
        run.wait(timeout=600)
        if run.state.status.value != "complete":
            return 409, {"error": f"octopus not trained: {run.state.status.value}"}
        suggestions = run.predict()
        return 200, {
            "suggestions": [
                {
                    "rank": scores.karma_rank,
                    "karma_score": scores.karma_score,
                    "ssd": ssd_to_json(ssd),
                }
                for ssd, scores in suggestions
            ]
        }


# -- HTTP layer ---------------------------------------------------------------

# serializes /v1.0/query/run bodies: registered operators bind fixed-name
# temp views on the one shared SparkSession (see run_query)
_QUERY_LOCK = threading.Lock()

# Root under which requests may name files to read (overridable for
# deployments with a different data mount).
_DATA_ROOT = os.environ.get("SERENE_DATA_ROOT", "/root/testdata")

_ROUTES: list[tuple[str, re.Pattern, str]] = [
    ("POST", re.compile(r"^/v1\.0/dataset$"), "post_dataset"),
    ("GET", re.compile(r"^/v1\.0/dataset$"), "list_datasets"),
    ("GET", re.compile(r"^/v1\.0/dataset/(\d+)$"), "get_dataset"),
    ("POST", re.compile(r"^/v1\.0/ssd$"), "post_ssd"),
    ("GET", re.compile(r"^/v1\.0/ssd$"), "list_ssds"),
    ("GET", re.compile(r"^/v1\.0/ssd/(\d+)$"), "get_ssd"),
    ("DELETE", re.compile(r"^/v1\.0/ssd/(\d+)$"), "delete_ssd"),
    ("POST", re.compile(r"^/v1\.0/owl$"), "post_owl"),
    ("GET", re.compile(r"^/v1\.0/owl/(\d+)$"), "get_owl"),
    ("DELETE", re.compile(r"^/v1\.0/owl/(\d+)$"), "delete_owl"),
    ("POST", re.compile(r"^/v1\.0/model$"), "post_model"),
    ("GET", re.compile(r"^/v1\.0/model/(\d+)$"), "get_model"),
    ("POST", re.compile(r"^/v1\.0/model/(\d+)/train$"), "train_model"),
    ("POST", re.compile(r"^/v1\.0/octopus$"), "post_octopus"),
    ("GET", re.compile(r"^/v1\.0/octopus/(\d+)$"), "get_octopus"),
    ("POST", re.compile(r"^/v1\.0/octopus/(\d+)/train$"), "train_octopus"),
    ("POST", re.compile(r"^/v1\.0/octopus/(\d+)/predict$"), "predict_octopus"),
    ("GET", re.compile(r"^/v1\.0/octopus/(\d+)/alignment$"), "get_octopus_alignment"),
    # engine extension beyond the reference surface: the registered-query
    # registry over HTTP (same surface the driver contract + CLI expose)
    ("GET", re.compile(r"^/v1\.0/query$"), "list_queries"),
    ("POST", re.compile(r"^/v1\.0/query/run$"), "run_query"),
]


def _make_handler(svc: SereneService):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # silent test server
            pass

        def _send(self, code: int, payload: dict | list):
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length") or 0)
            try:
                body = json.loads(self.rfile.read(n) or b"{}")
            except ValueError as exc:  # JSONDecodeError, UnicodeDecodeError
                raise HttpError(400, f"request body is not JSON: {exc}") from None
            if not isinstance(body, dict):
                raise HttpError(400, "request body must be a JSON object")
            return body

        def _dispatch(self, method: str):
            for m, pat, name in _ROUTES:
                if m != method:
                    continue
                match = pat.match(self.path)
                if not match:
                    continue
                try:
                    getattr(self, name)(
                        *[int(g) if g.isdigit() else g for g in match.groups()]
                    )
                except HttpError as exc:
                    self._send(exc.code, {"error": str(exc)})
                except Exception as exc:  # noqa: BLE001 — surface as HTTP 500
                    self._send(500, {"error": str(exc)})
                return
            self._send(404, {"error": f"no route {method} {self.path}"})

        def do_GET(self):
            self._dispatch("GET")

        def do_POST(self):
            self._dispatch("POST")

        def do_DELETE(self):
            self._dispatch("DELETE")

        # -- route impls ----------------------------------------------------

        def post_dataset(self):
            self._send(200, svc.create_dataset(self._body()))

        def list_datasets(self):
            self._send(200, svc.datasets.keys())

        def get_dataset(self, eid: int):
            out = svc.get_dataset(eid)
            self._send(200, out) if out else self._send(404, {"error": "not found"})

        def post_ssd(self):
            self._send(200, {"id": svc.ssds.add(ssd_from_json(self._body()))})

        def list_ssds(self):
            self._send(200, svc.ssds.keys())

        def get_ssd(self, eid: int):
            ssd = svc.ssds.get(eid)
            self._send(200, ssd_to_json(ssd)) if ssd else self._send(404, {"error": "not found"})

        def delete_ssd(self, eid: int):
            self._send(*svc.delete_ssd(eid))

        def post_owl(self):
            body = self._body()
            self._send(200, {"id": svc.owls.add_owl(body["path"], body.get("format", "ttl"))})

        def get_owl(self, eid: int):
            ont = svc.owls.get_ontology(eid)
            if ont is None:
                self._send(404, {"error": "not found"})
                return
            self._send(
                200,
                {
                    "classes": sorted(ont.classes),
                    "objectProperties": sorted(ont.object_properties),
                    "dataProperties": sorted(ont.data_properties),
                },
            )

        def delete_owl(self, eid: int):
            self._send(*svc.delete_owl(eid))

        def list_queries(self):
            from serene_spark.registry import load_all

            self._send(
                200,
                {
                    name: {"oracle": q.oracle is not None,
                           "doc": " ".join((q.doc or "").split())}
                    for name, q in sorted(load_all().items())
                },
            )

        def run_query(self):
            body = self._body()
            name = _string(body.get("name", ""), "name")
            from serene_spark.registry import load_all

            queries = load_all()
            if name not in queries:
                self._send(404, {"error": f"unknown query {name!r}"})
                return
            try:
                limit = int(body.get("limit", 100))
            except (TypeError, ValueError):
                limit = -1
            # checked before the query is built: staged runners checkpoint
            # under _QUERY_LOCK, and Spark rejects a negative limit only then
            if limit < 0:
                self._send(400, {"error": "limit must be an integer >= 0"})
                return
            # default derives from the data root, so a deployment that sets
            # SERENE_DATA_ROOT keeps a working default instead of 403ing
            # every request that omits sf_dir
            sf_dir = _string(body.get("sf_dir", os.path.join(_DATA_ROOT, "sf0.001")),
                             "sf_dir")
            # allowlist: a request-supplied sf_dir must resolve under the
            # data root (round-4 advice item)
            if not _under_data_root(sf_dir):
                self._send(403, {"error": f"sf_dir must be under {_DATA_ROOT}"})
                return
            # operators bind fixed-name temp views (events, documents, ...)
            # on the shared session, so concurrent requests would silently
            # read each other's corpus — serialize build+collect
            with _QUERY_LOCK:
                df = queries[name].spark(svc.spark, sf_dir)
                rows = [r.asDict() for r in df.limit(limit).collect()]
            self._send(200, {"name": name, "n_rows": len(rows),
                             "rows": json.loads(json.dumps(rows, default=str))})

        def post_model(self):
            self._send(200, {"id": svc.models.add(self._body())})

        def get_model(self, eid: int):
            out = svc.model_state(eid)
            self._send(200, out) if out else self._send(404, {"error": "not found"})

        def train_model(self, eid: int):
            self._send(*svc.train_model(eid))

        def post_octopus(self):
            self._send(200, {"id": svc.octopi.add(self._body())})

        def get_octopus(self, eid: int):
            out = svc.octopus_state(eid)
            self._send(200, out) if out else self._send(404, {"error": "not found"})

        def train_octopus(self, eid: int):
            self._send(*svc.train_octopus(eid))

        def predict_octopus(self, eid: int):
            self._send(*svc.predict_octopus(eid))

        def get_octopus_alignment(self, eid: int):
            self._send(*svc.octopus_alignment(eid))

    return Handler


def start_server(svc: SereneService, port: int = 0) -> ThreadingHTTPServer:
    """Start the API on an ephemeral port (``server.server_address[1]``);
    caller shuts down with ``server.shutdown()``."""
    server = ThreadingHTTPServer(("127.0.0.1", port), _make_handler(svc))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server
