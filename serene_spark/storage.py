"""JSON file storage layer (SURVEY §1.2 persistence).

Reference: every entity (dataset, model, octopus, owl, ssd) is a JSON file
under ``storage/<type>/<id>/`` keyed by a random Int id — generic store
``core/.../storage/Storage.scala:75-265``, id generation
``Generic.scala:28`` (``Random.nextInt(Integer.MAX_VALUE)``), trained models
serialized next to their JSON (``ModelStorage.scala:410``), and the octopus
alignment graph cached on disk between train and predict
(``OctopusStorage.scala:110``; ``KarmaBuildAlignmentGraph.scala:75-82``).

Spark note: these stores hold column-metadata-scale entities (specs, class
lists, graphs with O(10^2) nodes) — plain JSON files exactly like the
reference. The one big artifact, a fitted PipelineModel, is persisted through
Spark's own distributed ``save``/``load`` (parquet under the entity dir), so
model storage scales with the cluster's filesystem, not the driver.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
from collections.abc import Callable
from typing import Any, Generic, TypeVar

T = TypeVar("T")

MAX_ID = 2**31 - 1  # Integer.MAX_VALUE (Generic.scala:28)


def _write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` in one step: write a temporary file in
    the same directory, then rename it over ``path``. A concurrent reader
    sees the old file or the new one, never a torn one."""
    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    try:
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(text)
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


class Storage(Generic[T]):
    """Generic keyed JSON store: ``add``/``get``/``update``/``remove``/``keys``
    (Storage.scala:75-265). Values round-trip through the supplied
    ``to_json``/``from_json`` (dicts by default)."""

    def __init__(
        self,
        base_dir: str,
        to_json: Callable[[T], Any] = lambda v: v,
        from_json: Callable[[Any], T] = lambda d: d,
        rng: random.Random | None = None,
    ):
        self.base_dir = base_dir
        self._to_json = to_json
        self._from_json = from_json
        self._rng = rng or random.Random()
        os.makedirs(base_dir, exist_ok=True)

    # -- id & paths ----------------------------------------------------------

    def gen_id(self) -> int:
        """Random int id, re-drawn on collision (Generic.scala:28)."""
        while True:
            eid = self._rng.randint(0, MAX_ID)
            if not os.path.exists(self._dir(eid)):
                return eid

    def _dir(self, eid: int) -> str:
        return os.path.join(self.base_dir, str(eid))

    def _data_path(self, eid: int) -> str:
        return os.path.join(self._dir(eid), "data.json")

    # -- CRUD ----------------------------------------------------------------

    def add(self, value: T, eid: int | None = None) -> int:
        eid = self.gen_id() if eid is None else eid
        os.makedirs(self._dir(eid), exist_ok=True)
        _write_atomic(self._data_path(eid), json.dumps(self._to_json(value), sort_keys=True))
        return eid

    def get(self, eid: int) -> T | None:
        try:
            with open(self._data_path(eid), encoding="utf-8") as f:
                return self._from_json(json.load(f))
        except FileNotFoundError:
            return None

    def update(self, eid: int, value: T) -> int:
        if not os.path.exists(self._dir(eid)):
            raise KeyError(eid)
        return self.add(value, eid)

    def remove(self, eid: int) -> None:
        shutil.rmtree(self._dir(eid), ignore_errors=True)

    def keys(self) -> list[int]:
        return sorted(
            int(d) for d in os.listdir(self.base_dir)
            if d.isdigit() and os.path.exists(self._data_path(int(d)))
        )


# -- typed stores ------------------------------------------------------------


def ssd_to_json(ssd) -> dict:
    return {
        "name": ssd.name,
        "attributes": list(ssd.attributes),
        "semanticModel": json.loads(ssd.semantic_model.to_json()),
        "mappings": dict(ssd.mappings),
    }


def ssd_from_json(d: dict):
    from serene_spark.modeler.ssd import SemanticModel, Ssd

    return Ssd(
        name=d["name"],
        attributes=list(d["attributes"]),
        semantic_model=SemanticModel.from_json(json.dumps(d["semanticModel"])),
        mappings={k: int(v) for k, v in d["mappings"].items()},
    )


class SsdStorage(Storage):
    """SSD JSON store (SsdStorage; JSON schema per SsdTypes.scala:164-229)."""

    def __init__(self, base_dir: str, rng: random.Random | None = None):
        super().__init__(base_dir, ssd_to_json, ssd_from_json, rng)


class OwlStorage(Storage):
    """Ontology store: the uploaded OWL/Turtle document is kept verbatim next
    to its metadata and re-parsed on read (OwlAPI.scala:181 upload flow)."""

    def __init__(self, base_dir: str, rng: random.Random | None = None):
        super().__init__(base_dir, rng=rng)

    def add_owl(self, path: str, fmt: str = "ttl") -> int:
        eid = self.add({"name": os.path.basename(path), "format": fmt})
        shutil.copyfile(path, os.path.join(self._dir(eid), f"document.{fmt}"))
        return eid

    def get_ontology(self, eid: int):
        from serene_spark.modeler.owl import load_ontology

        meta = self.get(eid)
        if meta is None:
            return None
        return load_ontology(os.path.join(self._dir(eid), f"document.{meta['format']}"))


class ModelStorage(Storage):
    """Matcher-model store: spec JSON + fitted PipelineModel + classes
    sidecar (SerializableMLibClassifier / ModelStorage.scala:410 analogue —
    Spark-native save/load instead of Java serialization)."""

    def __init__(self, base_dir: str, rng: random.Random | None = None):
        super().__init__(base_dir, rng=rng)

    def save_model(self, eid: int, model, classes: list[str]) -> None:
        mdir = os.path.join(self._dir(eid), "model")
        model.write().overwrite().save(mdir)
        _write_atomic(os.path.join(self._dir(eid), "classes.json"),
                     json.dumps({"classes": list(classes)}))

    def load_model(self, eid: int):
        from pyspark.ml import PipelineModel

        mdir = os.path.join(self._dir(eid), "model")
        if not os.path.exists(mdir):
            return None
        with open(os.path.join(self._dir(eid), "classes.json"), encoding="utf-8") as f:
            classes = json.load(f)["classes"]
        return PipelineModel.load(mdir), classes


class OctopusStorage(Storage):
    """Octopus store with the trained alignment graph cached on disk between
    train and predict (OctopusStorage.scala:110); ``delete_alignment`` is the
    error-path ``deleteAlignmetDir`` analogue."""

    def __init__(self, base_dir: str, rng: random.Random | None = None):
        super().__init__(base_dir, rng=rng)

    def _alignment_path(self, eid: int) -> str:
        return os.path.join(self._dir(eid), "alignment.json")

    def cache_alignment(self, eid: int, alignment) -> None:
        _write_atomic(self._alignment_path(eid), alignment.export_json())

    def load_alignment(self, eid: int, ontology):
        from serene_spark.modeler.alignment import AlignmentGraph

        try:
            with open(self._alignment_path(eid), encoding="utf-8") as f:
                return AlignmentGraph.import_json(f.read(), ontology)
        except FileNotFoundError:
            return None

    def delete_alignment(self, eid: int) -> None:
        try:
            os.remove(self._alignment_path(eid))
        except FileNotFoundError:
            pass
