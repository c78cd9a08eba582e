"""Oracle-md5 ratchet: every registered DuckDB oracle string is pinned by
its md5 in ``tests/fixtures/oracle_md5.json``.

A refactor of the profiling/SQL builders must leave every oracle string
byte-identical; this test names each query whose string changed, appeared
or vanished. The strings are read in a fresh interpreter, so what other
tests (or ``bench.main()``) add to the in-process registry never counts.

Changing an oracle on purpose means updating its entry, a deliberate
edit to record with the change:

    python tests/test_oracle_md5.py --write NAME...

updates, adds or drops only the entries named, and refuses while any
entry it was not given has drifted: a deliberate change cannot absorb
drift it did not mean.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(REPO, "tests", "fixtures", "oracle_md5.json")

_DUMP = (
    "import hashlib, json; from serene_spark.registry import load_all; "
    "print(json.dumps({n: hashlib.md5(q.oracle.encode()).hexdigest() "
    "for n, q in sorted(load_all().items()) if q.oracle is not None}))"
)


def current_md5s() -> dict[str, str]:
    out = subprocess.run(
        [sys.executable, "-c", _DUMP], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def drift(pinned: dict[str, str], got: dict[str, str]) -> dict[str, list[str]]:
    return {
        "changed": sorted(n for n in set(pinned) & set(got) if pinned[n] != got[n]),
        "appeared": sorted(set(got) - set(pinned)),
        "vanished": sorted(set(pinned) - set(got)),
    }


def rewrite(pinned: dict[str, str], got: dict[str, str], names) -> dict[str, str]:
    """``pinned`` with each of ``names`` set to its ``got`` md5, or dropped
    where ``got`` has none. Raises ``ValueError`` if an entry not in
    ``names`` has drifted."""
    names = set(names)
    unnamed = {k: [n for n in v if n not in names] for k, v in drift(pinned, got).items()}
    if any(unnamed.values()):
        raise ValueError(f"entries drifted that were not named: {unnamed}")
    out = {n: h for n, h in pinned.items() if n not in names}
    out.update({n: got[n] for n in names if n in got})
    return dict(sorted(out.items()))


def test_oracle_strings_unchanged():
    with open(MANIFEST) as f:
        pinned = json.load(f)
    found = drift(pinned, current_md5s())
    assert not any(found.values()), (
        f"oracle strings drifted from {os.path.relpath(MANIFEST, REPO)}: {found}"
    )


def test_rewrite_touches_only_named_entries():
    pinned = {"a": "1", "b": "2", "c": "3"}
    got = {"a": "9", "b": "2", "d": "4"}
    assert rewrite(pinned, got, ["a", "c", "d"]) == {"a": "9", "b": "2", "d": "4"}
    for names in (["a", "c"], ["a", "d"], ["c", "d"]):
        with pytest.raises(ValueError):
            rewrite(pinned, got, names)


if __name__ == "__main__":
    if sys.argv[1:2] != ["--write"] or len(sys.argv) < 3:
        sys.exit("usage: python tests/test_oracle_md5.py --write NAME...")
    with open(MANIFEST) as f:
        manifest = json.load(f)
    try:
        manifest = rewrite(manifest, current_md5s(), sys.argv[2:])
    except ValueError as exc:
        sys.exit(f"refusing to write {os.path.relpath(MANIFEST, REPO)}: {exc}")
    with open(MANIFEST, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")
