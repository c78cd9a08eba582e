"""Oracle-md5 ratchet: every registered DuckDB oracle string is pinned by
its md5 in ``tests/fixtures/oracle_md5.json``.

A refactor of the profiling/SQL builders must leave every oracle string
byte-identical; this test names each query whose string changed, appeared
or vanished. The strings are read in a fresh interpreter, so what other
tests (or ``bench.main()``) add to the in-process registry never counts.

Changing an oracle on purpose means regenerating the manifest, a
deliberate edit to record with the change:

    python tests/test_oracle_md5.py --write
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

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


def test_oracle_strings_unchanged():
    with open(MANIFEST) as f:
        pinned = json.load(f)
    got = current_md5s()
    changed = sorted(n for n in set(pinned) & set(got) if pinned[n] != got[n])
    appeared = sorted(set(got) - set(pinned))
    vanished = sorted(set(pinned) - set(got))
    assert not (changed or appeared or vanished), (
        f"oracle strings drifted from {os.path.relpath(MANIFEST, REPO)}: "
        f"changed={changed} appeared={appeared} vanished={vanished}"
    )


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_oracle_md5.py --write")
    with open(MANIFEST, "w") as f:
        json.dump(current_md5s(), f, indent=1, sort_keys=True)
        f.write("\n")
