"""The upstream Serene checkout's test resources, resolved in one place.

A handful of queries and loaders validate against the reference
implementation's own files (the museum-29 Karma models, the report SSDs,
``homeseekers.csv``, the s01-cb museum CSV). They are read-only and never
fabricated: when the checkout is absent those queries cannot run, so they
declare the paths they read (``registry.register(requires=...)``) and the
rows-only parity test skips them; their loaders call :func:`require`, so a
direct call raises :class:`ReferenceFixtureMissing` instead of a
``FileNotFoundError`` from deep inside a parser.
"""

from __future__ import annotations

import os

# the checkout is expected beside this repository, as ``reference/``
REFERENCE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference",
)


class ReferenceFixtureMissing(FileNotFoundError):
    """A reference test resource this call reads is not present."""


def reference_path(*parts: str) -> str:
    return os.path.join(REFERENCE_DIR, *parts)


def missing(paths: tuple[str, ...]) -> list[str]:
    """The entries of ``paths`` that do not exist."""
    return [p for p in paths if not os.path.exists(p)]


def require(*paths: str) -> None:
    """Raise :class:`ReferenceFixtureMissing` naming every absent path."""
    absent = missing(paths)
    if absent:
        raise ReferenceFixtureMissing(
            f"reference test resources not present: {', '.join(absent)} "
            f"(expected under {REFERENCE_DIR})"
        )
