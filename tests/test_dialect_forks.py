"""Only ``functions/sqlgen.py`` spells a dialect.

An operator builds one SQL text for both engines. Where the engines spell
a thing differently (``len`` vs ``size``, a DuckDB builtin vs a Spark
fold), the builder calls a sqlgen helper; where one spelling runs on both
(``CAST(x AS STRING)``, which DuckDB reads as VARCHAR), it writes that
spelling once. So a comparison against ``SPARK``/``DUCKDB`` (or the strings
``"spark"``/``"duckdb"``) outside sqlgen is a fork. The scan below fails on
each one, unless the function it sits in is named in ``ALLOWED``: those
forks pick a different algorithm or relation per engine, not a spelling.
No Spark needed.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SQLGEN = "serene_spark/functions/sqlgen.py"
_TA = "serene_spark/operators/text_analysis.py"
_ONE_PASS = "a measured one-pass Spark form; the DuckDB form is its oracle"
ALLOWED = {
    (_TA, "text_quality_sql"): _ONE_PASS,
    (_TA, "lang_id_sql"): _ONE_PASS,
    (_TA, "token_stats_sql"): _ONE_PASS,
    (_TA, "fingerprint_sql"): _ONE_PASS,
    (_TA, "repetition_sql"): _ONE_PASS,
    (_TA, "corpus_select_sql"): _ONE_PASS,
    ("serene_spark/operators/dedup.py", "bands_cand_tail"):
        "the LEAD chain of the dedup_minhash_lsh headliner on Spark",
    ("serene_spark/operators/geospatial.py", "_grid_pairs_sql"):
        "the DuckDB oracle is the brute-force pair scan the grid is checked against",
    ("serene_spark/operators/resample.py", "bagging_sql"):
        "Spark reads the melted view; DuckDB inlines melt_sql",
    ("serene_spark/operators/entity_resolution.py", "_jaro"):
        "Spark calls this module's Jaro UDF",
    ("serene_spark/operators/entity_resolution.py", "er_jw_sql"):
        "Spark calls this module's Jaro/Jaro-Winkler UDF",
}

_NAMES = {"SPARK", "DUCKDB"}
_STRINGS = {"spark", "duckdb"}
_OPS = (ast.Eq, ast.NotEq, ast.Is, ast.IsNot)


def _is_dialect(node) -> bool:
    return ((isinstance(node, ast.Name) and node.id in _NAMES)
            or (isinstance(node, ast.Attribute) and node.attr in _NAMES)
            or (isinstance(node, ast.Constant) and node.value in _STRINGS))


def _forks(tree: ast.Module):
    """``(line, function)`` of each dialect comparison; ``function`` is the
    innermost enclosing ``def`` (``<module>`` at top level)."""
    out = []

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if (isinstance(child, ast.Compare)
                    and any(isinstance(op, _OPS) for op in child.ops)
                    and any(_is_dialect(x) for x in (child.left, *child.comparators))):
                out.append((child.lineno, fn))
            walk(child, child.name if isinstance(child, ast.FunctionDef) else fn)

    walk(tree, "<module>")
    return out


def _modules():
    for dirpath, _dirs, files in os.walk(os.path.join(REPO, "serene_spark")):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, REPO), ast.parse(fh.read())


def test_only_sqlgen_forks_on_dialect():
    hits = [f"{rel}:{line} {fn}"
            for rel, tree in _modules() if rel != SQLGEN
            for line, fn in _forks(tree) if (rel, fn) not in ALLOWED]
    assert sorted(hits) == []


def test_allowed_entries_exist():
    """Every ``ALLOWED`` entry still names a function that forks, so the
    list shrinks when one of them is folded or deleted."""
    forking = {(rel, fn) for rel, tree in _modules() for _line, fn in _forks(tree)}
    assert sorted(set(ALLOWED) - forking) == []
