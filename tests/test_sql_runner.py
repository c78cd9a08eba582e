"""One runner for single-statement queries (``catalog.sql_runner``).

Pins that no module writes the runner out again: a function whose body is
only ``register_views(...)`` then ``return spark.sql(...)`` lives in
``catalog.sql_runner`` and nowhere else, except ``relational._sql_query``'s
own runner (all ten tables, per-table spread projections). No Spark needed.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALLOWED = {
    ("serene_spark/catalog.py", "sql_runner"),
    ("serene_spark/operators/relational.py", "_sql_query"),
}


def _is_register_views(stmt) -> bool:
    return (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Call)
            and getattr(stmt.value.func, "id", getattr(stmt.value.func, "attr", None))
            == "register_views")


def _is_return_sql(stmt) -> bool:
    return (isinstance(stmt, ast.Return) and isinstance(stmt.value, ast.Call)
            and isinstance(stmt.value.func, ast.Attribute) and stmt.value.func.attr == "sql")


def _runner_copies() -> list[str]:
    out = []
    root = os.path.join(REPO, "serene_spark")
    for dirpath, _dirs, files in os.walk(root):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, REPO)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for top in tree.body:
                if not isinstance(top, ast.FunctionDef) or (rel, top.name) in ALLOWED:
                    continue
                for fn in ast.walk(top):
                    if not isinstance(fn, ast.FunctionDef):
                        continue
                    body = [s for s in fn.body if not isinstance(s, (ast.Import, ast.ImportFrom))
                            and not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant))]
                    if (len(body) == 2 and _is_register_views(body[0])
                            and _is_return_sql(body[1])):
                        out.append(f"{rel}:{fn.lineno} {fn.name}")
    return out


def test_no_hand_written_sql_runner():
    assert _runner_copies() == []

