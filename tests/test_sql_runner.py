"""One runner for SQL-defined queries (``catalog.sql_runner``), and one
way to bind a relation (``catalog.bound_sql``).

Pins that no module writes the runner out again. Two shapes are copies:

- a single-statement runner: a function whose body is only
  ``return bound_sql(spark, ..., table_frames(...))``, or
  ``frames = table_frames(...)`` then ``return bound_sql(...)``, or a
  lambda ``bound_sql(spark, ..., table_frames(...))``;
- a staging site: a function that binds a ``materialize()``d frame by
  hand, into a ``frames[...]`` entry or a ``{name: frame}`` literal.
  ``sql_runner(..., stages=...)`` and ``catalog.staged`` do that for every
  stage that is a SQL statement known before the run.

Each top-level function, or query registered as a lambda, that ``ALLOWED``
names stays hand-written for the reason given with it. Outside
``streaming/`` no code names a session temp view: every relation is bound
per statement. No Spark needed.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALLOWED = {
    ("serene_spark/catalog.py", "sql_runner"): "the runner itself",
    ("serene_spark/catalog.py", "staged"): "the staging step of the runner",
    # loops whose round count is decided at run time
    ("serene_spark/operators/clustering.py", "kmeans_converged"):
        "k-means iterated to convergence",
    ("serene_spark/operators/graph_rank.py", "pagerank_converged_run"):
        "PageRank iterated to a fixed point",
    ("serene_spark/operators/vocab.py", "bpe_train"): "one round per BPE merge",
    ("serene_spark/operators/dedup.py", "dedup_canonical_select"):
        "stages the connected-components labels of dedup_clusters' loop",
    # stages that are DataFrame-API frames
    ("serene_spark/operators/dedup.py", "_materialized_docsk"):
        "its thin stage is a DataFrame projection of the sketch checkpoint",
    ("serene_spark/operators/timeseries.py", "_mk_spark_run"):
        "spreads its series stage before the checkpoint",
    ("serene_spark/operators/packing.py", "_corpus_build_spark"):
        "stages the corpus_select_spark_df frame",
    ("serene_spark/ml/pipeline.py", "profile_features_from_long"):
        "coalesces its histogram stage; octopus_predict workload",
}
# the DataFrame methods that name a session temp view
VIEW_CALLS = {"createOrReplaceTempView", "createTempView", "createOrReplaceGlobalTempView",
              "createGlobalTempView", "dropTempView", "dropGlobalTempView"}


def _callee(call: ast.Call) -> str | None:
    return getattr(call.func, "id", getattr(call.func, "attr", None))


def _bound_call(node, frames_arg: bool = False) -> bool:
    """``node`` calls ``bound_sql`` (with ``table_frames(...)`` as its
    frames when ``frames_arg``)."""
    return (isinstance(node, ast.Call) and _callee(node) == "bound_sql"
            and (not frames_arg or any(isinstance(a, ast.Call) and _callee(a) == "table_frames"
                                       for a in node.args)))


def _is_single_statement_copy(fn) -> bool:
    if isinstance(fn, ast.Lambda):
        return _bound_call(fn.body, frames_arg=True)
    body = [s for s in fn.body if not isinstance(s, (ast.Import, ast.ImportFrom))
            and not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant))]
    if not body or not isinstance(body[-1], ast.Return):
        return False
    if len(body) == 1:
        return _bound_call(body[0].value, frames_arg=True)
    return (len(body) == 2 and isinstance(body[0], ast.Assign)
            and isinstance(body[0].value, ast.Call) and _callee(body[0].value) == "table_frames"
            and _bound_call(body[1].value))


def _own_nodes(fn):
    """Nodes of ``fn``'s body, not descending into nested scopes."""
    stack = [fn.body] if isinstance(fn, ast.Lambda) else list(fn.body)
    while stack:
        node = stack.pop()
        yield node
        stack.extend(c for c in ast.iter_child_nodes(node)
                     if not isinstance(c, (ast.FunctionDef, ast.Lambda, ast.ClassDef)))


def _is_staging_site(fn) -> bool:
    nodes = list(_own_nodes(fn))
    binds = any(
        (isinstance(n, ast.Assign) and any(isinstance(t, ast.Subscript) for t in n.targets))
        or (_bound_call(n) and any(isinstance(a, ast.Dict) for a in n.args))
        for n in nodes)
    return binds and any(isinstance(n, ast.Name) and n.id == "materialize" for n in nodes)


def _units(tree: ast.Module):
    """``(name, node)`` of each top-level function, and of each lambda
    registered at module level as ``register("name", ...)(lambda ...)``."""
    for top in tree.body:
        if isinstance(top, ast.FunctionDef):
            yield top.name, top
        elif (isinstance(top, ast.Expr) and isinstance(top.value, ast.Call)
              and isinstance(top.value.func, ast.Call)
              and _callee(top.value.func) == "register" and top.value.func.args
              and isinstance(top.value.func.args[0], ast.Constant)):
            yield top.value.func.args[0].value, top.value


def _modules():
    """``(path relative to the repo, AST)`` of every module of the engine."""
    for dirpath, _dirs, files in os.walk(os.path.join(REPO, "serene_spark")):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, REPO), ast.parse(fh.read())


def _copies(is_copy) -> list[str]:
    """``path:line name`` of every function or lambda ``is_copy`` accepts,
    outside the units ``ALLOWED`` names (what they nest included)."""
    out = []
    for rel, tree in _modules():
        for name, unit in _units(tree):
            if (rel, name) in ALLOWED:
                continue
            for fn in ast.walk(unit):
                if isinstance(fn, (ast.FunctionDef, ast.Lambda)) and is_copy(fn):
                    out.append(f"{rel}:{fn.lineno} {getattr(fn, 'name', name)}")
    return sorted(out)


def test_no_hand_written_sql_runner():
    assert _copies(_is_single_statement_copy) == []


def test_no_hand_written_staging():
    assert _copies(_is_staging_site) == []


def test_no_session_temp_views():
    """Every relation the engine reads is bound per statement
    (``catalog.bound_sql``): a session temp view under a fixed name lets
    one request replace another's input. ``catalog.register_views`` is the
    one writer, kept for hand-written SQL (``bench.py``, tests);
    ``streaming/`` keeps its own views until it is retired."""
    found = []
    for rel, tree in _modules():
        if rel.startswith("serene_spark/streaming/"):
            continue
        for top in tree.body:
            if (rel, getattr(top, "name", None)) == ("serene_spark/catalog.py", "register_views"):
                continue
            found += [f"{rel}:{n.lineno} {_callee(n)}" for n in ast.walk(top)
                      if isinstance(n, ast.Call) and _callee(n) in VIEW_CALLS]
    assert sorted(found) == []


def test_allowed_entries_exist():
    """Every ``ALLOWED`` entry still names a unit, so the list shrinks when
    one of them is folded or deleted."""
    defined = set()
    for rel, _name in ALLOWED:
        with open(os.path.join(REPO, rel), encoding="utf-8") as fh:
            defined |= {(rel, name) for name, _ in _units(ast.parse(fh.read()))}
    assert sorted(set(ALLOWED) - defined) == []
