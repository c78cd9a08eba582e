"""One runner for SQL-defined queries (``catalog.sql_runner``).

Pins that no module writes the runner out again. Two shapes are copies:

- a single-statement runner: a function whose body is only
  ``register_views(...)`` then ``return spark.sql(...)``, or a lambda
  ``(register_views(...), spark.sql(...))[1]``;
- a staging site: a function that binds a ``materialize()``d frame as a
  temp view. ``sql_runner(..., stages=...)`` does that for every query
  whose stages are SQL statements known before the run.

Each top-level function, or query registered as a lambda, that ``ALLOWED``
names stays hand-written for the reason given with it. No Spark needed.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALLOWED = {
    ("serene_spark/catalog.py", "sql_runner"): "the runner itself",
    ("serene_spark/operators/relational.py", "_sql_query"):
        "binds all ten tables with per-table spread projections",
    ("serene_spark/operators/events.py", "events_tumbling_hour"): "a bench.py headliner",
    # loops whose round count is decided at run time
    ("serene_spark/operators/clustering.py", "kmeans_converged"):
        "k-means iterated to convergence",
    ("serene_spark/operators/graph_rank.py", "pagerank_converged_run"):
        "PageRank iterated to a fixed point",
    ("serene_spark/operators/vocab.py", "bpe_train"): "one round per BPE merge",
    ("serene_spark/operators/dedup.py", "dedup_canonical_select"):
        "stages the connected-components labels of dedup_clusters' loop",
    # LSH: band geometry is planned by a Spark job before the stages run
    ("serene_spark/operators/dedup.py", "dedup_minhash_lsh_spark"):
        "plan_band_size runs a Spark job first; a bench.py headliner",
    ("serene_spark/operators/dedup.py", "_materialized_mh"):
        "the signature stage of dedup_minhash_lsh_spark",
    ("serene_spark/operators/dedup.py", "_materialized_docsk"):
        "shared by the planner-tuned LSH runners; its thin stage is a "
        "DataFrame projection of the sketch checkpoint",
    # stages that are DataFrame-API frames
    ("serene_spark/operators/timeseries.py", "_mk_spark_run"):
        "spreads its series stage before the checkpoint",
    ("serene_spark/operators/packing.py", "_corpus_build_spark"):
        "stages the corpus_select_spark_df frame",
    ("serene_spark/operators/pair_features.py", "_materialized_pair_query"):
        "stages read the melted table, a DataFrame view",
    ("serene_spark/operators/corpus_stats.py", "_source_sim"):
        "guard_exact_baseline runs between register_views and the stage",
    # on a benchmark workload's path: kept byte-identical
    ("serene_spark/operators/profile_textstats.py", "_numeric_statement"):
        "profile_bulk workload",
    ("serene_spark/ml/pipeline.py", "profile_features_from_long"):
        "octopus_predict workload",
}


def _callee(call: ast.Call) -> str | None:
    return getattr(call.func, "id", getattr(call.func, "attr", None))


def _is_register_views(stmt) -> bool:
    return (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Call)
            and _callee(stmt.value) == "register_views")


def _is_return_sql(stmt) -> bool:
    return (isinstance(stmt, ast.Return) and isinstance(stmt.value, ast.Call)
            and isinstance(stmt.value.func, ast.Attribute) and stmt.value.func.attr == "sql")


def _is_single_statement_copy(fn) -> bool:
    if isinstance(fn, ast.Lambda):
        b = fn.body
        return (isinstance(b, ast.Subscript) and isinstance(b.value, ast.Tuple)
                and len(b.value.elts) == 2
                and _is_register_views(ast.Expr(b.value.elts[0]))
                and _is_return_sql(ast.Return(b.value.elts[1])))
    body = [s for s in fn.body if not isinstance(s, (ast.Import, ast.ImportFrom))
            and not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant))]
    return len(body) == 2 and _is_register_views(body[0]) and _is_return_sql(body[1])


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
    return (any(isinstance(n, ast.Call) and _callee(n) == "createOrReplaceTempView"
                for n in nodes)
            and any(isinstance(n, ast.Name) and n.id == "materialize" for n in nodes))


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


def _copies(is_copy) -> list[str]:
    """``path:line name`` of every function or lambda ``is_copy`` accepts,
    outside the units ``ALLOWED`` names (what they nest included)."""
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


def test_allowed_entries_exist():
    """Every ``ALLOWED`` entry still names a unit, so the list shrinks when
    one of them is folded or deleted."""
    defined = set()
    for rel, _name in ALLOWED:
        with open(os.path.join(REPO, rel), encoding="utf-8") as fh:
            defined |= {(rel, name) for name, _ in _units(ast.parse(fh.read()))}
    assert sorted(set(ALLOWED) - defined) == []
