"""Plan-identity check: does a change alter what registered queries submit?

Runs each registered query's Spark callable (all of them, or the names
given) and records, per query:

- the temp-view names it registers, in order;
- every statement it passes to ``SparkSession.sql``;
- the optimized logical plan of each statement and of the returned
  DataFrame.

Per-call uuids (in view names, so also in statements: each frame that
``catalog.bound_sql`` binds records as a ``_pyspark_<uuid>`` view) are
normalized away everywhere; plans additionally lose expression ids
(``#123``), RDD ids (``[45]``), MLlib uids (``VectorAssembler_3dd06a16e489``),
JVM lambda names, the optimizer's ``_common_expr_<n>`` counter and the CTE
ids of recursive loops (``UnionLoop 0``). Two session-wide orders are
put back into a canonical one: the suffixes of higher-order-function lambda
variables (``x_17``) are renumbered by first use, and so is each
distinct-aggregate rewrite's ``gid``, whose Expand rows and columns are sorted.

Record at one commit, then check at another:

    python tools/plan_identity.py --sf DIR --write plans.json [name ...]
    python tools/plan_identity.py --sf DIR --check plans.json [name ...]

``--check`` re-runs the queries named (default: every query in the file,
in registry order, since some queries reuse session state an earlier one
left), prints each one whose record differs and exits 1 if any does. ``--sf``
defaults to ``$SERENE_TEST_SF_DIR``; the tests' sf0.001 corpus keeps a full
run short.

The fixture-trained classifier is built once before the first record, so
the queries that predict with it record the same whether the on-disk
fixture-model cache is empty, stale or current.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_UUIDS = (
    (re.compile(r"[0-9a-f]{32}"), "<uuid>"),
    (re.compile(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"), "<uuid>"),
)
_PLAN_IDS = _UUIDS + (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"\[\d+\]"), "[N]"),
    (re.compile(r"_[0-9a-f]{12}\b"), "_<uid>"),
    (re.compile(r"\$\$Lambda[^\s,]*"), "$$Lambda"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"\b(UnionLoop(?:Ref)?) \d+"), r"\1 N"),
)
_LAMBDA_VAR = re.compile(r"\b(lambda \w+)_(\d+)\b")
_GID = re.compile(r"gid#N = (\d+)")
_VIEW_METHODS = (
    "createOrReplaceTempView",
    "createTempView",
    "createOrReplaceGlobalTempView",
    "createGlobalTempView",
)


def normalize(text: str, rules=_UUIDS) -> str:
    for pat, rep in rules:
        text = pat.sub(rep, text)
    return text


def _renumber_lambdas(plan: str) -> str:
    """Lambda variables are suffixed by a counter that spans the session."""
    seen: dict[str, str] = {}
    return _LAMBDA_VAR.sub(
        lambda m: f"{m[1]}_{seen.setdefault(m[2], str(len(seen) + 1))}", plan)


def _elements(text: str, start: int) -> tuple[list[str], int]:
    """Top-level elements of the ``[...]`` list opening at ``text[start]``,
    and the index just past its closing bracket."""
    depth, elems, begin = 0, [], start + 1
    for i in range(start, len(text)):
        ch = text[i]
        depth += (ch in "([{") - (ch in ")]}")
        if depth == 0 or (depth == 1 and ch == ","):
            elems.append(text[begin:i].strip())
            begin = i + 1
        if depth == 0:
            return [e for e in elems if e], i + 1
    return [e for e in elems if e], len(text)


def _by_name(e: str):
    return e.startswith("gid#"), e


def _canonical_gids(plan: str) -> str:
    """A distinct-aggregate rewrite numbers its groups (``gid``) in hash
    order, so the numbers and the order of the Expand's rows and columns
    depend on the session. Renumber each rewrite's gids by first use in
    its FILTER line, sort the columns of the Aggregate and the Expand below
    it by name, and sort the Expand's rows by gid."""
    out, gids = [], {}
    for line in plan.split("\n"):
        if "FILTER (WHERE (gid#N = " in line:
            gids = {}
            for g in _GID.findall(line):
                gids.setdefault(g, str(len(gids)))
            line = _GID.sub(lambda m: f"gid#N = {gids[m[1]]}", line)
        elif "gid#N" in line and ("Expand [" in line or "Aggregate [" in line):
            node = "Expand [" if "Expand [" in line else "Aggregate ["
            head = line.index(node) + len(node) - 1
            first, i = _elements(line, head)
            cols, j = _elements(line, i + 2)
            if node == "Aggregate [":
                body = f"[{', '.join(sorted(first, key=_by_name))}], " \
                       f"[{', '.join(sorted(cols, key=_by_name))}]"
            else:
                order = sorted(range(len(cols)), key=lambda k: _by_name(cols[k]))
                at = next(k for k, c in enumerate(cols) if c.startswith("gid#"))
                rows = []
                for row_text in first:
                    row = _elements(row_text, 0)[0]
                    row[at] = gids.get(row[at], row[at])
                    rows.append([row[k] for k in order])
                rows.sort(key=lambda r: int(r[-1]) if r[-1].isdigit() else -1)
                body = "[" + ", ".join(f"[{', '.join(r)}]" for r in rows) + "], " \
                       f"[{', '.join(cols[k] for k in order)}]"
            line = line[:head] + body + line[j:]
        out.append(line)
    return "\n".join(out)


def optimized_plan(df) -> str:
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return _canonical_gids(_renumber_lambdas(normalize(plan, _PLAN_IDS)))
    except Exception as exc:  # a plan that fails to optimize is itself a record
        return f"<error {type(exc).__name__}>"


class Recorder:
    """Wraps ``SparkSession.sql`` and the DataFrame temp-view methods so a
    query run appends what it submits to ``self.rec``."""

    def __init__(self, spark):
        self.rec: dict | None = None
        self._patched = []
        self._wrap(type(spark), "sql", self._on_sql)
        df_cls = type(spark.range(1))
        for attr in _VIEW_METHODS:
            self._wrap(df_cls, attr, self._on_view)

    def _wrap(self, cls, attr, hook):
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            out = orig(obj, *args, **kwargs)
            if self.rec is not None:
                hook(obj, args, kwargs, out)
            return out

        self._patched.append((cls, attr, orig))
        setattr(cls, attr, wrapper)

    def _on_sql(self, _spark, args, kwargs, out):
        stmt = args[0] if args else kwargs.get("sqlQuery")
        self.rec["statements"].append(normalize(stmt))
        self.rec["plans"].append(optimized_plan(out))

    def _on_view(self, _df, args, kwargs, _out):
        self.rec["views"].append(normalize(args[0] if args else kwargs.get("name")))

    def run(self, q, spark, sf_dir: str) -> dict:
        self.rec = {"views": [], "statements": [], "plans": []}
        try:
            df = q.spark(spark, sf_dir)
            self.rec["result_plan"] = optimized_plan(df)
        except Exception as exc:  # the message may name host paths: keep the type
            self.rec["error"] = type(exc).__name__
        rec, self.rec = self.rec, None
        return rec

    def uninstall(self):
        for cls, attr, orig in reversed(self._patched):
            setattr(cls, attr, orig)


def first_difference(a: dict, b: dict) -> str:
    for key in ("error", "views", "statements", "plans", "result_plan"):
        x, y = a.get(key), b.get(key)
        if x == y:
            continue
        if isinstance(x, list) and isinstance(y, list):
            if len(x) != len(y):
                return f"{key}: {len(x)} recorded, {len(y)} now"
            i = next(i for i, (u, v) in enumerate(zip(x, y)) if u != v)
            return f"{key}[{i}] differs"
        return f"{key} differs"
    return ""


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--write", metavar="FILE")
    mode.add_argument("--check", metavar="FILE")
    ap.add_argument("--sf", default=os.environ.get("SERENE_TEST_SF_DIR"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf is required when SERENE_TEST_SF_DIR is unset")

    from serene_spark.ml.pipeline import _fixture_model
    from serene_spark.registry import load_all
    from serene_spark.session import get_spark

    queries = load_all()
    recorded = {}
    if args.check:
        with open(args.check, encoding="utf-8") as fh:
            recorded = json.load(fh)
    names = args.names or (
        [n for n in queries if n in recorded] + [n for n in recorded if n not in queries]
        if recorded else list(queries))
    missing = [n for n in names if n not in queries]
    spark = get_spark("plan_identity", cpus=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    _fixture_model(spark)  # trained or loaded here, never inside a record
    recorder = Recorder(spark)
    try:
        records = {n: recorder.run(queries[n], spark, args.sf) for n in names if n in queries}
    finally:
        recorder.uninstall()

    if args.write:
        with open(args.write, "w", encoding="utf-8") as fh:
            json.dump(records, fh, indent=1)
        errors = sum("error" in r for r in records.values())
        print(f"recorded {len(records)} queries ({errors} raised) to {args.write}")
        for n in missing:
            print(f"not registered: {n}")
        return 0

    differ = []
    for n in names:
        if n not in recorded:
            differ.append((n, "not in the recorded file"))
        elif n not in records:
            differ.append((n, "no longer registered"))
        else:
            why = first_difference(recorded[n], records[n])
            if why:
                differ.append((n, why))
    for n, why in differ:
        print(f"DIFFERS {n}: {why}")
    print(f"{len(names) - len(differ)}/{len(names)} identical")
    return 1 if differ else 0


if __name__ == "__main__":
    raise SystemExit(main())
