"""Output checks.

Profiling queries with an oracle are compared with DuckDB on the same seeded
files, using the engine's own oracle SQL (registry strings, or the module's
DuckDB SQL builder). The oracle side is computed once per corpus digest and
cached. Octopus responses are checked against invariants. Every check also
yields a digest so runs of two commits can be diffed.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

from tools.parity import normalize


def frame_digest(df: pd.DataFrame) -> str:
    return hashlib.sha256(normalize(df).to_csv(index=False).encode()).hexdigest()[:16]


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Differences between an engine result and its oracle (empty = equal).

    This is ``tools.parity.compare`` with a tolerance on numbers. Both
    engines round float outputs to 6 places, and on the benchmark's freshly
    drawn data a value now and then lands on a rounding boundary and rounds
    either way, so numbers compare by value within one unit of the sixth
    decimal place. Everything else compares by its string form."""
    import numpy as np

    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    g, w = normalize(got), normalize(want)
    problems = []
    for c in g.columns:
        a, b = g[c], w[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            a, b = pd.to_numeric(a, errors="coerce"), pd.to_numeric(b, errors="coerce")
            neq = ~(np.isclose(a, b, rtol=1e-12, atol=1.000001e-6) | (a.isna() & b.isna()))
        else:
            neq = ~((a == b) | (a.isna() & b.isna()))
        if neq.any():
            i = neq.idxmax()
            problems.append(f"{c}: {int(neq.sum())} mismatches, first {a[i]!r} != {b[i]!r}")
    return problems


def profile_oracles() -> dict[str, str]:
    """DuckDB SQL for the profile_bulk queries that have an oracle."""
    import serene_spark.operators.profile_textstats  # noqa: F401 - registers numeric_stats_*
    import serene_spark.operators.profile_typeinfer  # noqa: F401 - registers typeinfer_*
    from serene_spark.catalog import COLUMNS
    from serene_spark.functions.melt import melt_sql
    from serene_spark.functions.sqlgen import DUCKDB
    from serene_spark.operators.profile_scalar import profile_scalar_sql
    from serene_spark.registry import QUERIES

    return {
        "profile_scalar_lineitem": profile_scalar_sql(
            melt_sql("lineitem", COLUMNS["lineitem"]), DUCKDB),
        "typeinfer_lineitem": QUERIES["typeinfer_lineitem"].oracle,
        "numeric_stats_lineitem": QUERIES["numeric_stats_lineitem"].oracle,
    }


def oracle_results(corpus: dict, names: list[str], cache_root: str) -> dict[str, pd.DataFrame]:
    """Oracle frames for ``names`` on ``corpus``, cached per corpus digest."""
    import duckdb

    cache = os.path.join(cache_root, corpus["digest"])
    os.makedirs(cache, exist_ok=True)
    sql = profile_oracles()
    out: dict[str, pd.DataFrame] = {}
    con = None
    try:
        for name in names:
            path = os.path.join(cache, f"{name}.pkl")
            if not os.path.exists(path):
                if con is None:
                    con = duckdb.connect()
                    con.execute("SET enable_progress_bar = false")
                    for t in corpus["rows"]:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                    f"read_parquet('{corpus['dir']}/{t}.parquet')")
                con.sql(sql[name]).df().to_pickle(path + ".tmp")
                os.replace(path + ".tmp", path)
            out[name] = pd.read_pickle(path)
    finally:
        if con is not None:
            con.close()
    return out


def check_suggestions(status: int, body: dict, supplier_columns: list[str]) -> list[str]:
    """An octopus predict response: HTTP 200 and three suggestions ranked
    1..3, each a model over supplier columns with every attribute mapped."""
    if status != 200:
        return [f"HTTP {status}: {body}"]
    sugg = body.get("suggestions", [])
    problems = []
    if [s.get("rank") for s in sugg] != [1, 2, 3]:
        problems.append(f"ranks {[s.get('rank') for s in sugg]} != [1, 2, 3]")
    for s in sugg:
        ssd = s.get("ssd", {})
        attrs = set(ssd.get("attributes", []))
        if not attrs or not attrs <= set(supplier_columns):
            problems.append(f"attributes {sorted(attrs)} not supplier columns")
        if set(ssd.get("mappings", {})) != attrs:
            problems.append(f"unmapped attributes in {sorted(attrs)}")
    return problems


def json_digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]
