"""Table catalog for the synthetic test corpus (TESTDATA.md).

The reference models datasets as a lazy tree of tables -> attributes
(matcher/.../data/DataModel.scala:20-55); here a catalog of DataFrames plays
that role, with the column lineage (`name@table@dataset`,
matcher/.../ingestion/loader/CsvDataLoader.scala:98-102) carried as plain
``column_name`` / table-name fields in long format instead of encoded ids.

Every statement the engine runs reads its relations through
:func:`bound_sql`, bound for that statement only. perfbench's tracer wraps
``load_table`` and ``materialize`` by attribute where they are defined and
where they were imported, so the runners call them through those module
globals.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serene_spark.functions.sqlgen import SPARK
from serene_spark.session import tune_once

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Static schemas of the driver-generated corpus — used to build oracle SQL
# strings (which must be static) and wide->long melts without a live session.
COLUMNS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part": ("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders": (
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ),
    "lineitem": (
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ),
    "events": ("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings": ("vec_id", "embedding", "label"),
}

# Routing-hash key per table for spread() at full-table registration: a
# small unique/high-cardinality key instead of every column, so the
# repartition expression references (and therefore forces the scan to read)
# at most these columns beyond what the query itself needs — guide §2.3
# "project before the exchange" / §6 pruning. Uniqueness also keeps
# duplicate-heavy corpora (dedup inputs by definition) evenly spread.
SPREAD_KEYS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


# (applicationId, sf_dir, name, mtime) -> DataFrame. Caches the UNEXECUTED
# plan handle only — the parquet footer read + file listing behind
# ``spark.read.parquet`` costs ~70 ms of driver/py4j work per call, and the
# driver bench calls ``register_views`` (10 tables) inside every timed rep,
# so the metadata overhead alone was ~0.9 s per query rep (measured r12).
# Every execution still scans the files; no rows or results are cached.
# The mtime in the key drops the entry when the file/dir is rewritten, and
# the applicationId drops it when the session is restarted.
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table, normalizing types Spark cannot read natively.

    ``events.ts`` is parquet TIMESTAMP(NANOS): read as int64 nanos
    (spark.sql.legacy.parquet.nanosAsLong) and convert with integer division —
    float division would lose precision at ~1.7e18 nanos.
    """
    import os

    tune_once(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        key = (spark.sparkContext.applicationId, sf_dir, name, os.path.getmtime(path))
    except Exception:
        key = None
    if key is not None:
        cached = _TABLE_CACHE.get(key)
        if cached is not None:
            return cached
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) -> TIMESTAMP_NTZ,
            # which unix_micros()/window() reject; session tz is pinned UTC so
            # the cast is value-exact.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if key is not None:
        if len(_TABLE_CACHE) > 256:  # bound growth across many tmp corpora
            _TABLE_CACHE.clear()
        _TABLE_CACHE[key] = df
    return df


def table_frames(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
    spread: bool = False,
) -> dict[str, DataFrame]:
    """Corpus tables by name, ready to pass to :func:`bound_sql`.

    ``spread=True`` repartitions under-partitioned inputs first — used by
    compute-bound operators (shingling, hashing, tokenizing) whose per-row
    work would otherwise run on one core for single-file local inputs. Scan-
    bound relational queries keep the raw table so filters/pruning reach the
    parquet scan without a premature shuffle.
    """
    from serene_spark.functions.melt import spread as _spread

    frames = {t: load_table(spark, sf_dir, t) for t in tables}
    if spread:
        frames = {t: _spread(df, key_cols=SPREAD_KEYS.get(t)) for t, df in frames.items()}
    return frames


def register_views(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
    spread: bool = False,
) -> None:
    """Register corpus tables as session temp views, for SQL written by
    hand against the catalog (``bench.py``, tests); the engine binds its
    inputs with :func:`bound_sql` instead."""
    for t, df in table_frames(spark, sf_dir, tables, spread).items():
        df.createOrReplaceTempView(t)


_WITH = re.compile(r"\A(\s*(?:--[^\n]*\n\s*)*WITH(?:\s+RECURSIVE)?\s+)", re.IGNORECASE)


def bound_sql(spark: SparkSession, statement: str, frames: dict[str, DataFrame]) -> DataFrame:
    """Run ``statement`` with each frame it names bound by reference.

    Every relation the engine reads goes through here, so nothing it runs
    depends on a session-global view name that a concurrent request could
    replace. Each frame whose name occurs in ``statement`` as a word is
    prefixed as one CTE, ``name AS (SELECT * FROM {name})``, merged into
    the statement's own ``WITH`` the way :func:`compose_with` merges bases.
    The statement's literal braces are escaped and ``spark.sql(text,
    **frames)`` does the binding: PySpark registers each frame under a
    fresh ``_pyspark_<uuid>`` view and drops it as soon as the statement is
    analyzed, so no view outlives the call. The SQL builders keep their
    plain relation names, which is what the DuckDB oracles read too.

    Only the named frames are bound: each binding costs a view round trip
    and analysis of the frame's plan (building Q1 at sf0.1 took 22-26 ms
    binding ``lineitem`` alone, 60-100 ms binding all ten tables).
    """
    used = {n: df for n, df in frames.items() if re.search(rf"\b{re.escape(n)}\b", statement)}
    if not used:
        return spark.sql(statement)
    heads = ",\n".join(f"{n} AS (SELECT * FROM {{{n}}})" for n in used)
    text = statement.replace("{", "{{").replace("}", "}}")
    m = _WITH.match(text)
    text = f"{m[1]}{heads},\n{text[m.end():]}" if m else f"WITH {heads}\n{text}"
    return spark.sql(text, **used)


def staged(spark: SparkSession, frames: dict[str, DataFrame], stages) -> dict[str, DataFrame]:
    """Run each ``(name, statement)`` of ``stages`` in order with
    :func:`bound_sql`, materialize it and add it to ``frames`` as ``name``,
    so a later stage may read it. Returns ``frames``."""
    # looked up per call, so a wrapper installed on the module (perfbench's
    # tracer) sees every stage
    from serene_spark.materialize import materialize

    for name, statement in stages:
        frames[name] = materialize(bound_sql(spark, statement, frames))
    return frames


def sql_runner(sql_fn, tables: tuple[str, ...], spread: bool = False, stages=None):
    """Registry callable for a SQL-defined query: bind ``tables`` and the
    result of each ``(name, statement)`` of ``stages(SPARK)`` in order,
    then run ``sql_fn(SPARK)`` (both built on every run) with
    :func:`bound_sql`.

    A stage is run, materialized and bound as ``name``, so a later stage
    or the final statement may read it. Catalyst inlines a CTE at EVERY
    reference site, so a tail that reads a base relation k times re-derives
    its whole input pipeline — including the parquet scan — k times
    (measured: 148 scans for the triangle wedge chain, 102 for
    Mann-Kendall's pairwise ranks). One eager materialization per base caps
    the fact-table cost at one scan however often the tail refers to it
    (localCheckpoint under local[*], reliable checkpoint on a cluster — see
    serene_spark.materialize).
    """

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        frames = table_frames(spark, sf_dir, tables, spread=spread)
        return bound_sql(spark, sql_fn(SPARK),
                         staged(spark, frames, stages(SPARK) if stages else ()))

    # the query belongs to the module that defines its SQL: tools/parity.py
    # hashes that module's imports to tell which queries an edit makes stale
    run.__module__ = sql_fn.__module__
    return run


def compose_with(bases: list[tuple[str, str]], tail_sql: str) -> str:
    """Single-statement SQL from base CTE bodies + a tail that starts with
    WITH — the oracle-side composition for operators whose Spark runner
    stages the bases (``cte_stages``)."""
    heads = ",\n".join(body for _, body in bases)
    t = tail_sql.lstrip()
    assert t.startswith("WITH "), t[:40]
    return f"\nWITH {heads},\n{t[len('WITH '):]}"


def cte_stages(bases_fn):
    """``stages=`` for ``sql_runner`` from the CTE bases ``compose_with``
    inlines: base ``(view, body)`` is staged as
    ``WITH {body} SELECT * FROM {view}``."""
    return lambda dialect: [
        (view, f"WITH {body} SELECT * FROM {view}") for view, body in bases_fn(dialect)
    ]
