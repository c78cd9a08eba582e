"""Wide -> long reshaping ("melt").

The reference's fundamental unit is an ``Attribute`` — one column with all of
its values materialized as ``List[String]`` in driver memory
(matcher/.../data/DataModel.scala:89-111). The Spark-native equivalent keeps
column-wise *semantics* with row-wise *representation*: a long-format
DataFrame ``(column_name, value)`` built with ``stack``, so a single shuffled
aggregation profiles every column at once and columns larger than one
machine's memory stay distributed.

Missing values: the reference treats ``trim(value) == ""`` as missing and
maps nulls to "" (FeatureExtractor.scala:98-101); ``melt`` does the same with
``coalesce(cast(col as string), '')``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _num_partitions(df: DataFrame) -> int:
    """``df``'s partition count, memoized on the handle: the probe costs an
    RDD-conversion planning pass (~50 ms of driver work), so the cached
    catalog tables (serene_spark.catalog.load_table) pay it once per
    session."""
    nparts = getattr(df, "_serene_nparts", None)
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        try:
            df._serene_nparts = nparts
        except Exception:
            pass
    return nparts


def spread(
    df: DataFrame, key_cols: tuple[str, ...] | None = None, probe: DataFrame | None = None
) -> DataFrame:
    """Round-robin repartition ONLY when the input is under-partitioned.

    A small parquet file arrives as one partition locally, which would pin all
    downstream per-row compute (regex profiling, shingling) to a single core.
    On a real cluster inputs already carry enough partitions and this is a
    no-op — never shrink, never add a shuffle that isn't paying for
    parallelism.

    ``key_cols`` names the routing-hash columns. Pass a small high-cardinality
    key (the table's primary key) when registering a FULL table whose
    consumers project subsets: hashing every column makes the repartition
    expression reference every column, which stops Catalyst pruning the scan
    below the exchange (measured r13: q1's scan read all 11 lineitem columns
    instead of its 7). The default (all columns) is only right when the
    consumer reads every column anyway (the melt/stack path). A unique key
    also keeps duplicate-heavy corpora evenly spread — identical full rows
    hash to one partition, identical rows with distinct ids do not.

    ``probe`` is the handle whose partition count decides, when ``df`` is a
    fresh projection of it: a projection keeps its input's partition count,
    and only a long-lived handle (a cached catalog table) carries the memo
    from one call to the next.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if _num_partitions(df if probe is None else probe) < target:
        # Deterministic content-hash routing instead of round-robin
        # ``repartition(n)``: (a) round-robin pays a local sort of its input
        # (sortBeforeRepartition) and re-runs of retried map tasks can only
        # reproduce row→partition assignment via that sort, while a content
        # hash is retry-safe by construction (guide §2.5 / SPARK-38388);
        # (b) measured 30% faster on the melt path at sf0.1 (1.02→0.70 s).
        # 64x more distinct key values than partitions keeps the hash spread
        # even (guide §2.5). Falls back to round-robin for un-hashable
        # column types (maps).
        try:
            cols = key_cols or df.columns
            key = F.pmod(F.xxhash64(*[F.col(f"`{c}`") for c in cols]),
                         F.lit(target * 64))
            return df.repartition(target, key)
        except Exception:
            return df.repartition(target)
    return df


def melt(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Return ``(column_name: string, value: string)`` for the given columns.

    One ``stack`` projection — narrow; Catalyst prunes the scan to exactly
    the melted columns. The input is spread first so per-row feature exprs
    downstream parallelize even from a single-file source.
    """
    cols = columns or df.columns
    pairs = ", ".join(f"'{c}', coalesce(cast(`{c}` as string), '')" for c in cols)
    # project before spreading so the repartition shuffle never carries
    # columns the melt doesn't need (explicit, not left to ColumnPruning)
    return spread(df.select(*[f"`{c}`" for c in cols]), probe=df).select(
        F.expr(f"stack({len(cols)}, {pairs}) as (column_name, value)")
    )


def melt_ids(df: DataFrame, columns: list[str] | None = None) -> tuple[DataFrame, str]:
    """:func:`melt` with ``column_name`` as the column's INTEGER position.

    Guide §2.3 (shuffle fewer bytes / narrower types): the profiling
    aggregations group and join on column_name millions of times per table;
    a 4-byte int key hashes and compares cheaper than a column-name string
    (measured ~7% on profile_scalar_lineitem at sf0.1, interleaved min-of-5).

    Returns ``(long_df, name_case)`` where ``name_case`` is a CASE expression
    mapping the id back to the name. The mapping is bijective, so any
    per-column aggregate over the id relation equals the same aggregate over
    the name relation; apply ``name_case`` to the FINAL per-column output —
    ids must never escape into a query result.
    """
    cols = columns or df.columns
    pairs = ", ".join(
        f"{i}, coalesce(cast(`{c}` as string), '')" for i, c in enumerate(cols)
    )
    long_df = spread(df.select(*[f"`{c}`" for c in cols]), probe=df).select(
        F.expr(f"stack({len(cols)}, {pairs}) as (column_name, value)")
    )
    name_case = (
        "CASE column_name "
        + " ".join(f"WHEN {i} THEN '{c}'" for i, c in enumerate(cols))
        + " END"
    )
    return long_df, name_case


def melt_sql(table: str, columns: tuple[str, ...], value_exprs: dict[str, str] | None = None) -> str:
    """DuckDB-side equivalent of :func:`melt` as a UNION ALL subquery.

    ``value_exprs`` overrides the raw column reference per column (used e.g.
    to render nano timestamps identically on both sides).
    """
    value_exprs = value_exprs or {}
    parts = [
        f"SELECT '{c}' AS column_name, "
        f"coalesce(CAST({value_exprs.get(c, c)} AS VARCHAR), '') AS value FROM {table}"
        for c in columns
    ]
    return "(" + " UNION ALL ".join(parts) + ")"
