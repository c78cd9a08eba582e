"""Character-distribution group features (SURVEY §2.4).

Reference: 98-dim L2-normalized char-frequency vector per column
(matcher/.../features/FeatureExtractor.scala:565-656, same math in
SimpleAttribute.scala:60-96) and the normalized Shannon char-entropy feature
(FeatureExtractor.scala:463-514).

Spark shape: ``explode(split(value, ''))`` then two narrow aggregations —
per-(column, char) counts, then per-column normalization. At scale this is
the one profiling op with a second shuffle; both stages are partial-agg
friendly and stay in whole-stage codegen.

Divergence: the reference clips to a fixed 98-char alphabet and downscales by
max count to avoid overflow (SimpleAttribute.scala:60-96); 64-bit counts need
no downscaling, and we emit exactly the chars present (the missing entries of
the fixed alphabet are zeros by construction).
"""

from __future__ import annotations

from serene_spark.catalog import COLUMNS
from serene_spark.functions.melt import melt_sql, run_over_melt
from serene_spark.functions.sqlgen import DUCKDB, SPARK
from serene_spark.registry import register

NONEMPTY = "length(trim(value)) > 0"

# (column, char) -> count over a ``chars`` (column_name, ch, vcnt) relation
CHAR_COUNTS = """SELECT column_name, ch, CAST(SUM(vcnt) AS BIGINT) AS cnt
  FROM chars WHERE length(ch) > 0 GROUP BY column_name, ch"""

# normalized Shannon char entropy of one column's (ch, cnt) rows:
# -(sum p*log2 p) / log2(98) with p = cnt/total, via the order-insensitive
# identity  -sum p log2 p = log2(tot) - (sum c*log2 c)/tot
SHANNON_CHAR_ENTROPY = """round(
         (log2(CAST(SUM(cnt) AS DOUBLE))
          - SUM(CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE))) / SUM(cnt)
         ) / log2(98.0), 6) AS shannon_char_entropy"""


def _chars_rel(long_rel: str, dialect: str) -> str:
    """Explode characters of DISTINCT values only, carrying the value count
    as a weight — repeated values (flag/status columns) cost one explode, not
    one per row; char counts are then count-weighted sums."""
    vhist = (
        f"SELECT column_name, value, CAST(COUNT(*) AS BIGINT) AS vcnt "
        f"FROM {long_rel} AS lr WHERE {NONEMPTY} GROUP BY column_name, value"
    )
    if dialect == DUCKDB:
        return (
            f"SELECT column_name, unnest(string_split(value, '')) AS ch, vcnt "
            f"FROM ({vhist}) vh"
        )
    return (
        f"SELECT column_name, explode(split(value, '')) AS ch, vcnt "
        f"FROM ({vhist}) vh"
    )


def chardist_sql(long_rel: str, dialect: str) -> str:
    """Per (column, char): count and L2-normalized frequency."""
    return f"""
WITH chars AS ({_chars_rel(long_rel, dialect)}),
counts AS (
  {CHAR_COUNTS}
),
norms AS (
  SELECT column_name, sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS l2
  FROM counts GROUP BY column_name
)
SELECT c.column_name, c.ch, c.cnt,
       round(CAST(c.cnt AS DOUBLE) / n.l2, 6) AS freq_l2
FROM counts c JOIN norms n ON c.column_name = n.column_name
"""


def char_entropy_sql(long_rel: str, dialect: str) -> str:
    """Per column: total/distinct chars + normalized Shannon char-entropy."""
    return f"""
WITH chars AS ({_chars_rel(long_rel, dialect)}),
counts AS (
  {CHAR_COUNTS}
)
SELECT column_name,
       CAST(SUM(cnt) AS BIGINT) AS total_chars,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       {SHANNON_CHAR_ENTROPY}
FROM counts GROUP BY column_name
"""


for _t in ("customer", "documents"):
    register(
        f"chardist_{_t}",
        oracle=chardist_sql(melt_sql(_t, COLUMNS[_t]), DUCKDB),
        doc=f"SURVEY §2.4 char-dist-features: L2-normalized char frequencies of `{_t}`",
    )(
        lambda spark, sf_dir, t=_t: run_over_melt(
            spark, sf_dir, t, lambda v: chardist_sql(v, SPARK)
        )
    )
    register(
        f"char_entropy_{_t}",
        oracle=char_entropy_sql(melt_sql(_t, COLUMNS[_t]), DUCKDB),
        doc=f"SURVEY §2.3 shannon-entropy (normalized char entropy) of `{_t}`",
    )(
        lambda spark, sf_dir, t=_t: run_over_melt(
            spark, sf_dir, t, lambda v: char_entropy_sql(v, SPARK)
        )
    )
