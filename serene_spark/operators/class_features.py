"""Class-example-based features (SURVEY §2.5) — supervised features that
compare unlabeled test columns against labeled training examples.

Reference:
- ``MinEditDistFromClassExamplesFeatureExtractor`` — min Levenshtein between
  the column name and any example name of each class
  (matcher/.../features/MinEditDistFromClassExamplesFeatureExtractor.scala:29-83,
  metric nlptools/distance/LevensteinDistanceMetric.scala:18-36);
- ``RfKnnFeatureExtractor`` — k-NN over column names, per-class proportion
  among the k neighbours (matcher/.../features/RfKnnFeatureExtractor.scala:40-100;
  the reference uses OntoSim Needleman-Wunsch distance, rebuilt here as a
  driver-free Arrow-batched pandas UDF);
- ``MeanCharacterCosineSimilarityFeatureExtractor`` — mean cosine similarity
  between the column's char distribution and each class's example columns
  (matcher/.../features/MeanCharacterCosineSimilarityFeatureExtractor.scala:26-138).

Spark shape: the labeled pool is COLUMN metadata — O(100) rows — so every
join against it broadcasts; the only data-scale work is the char-distribution
aggregation, which reuses the §2.4 operator (one explode + two narrow aggs).
The name-distance features never touch row data at all.

Cross-engine determinism: cosine terms are summed in DECIMAL so the result is
independent of partial-aggregation order; Levenshtein is integer math; kNN
ranking tie-breaks on (distance, example_name).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import COLUMNS, bound_sql, load_table, sql_runner
from serene_spark.functions.melt import melt, melt_sql
from serene_spark.functions.sqlgen import DUCKDB, SPARK
from serene_spark.operators.profile_chardist import chardist_sql
from serene_spark.registry import register

# Labeled pool: (example column name, class). Keyed to the corpus star schema;
# in the reference this comes from SemanticTypeLabels (Labels.scala:45-61).
CLASS_EXAMPLES: tuple[tuple[str, str], ...] = (
    ("c_custkey", "key"),
    ("o_orderkey", "key"),
    ("o_custkey", "key"),
    ("n_nationkey", "key"),
    ("r_regionkey", "key"),
    ("c_name", "name"),
    ("n_name", "name"),
    ("r_name", "name"),
    ("p_name", "name"),
    ("c_acctbal", "money"),
    ("o_totalprice", "money"),
    ("p_retailprice", "money"),
    ("c_mktsegment", "category"),
    ("o_orderpriority", "category"),
    ("o_orderstatus", "category"),
    ("o_orderdate", "date"),
)

CLASSES = ("category", "date", "key", "money", "name")

# Test columns: supplier + part (deliberately disjoint from the pool tables).
TEST_COLUMNS = COLUMNS["supplier"] + COLUMNS["part"]

KNN_K = 3


def _examples_values() -> str:
    return ", ".join(f"('{n}', '{c}')" for n, c in CLASS_EXAMPLES)


def _test_values() -> str:
    return ", ".join(f"('{n}')" for n in TEST_COLUMNS)


def _pivot(expr_per_class: str, alias_suffix: str) -> str:
    return ",\n       ".join(
        expr_per_class.format(cls=c) + f" AS {c}_{alias_suffix}" for c in CLASSES
    )


def min_editdist_sql(dialect: str) -> str:
    pivot = _pivot(
        "CAST(MIN(CASE WHEN e.cls = '{cls}' THEN levenshtein(t.col_name, e.ex_name) END) AS BIGINT)",
        "min_dist",
    )
    return f"""
WITH examples(ex_name, cls) AS (VALUES {_examples_values()}),
tests(col_name) AS (VALUES {_test_values()})
SELECT t.col_name,
       {pivot}
FROM tests t CROSS JOIN examples e
GROUP BY t.col_name
"""


def knn_shares_sql(dialect: str) -> str:
    """Per test column: share of each class among the K nearest example names
    (Levenshtein; ties broken on example name for determinism)."""
    pivot = _pivot(
        f"round(CAST(SUM(CASE WHEN cls = '{{cls}}' THEN 1 ELSE 0 END) AS DOUBLE) / {KNN_K}, 6)",
        "knn_share",
    )
    return f"""
WITH examples(ex_name, cls) AS (VALUES {_examples_values()}),
tests(col_name) AS (VALUES {_test_values()}),
ranked AS (
  SELECT t.col_name, e.cls,
         ROW_NUMBER() OVER (
           PARTITION BY t.col_name
           ORDER BY levenshtein(t.col_name, e.ex_name), e.ex_name
         ) AS rk
  FROM tests t CROSS JOIN examples e
)
SELECT col_name,
       {pivot}
FROM ranked WHERE rk <= {KNN_K}
GROUP BY col_name
"""


# --- char-cosine: data-dependent (char distributions of real columns) -------

# Example columns drawn from customer+orders; test columns = supplier's.
_COSINE_POOL_TABLES = ("customer", "orders")
_COSINE_TEST_TABLE = "supplier"


def char_cosine_sql(test_long: str, pool_longs: dict[str, str], dialect: str) -> str:
    """Mean cosine similarity between each test column's char distribution and
    the example columns of each class.

    ``test_long`` / ``pool_longs`` are long-format relations (melted tables).
    Cosine of L2-normalized vectors = dot product over the shared chars.
    """
    pool_union = " UNION ALL ".join(
        f"SELECT * FROM ({chardist_sql(rel, dialect)}) AS cd_{t}"
        for t, rel in pool_longs.items()
    )
    pivot = _pivot(
        "round(CAST(AVG(CASE WHEN cls = '{cls}' THEN cos_sim END) AS DOUBLE), 6)",
        "char_cosine",
    )
    return f"""
WITH examples(ex_name, cls) AS (VALUES {_examples_values()}),
test_dist AS ({chardist_sql(test_long, dialect)}),
pool_dist_all AS ({pool_union}),
pool_dist AS (
  SELECT p.column_name, p.ch, p.freq_l2, e.cls
  FROM pool_dist_all p JOIN examples e ON p.column_name = e.ex_name
),
pairs AS (
  SELECT t.column_name AS test_col, p.column_name AS ex_col, p.cls,
         CAST(SUM(CAST(t.freq_l2 AS DECIMAL(20, 12)) * CAST(p.freq_l2 AS DECIMAL(20, 12))) AS DOUBLE) AS cos_sim
  FROM test_dist t JOIN pool_dist p ON t.ch = p.ch
  GROUP BY t.column_name, p.column_name, p.cls
)
SELECT test_col AS col_name,
       {pivot}
FROM pairs
GROUP BY test_col
"""


def _char_cosine_oracle() -> str:
    pool = {t: melt_sql(t, COLUMNS[t]) for t in _COSINE_POOL_TABLES}
    return char_cosine_sql(melt_sql(_COSINE_TEST_TABLE, COLUMNS[_COSINE_TEST_TABLE]), pool, DUCKDB)


def _cosine_tables(spark: SparkSession, sf_dir: str) -> tuple[dict, dict[str, str], str]:
    """The melted pool and test tables: ``(frames, pool relation names,
    test relation name)``."""
    frames = {f"__serene_ccos_{t}": melt(load_table(spark, sf_dir, t))
              for t in (*_COSINE_POOL_TABLES, _COSINE_TEST_TABLE)}
    pool = {t: f"__serene_ccos_{t}" for t in _COSINE_POOL_TABLES}
    return frames, pool, f"__serene_ccos_{_COSINE_TEST_TABLE}"


def _char_cosine_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames, pool, test = _cosine_tables(spark, sf_dir)
    return bound_sql(spark, char_cosine_sql(test, pool, SPARK), frames)


# --- score-map reorder (the relational, oracle-checkable face of §2.9) ------

# User-declared class order, including a class with no examples ("phone"):
# its score must come out as exactly 0.0 (MLibSemanticTypeClassifier.scala:83-102
# absent-class handling), and argmax tie-breaks toward the earliest user class
# (Scala maxBy = first maximum).
USER_CLASS_ORDER = ("category", "date", "key", "money", "name", "phone")


def score_map_reorder_sql(test_long: str, pool_longs: dict[str, str], dialect: str) -> str:
    """Per-class score map reordered to USER_CLASS_ORDER with absent->0.0 and
    first-max argmax — the §2.9 prediction post-processing expressed
    relationally over the char-cosine class scores (which stand in for RF
    probabilities so DuckDB can verify the reorder/argmax logic exactly)."""
    present = set(CLASSES)
    score_exprs = ",\n       ".join(
        (
            f"round(COALESCE({c}_char_cosine, 0.0), 6) AS score_{c}"
            if c in present
            else f"CAST(0.0 AS DOUBLE) AS score_{c}"
        )
        for c in USER_CLASS_ORDER
    )
    conf = "GREATEST(" + ", ".join(f"score_{c}" for c in USER_CLASS_ORDER) + ")"
    argmax = "CASE " + " ".join(
        f"WHEN score_{c} = confidence THEN '{c}'" for c in USER_CLASS_ORDER
    ) + " END"
    return f"""
WITH raw_scores AS ({char_cosine_sql(test_long, pool_longs, dialect)}),
reordered AS (
  SELECT col_name,
       {score_exprs}
  FROM raw_scores
),
with_conf AS (
  SELECT *, {conf} AS confidence FROM reordered
)
SELECT col_name, {argmax} AS predicted_class, round(confidence, 6) AS confidence,
       {", ".join(f"score_{c}" for c in USER_CLASS_ORDER)}
FROM with_conf
"""


def _score_map_oracle() -> str:
    pool = {t: melt_sql(t, COLUMNS[t]) for t in _COSINE_POOL_TABLES}
    return score_map_reorder_sql(
        melt_sql(_COSINE_TEST_TABLE, COLUMNS[_COSINE_TEST_TABLE]), pool, DUCKDB
    )


def _score_map_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames, pool, test = _cosine_tables(spark, sf_dir)
    return bound_sql(spark, score_map_reorder_sql(test, pool, SPARK), frames)


register("predict_score_map_reorder", oracle=_score_map_oracle(),
         doc="SURVEY §2.9 prediction post-processing relationally: class score map "
         "reordered to user class order, absent-class -> 0.0, first-max argmax")(_score_map_spark)


register("class_min_editdist", oracle=min_editdist_sql(DUCKDB),
         doc="SURVEY §2.5 min-editdistance-from-class-examples (Levenshtein, pivot per class)")(sql_runner(min_editdist_sql, ()))
register("class_knn_shares", oracle=knn_shares_sql(DUCKDB),
         doc="SURVEY §2.5 kNN-per-class shares over column names (Levenshtein, k=3)")(sql_runner(knn_shares_sql, ()))
register("class_char_cosine", oracle=_char_cosine_oracle(),
         doc="SURVEY §2.5 mean char-distribution cosine similarity per class")(_char_cosine_spark)


# --- Needleman-Wunsch kNN (reference metric; no SQL equivalent) -------------

def _nw_distance(a: str, b: str, gap: int = -1, match: int = 2, mismatch: int = -1) -> float:
    """Global-alignment NW score normalized to a distance in [0, 1]
    (OntoSimDistanceMetrics.scala:22-32 wraps the same classic DP)."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 1.0
    prev = [j * gap for j in range(lb + 1)]
    for i in range(1, la + 1):
        cur = [i * gap] + [0] * lb
        for j in range(1, lb + 1):
            diag = prev[j - 1] + (match if a[i - 1] == b[j - 1] else mismatch)
            cur[j] = max(diag, prev[j] + gap, cur[j - 1] + gap)
        prev = cur
    best = match * min(la, lb)
    worst = gap * (la + lb)
    return round(1.0 - (prev[lb] - worst) / (best - worst), 6)


@register(
    "class_wordnet_dist",
    oracle=None,  # WordNet/thesaurus lookup has no DuckDB equivalent; rows-only
    doc="SURVEY §2.5 min-wordnet-{jcn,lin}-distance-from-class-examples: "
    "min semantic distance between tokenized column names and each class's "
    "examples (nltk WordNet when installed, deterministic embedded thesaurus "
    "otherwise; Arrow-batched pandas UDF over the broadcast name pool)",
)
def class_wordnet_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from serene_spark.functions.tokenize import tokenize_name
    from serene_spark.functions.wordnet_dist import min_token_set_distance

    # lambda form: `from __future__ import annotations` stringifies type
    # hints, which pandas_udf's signature inference can't resolve
    def _dist_series(metric):
        return pandas_udf(
            lambda a, b: pd.Series(
                [
                    min_token_set_distance(tokenize_name(x), tokenize_name(y), metric)
                    for x, y in zip(a, b)
                ]
            ),
            "double",
        )

    jcn_dist, lin_dist = _dist_series("jcn"), _dist_series("lin")
    tests = spark.createDataFrame([(n,) for n in TEST_COLUMNS], "col_name string")
    pool = spark.createDataFrame(list(CLASS_EXAMPLES), "ex_name string, cls string")
    pairs = (
        tests.crossJoin(F.broadcast(pool))
        .withColumn("jcn", jcn_dist("col_name", "ex_name"))
        .withColumn("lin", lin_dist("col_name", "ex_name"))
    )
    aggs = []
    for c in CLASSES:
        aggs.append(
            F.round(F.min(F.when(F.col("cls") == c, F.col("jcn"))), 6).alias(f"{c}_min_jcn_dist")
        )
        aggs.append(
            F.round(F.min(F.when(F.col("cls") == c, F.col("lin"))), 6).alias(f"{c}_min_lin_dist")
        )
    return pairs.groupBy("col_name").agg(*aggs)


@register(
    "class_knn_nw",
    oracle=None,  # Needleman-Wunsch has no DuckDB equivalent; rows-only check
    doc="SURVEY §2.5 kNN-per-class shares with the reference's Needleman-Wunsch "
    "distance (Arrow-batched pandas UDF over the broadcast-sized name pool)",
)
def class_knn_nw(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.window import Window

    # functional form: `from __future__ import annotations` stringifies type
    # hints, which pandas_udf's signature inference can't resolve
    nw_dist = pandas_udf(
        lambda a, b: pd.Series([_nw_distance(x, y) for x, y in zip(a, b)]),
        "double",
    )

    tests = spark.createDataFrame([(n,) for n in TEST_COLUMNS], "col_name string")
    pool = spark.createDataFrame(list(CLASS_EXAMPLES), "ex_name string, cls string")
    ranked = (
        tests.crossJoin(F.broadcast(pool))
        .withColumn("dist", nw_dist("col_name", "ex_name"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("col_name").orderBy("dist", "ex_name")
            ),
        )
        .filter(F.col("rk") <= KNN_K)
    )
    shares = [
        F.round(
            F.sum(F.when(F.col("cls") == c, 1).otherwise(0)) / F.lit(KNN_K), 6
        ).alias(f"{c}_knn_share")
        for c in CLASSES
    ]
    return ranked.groupBy("col_name").agg(*shares)
