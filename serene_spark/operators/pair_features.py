"""Pair-wise column features (SURVEY §2.6) and the term-frequency vector
(SURVEY §2.7).

Reference:
- ``AttributePairFeatureExtractor`` computes per-(column, column) features for
  the legacy unsupervised matcher — numUniqueValsDiff (:33), stringEquality
  (:79), characterFrequencyCosineSimilarity (:215), numCharRatioDiff (:274),
  whitespaceRatio diff (:297), textStats diffs (:318), entropyDifference
  (:332) (matcher/.../matcher/features/AttributePairFeatureExtractor.scala);
- ``DataPreprocessor.computeNormalizedTermFrequencies`` — lowercase, split on
  ``[\\n ,]``, strip punctuation, L2-normalized term counts
  (matcher/.../matcher/features/DataPreprocessor.scala:79-130).

Spark shape (SURVEY §2.6 note): pair features are a SELF-JOIN of the
per-column profile DataFrame — the expensive per-value scans happen once per
column in the §2.3/§2.4 aggregations; the pairing then operates on the
O(#columns)-row profile relation, so the cross join is over column COUNTS,
never row counts. Char-frequency cosine joins the §2.4 char-dist vectors on
the character key (sparse dot product, no dense 98-dim materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from serene_spark.catalog import COLUMNS, bound_sql, load_table, staged, table_frames
from serene_spark.functions.melt import melt, melt_sql
from serene_spark.functions.sqlgen import DUCKDB, SPARK, explode, explode_seq, rr, split_re
from serene_spark.operators.profile_chardist import chardist_sql
from serene_spark.operators.profile_typeinfer import typeinfer_sql
from serene_spark.registry import register

NONEMPTY = "length(trim(value)) > 0"

_TABLE = "customer"


def pair_prof_sql(long_rel: str, dialect: str) -> str:
    """The per-column scalar profile the pair self-join consumes — ONE scan
    of the data; the pairing then operates on O(#columns) rows."""
    return f"""
  SELECT column_name,
         COUNT(DISTINCT CASE WHEN {NONEMPTY} THEN lower(trim(value)) END) AS n_unique,
         CAST(SUM(CASE WHEN {NONEMPTY} THEN length({rr(dialect, 'value', '[^0-9]')}) ELSE 0 END) AS DOUBLE)
           / NULLIF(SUM(CASE WHEN {NONEMPTY} THEN length(value) ELSE 0 END), 0) AS num_ratio,
         CAST(SUM(length(value) - length({rr(dialect, 'value', '[ ]')})) AS DOUBLE)
           / NULLIF(SUM(length(value)), 0) AS ws_ratio,
         AVG(CASE WHEN {NONEMPTY} THEN CAST(length(value) AS DOUBLE) END) AS mean_len
  FROM {long_rel} AS lr GROUP BY column_name
"""


def pair_features_body(prof_rel: str) -> str:
    """Keyed self-join (c1 < c2) over an existing profile relation."""
    return f"""
SELECT a.column_name AS col_1, b.column_name AS col_2,
       CAST(abs(a.n_unique - b.n_unique) AS BIGINT) AS unique_vals_diff,
       round(abs(COALESCE(a.num_ratio, 0) - COALESCE(b.num_ratio, 0)), 6) AS num_char_ratio_diff,
       round(abs(COALESCE(a.ws_ratio, 0) - COALESCE(b.ws_ratio, 0)), 6) AS ws_ratio_diff,
       round(abs(a.mean_len - b.mean_len), 6) AS mean_len_diff
FROM {prof_rel} a JOIN {prof_rel} b ON a.column_name < b.column_name
"""


def pair_features_sql(long_rel: str, dialect: str) -> str:
    return f"WITH prof AS ({pair_prof_sql(long_rel, dialect)})\n{pair_features_body('prof')}"


def pair_char_cosine_body(dist_rel: str) -> str:
    """characterFrequencyCosineSimilarity (:215): sparse dot product of the
    §2.4 L2-normalized char-dist vectors, joined on the char key."""
    return f"""
SELECT a.column_name AS col_1, b.column_name AS col_2,
       round(CAST(SUM(CAST(a.freq_l2 AS DECIMAL(20, 12)) * CAST(b.freq_l2 AS DECIMAL(20, 12))) AS DOUBLE), 6) AS char_cosine
FROM {dist_rel} a JOIN {dist_rel} b ON a.ch = b.ch AND a.column_name < b.column_name
GROUP BY a.column_name, b.column_name
"""


def pair_char_cosine_sql(long_rel: str, dialect: str) -> str:
    return f"WITH dist AS ({chardist_sql(long_rel, dialect)})\n{pair_char_cosine_body('dist')}"


def term_freq_sql(long_rel: str, dialect: str) -> str:
    """Normalized term-frequency vector per column
    (DataPreprocessor.scala:79-130): lowercase, split on whitespace/commas,
    strip non-alphanumerics, drop empties, L2-normalize counts."""
    tok = split_re(dialect, "lower(value)", "[\\n ,]+")
    clean = rr(dialect, "tok", "[^a-z0-9]")
    toks_rel = (
        f"SELECT column_name, {explode(dialect, tok)} AS tok FROM {long_rel} AS lr WHERE {NONEMPTY}"
    )
    return f"""
WITH toks AS ({toks_rel}),
terms AS (
  SELECT column_name, {clean} AS term FROM toks WHERE length({clean}) > 0
),
counts AS (
  SELECT column_name, term, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM terms GROUP BY column_name, term
),
norms AS (
  SELECT column_name, sqrt(CAST(SUM(cnt * cnt) AS DOUBLE)) AS l2
  FROM counts GROUP BY column_name
)
SELECT c.column_name, c.term, c.cnt,
       round(CAST(c.cnt AS DOUBLE) / n.l2, 6) AS tf_l2
FROM counts c JOIN norms n ON c.column_name = n.column_name
"""


def pair_name_metrics_sql(long_rel: str, dialect: str) -> str:
    """Column-NAME distances (AttributePairFeatureExtractor.scala:79-115):
    ``stringEquality`` (:79, case-insensitive name equality, 1.0/0.0) and
    ``ngramDistance`` (:103) re-expressed as Jaccard distance over lowercase
    character bigrams — OntoSim's internal n-gram constants are not public,
    so the standard set formulation is used; same formula in both dialects.
    Names with <2 chars have an empty bigram set; an empty-vs-empty union is
    defined as distance 1.0. O(#columns^2) rows, never row counts."""
    return f"""
WITH names AS (SELECT DISTINCT column_name FROM {long_rel} AS lr),
grams AS (
  SELECT column_name, gram FROM (
    SELECT column_name, substring(lower(column_name), i, 2) AS gram
    FROM (SELECT column_name, {explode_seq(dialect, 1, 'length(column_name) - 1')} AS i
          FROM names WHERE length(column_name) >= 2) pos
  ) g GROUP BY column_name, gram
),
gcnt AS (SELECT column_name, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY column_name),
inter AS (
  SELECT a.column_name AS col_1, b.column_name AS col_2, CAST(COUNT(*) AS BIGINT) AS ninter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.column_name < b.column_name
  GROUP BY a.column_name, b.column_name
),
pairs AS (
  SELECT a.column_name AS col_1, b.column_name AS col_2
  FROM names a JOIN names b ON a.column_name < b.column_name
)
SELECT p.col_1, p.col_2,
       CASE WHEN lower(p.col_1) = lower(p.col_2) THEN 1.0 ELSE 0.0 END AS string_equality,
       COALESCE(round(1.0 - CAST(COALESCE(i.ninter, 0) AS DOUBLE)
                / NULLIF(COALESCE(ga.n, 0) + COALESCE(gb.n, 0) - COALESCE(i.ninter, 0), 0), 6),
                1.0) AS ngram_dist
FROM pairs p
LEFT JOIN inter i ON p.col_1 = i.col_1 AND p.col_2 = i.col_2
LEFT JOIN gcnt ga ON ga.column_name = p.col_1
LEFT JOIN gcnt gb ON gb.column_name = p.col_2
"""


def pair_type_metrics_sql(long_rel: str, dialect: str) -> str:
    """Type-gated pair features: ``bothFloatType``/``bothIntType``/
    ``bothStringType`` indicators from the majority inferred type
    (AttributePairFeatureExtractor.scala:48), ``termFrequencyCosineSimilarity``
    gated on both columns inferring String else -1.0 (:195-218, sparse dot of
    the L2-normalized term-frequency vectors), and ``entropyDifference``
    (:332) as abs-diff of the discrete-value entropies (-1 sentinel when a
    column is not discrete, matching §2.3 entropy-for-discrete-values)."""
    return (
        f"WITH ti AS ({typeinfer_sql(long_rel, dialect)}),\n"
        f"tf AS ({term_freq_sql(long_rel, dialect)}),\n"
        f"entv AS ({entropy_sql(long_rel, dialect)}),\n"
        + pair_type_metrics_body("ti", "tf", "entv")
    )


def entropy_sql(long_rel: str, dialect: str) -> str:
    """Per-column discrete-value entropy with the §2.3 -1 sentinel."""
    return f"""
WITH hist AS (
  SELECT column_name, value, COUNT(*) AS cnt
  FROM {long_rel} AS lr WHERE {NONEMPTY}
  GROUP BY column_name, value
),
enta AS (
  SELECT column_name, CAST(SUM(cnt) AS BIGINT) AS tot,
         SUM(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE))) AS slnc,
         CAST(COUNT(*) AS BIGINT) AS nd
  FROM hist GROUP BY column_name
)
SELECT column_name,
       CASE WHEN tot > 0 AND CAST(nd AS DOUBLE) / tot <= 0.3
            THEN round(ln(CAST(tot AS DOUBLE)) - slnc / tot, 6) ELSE -1.0 END AS entropy
FROM enta
"""


def pair_type_metrics_body(ti: str, tf: str, entv: str) -> str:
    """The pairing tail over existing per-column relations, as a CTE-list
    fragment (caller prefixes ``WITH`` or a preceding CTE list). The
    column-name universe is derived from ``ti`` (every pair ultimately
    inner-joins the inferred type anyway, so this matches deriving names
    from the data)."""
    return f"""
pairs AS (
  SELECT a.column_name AS col_1, b.column_name AS col_2
  FROM {ti} a JOIN {ti} b ON a.column_name < b.column_name
),
dot AS (
  SELECT a.column_name AS col_1, b.column_name AS col_2,
         SUM(CAST(a.tf_l2 AS DECIMAL(20, 12)) * CAST(b.tf_l2 AS DECIMAL(20, 12))) AS dotp
  FROM {tf} a JOIN {tf} b ON a.term = b.term AND a.column_name < b.column_name
  GROUP BY a.column_name, b.column_name
)
SELECT p.col_1, p.col_2,
       CASE WHEN ta.inferred_type = 'Float' AND tb.inferred_type = 'Float' THEN 1.0 ELSE 0.0 END AS both_float,
       CASE WHEN ta.inferred_type IN ('Integer', 'Long') AND tb.inferred_type IN ('Integer', 'Long')
            THEN 1.0 ELSE 0.0 END AS both_int,
       CASE WHEN ta.inferred_type = 'String' AND tb.inferred_type = 'String' THEN 1.0 ELSE 0.0 END AS both_string,
       CASE WHEN ta.inferred_type = 'String' AND tb.inferred_type = 'String'
            THEN round(CAST(COALESCE(d.dotp, 0) AS DOUBLE), 6) ELSE -1.0 END AS term_cosine,
       CASE WHEN ea.entropy >= 0 AND eb.entropy >= 0 THEN round(abs(ea.entropy - eb.entropy), 6)
            ELSE -1.0 END AS entropy_diff
FROM pairs p
JOIN {ti} ta ON ta.column_name = p.col_1
JOIN {ti} tb ON tb.column_name = p.col_2
JOIN {entv} ea ON ea.column_name = p.col_1
JOIN {entv} eb ON eb.column_name = p.col_2
LEFT JOIN dot d ON d.col_1 = p.col_1 AND d.col_2 = p.col_2
"""


def _jaro(a: str, b: str) -> float:
    """Standard Jaro similarity (the formulation DuckDB's jaro_similarity and
    OntoSim's JaroMeasure implement): match window floor(max/2)-1,
    transpositions = half the out-of-order matches."""
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    window = max(la, lb) // 2 - 1
    ma = [False] * la
    mb = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not mb[j] and b[j] == ca:
                ma[i] = mb[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    bs = [b[j] for j in range(lb) if mb[j]]
    transpositions = sum(1 for ca, cb in zip((a[i] for i in range(la) if ma[i]), bs) if ca != cb) // 2
    m = float(matches)
    return (m / la + m / lb + (m - transpositions) / m) / 3.0


def _name_pairs(spark: SparkSession, sf_dir: str, view: str) -> DataFrame:
    """Each unordered pair of ``_TABLE``'s column names, once."""
    return bound_sql(
        spark,
        f"""SELECT a.column_name AS col_1, b.column_name AS col_2
            FROM (SELECT DISTINCT column_name FROM {view}) a
            JOIN (SELECT DISTINCT column_name FROM {view}) b
              ON a.column_name < b.column_name""",
        {view: melt(load_table(spark, sf_dir, _TABLE))},
    )


def pair_jaro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jaroMeasureDistance (AttributePairFeatureExtractor.scala:115) over
    lowercase column names; oracle = DuckDB's built-in jaro_similarity.
    Arrow-batched pandas UDF over the O(#columns^2) pair relation."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    jaro_udf = pandas_udf(
        lambda a, b: pd.Series([_jaro(x, y) for x, y in zip(a, b)]),
        DoubleType(),
    )
    pairs = _name_pairs(spark, sf_dir, f"__serene_pairjaro_{_TABLE}")
    from pyspark.sql.functions import lower as f_lower, round as f_round

    return pairs.withColumn(
        "jaro_sim", f_round(jaro_udf(f_lower(pairs.col_1), f_lower(pairs.col_2)), 6)
    )


def _pair_jaro_oracle() -> str:
    long_rel = melt_sql(_TABLE, COLUMNS[_TABLE])
    return f"""
WITH names AS (SELECT DISTINCT column_name FROM {long_rel} AS lr)
SELECT a.column_name AS col_1, b.column_name AS col_2,
       round(jaro_similarity(lower(a.column_name), lower(b.column_name)), 6) AS jaro_sim
FROM names a JOIN names b ON a.column_name < b.column_name
"""


def pair_nw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """needlemanWunschDistance (AttributePairFeatureExtractor.scala:91) over
    column names — NW global alignment has no SQL equivalent in either
    dialect, so this is a rows-only query: the same Arrow-batched NW scorer
    used by the §2.5 kNN feature (class_features._nw_distance), applied to
    the O(#columns^2) name-pair relation."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf, round as f_round
    from pyspark.sql.types import DoubleType

    from serene_spark.operators.class_features import _nw_distance

    nw_udf = pandas_udf(
        lambda a, b: pd.Series([_nw_distance(x, y) for x, y in zip(a, b)]),
        DoubleType(),
    )
    pairs = _name_pairs(spark, sf_dir, f"__serene_pairnw_{_TABLE}")
    return pairs.withColumn("nw_dist", f_round(nw_udf(pairs.col_1, pairs.col_2), 6)).orderBy(
        "col_1", "col_2"
    )


def _melted_frames(spark: SparkSession, sf_dir: str, table: str, view: str) -> dict:
    """``table`` and its melt, bound as ``view``."""
    frames = table_frames(spark, sf_dir, (table,))
    frames[view] = melt(frames[table])
    return frames


def _melted_query(sql_fn, table: str = _TABLE):
    view = f"__serene_pair_{table}"

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return bound_sql(spark, sql_fn(view, SPARK), _melted_frames(spark, sf_dir, table, view))

    return run


def _materialized_pair_query(profiles: dict[str, object], body_fn, table: str = _TABLE,
                             body_is_cte_fragment: bool = False):
    """Runner that materializes each per-column profile relation once
    (eager localCheckpoint) before the pairing tail — the tail references
    every profile twice (both join sides) and Spark inlines CTEs, so without
    this the data-scale aggregation would re-run per reference (same hazard
    as the dedup tails)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        view = f"__serene_pairm_{table}"
        rels = [f"__serene_{name}_{table}" for name in profiles]
        frames = staged(spark, _melted_frames(spark, sf_dir, table, view),
                        [(rel, fn(view, SPARK)) for rel, fn in zip(rels, profiles.values())])
        body = body_fn(*rels)
        return bound_sql(spark, "WITH " + body if body_is_cte_fragment else body, frames)

    return run


def _oracle(sql_fn, table: str = _TABLE) -> str:
    return sql_fn(melt_sql(table, COLUMNS[table]), DUCKDB)


register("pair_features_customer", oracle=_oracle(pair_features_sql),
         doc="SURVEY §2.6 pair-wise column features (unique-diff, char-ratio diffs, "
             "text-len diff) via self-join of the materialized per-column profile")(
    _materialized_pair_query({"prof": pair_prof_sql}, pair_features_body))
register("pair_char_cosine_customer", oracle=_oracle(pair_char_cosine_sql),
         doc="SURVEY §2.6 characterFrequencyCosineSimilarity: sparse dot product "
             "of §2.4 char-dist vectors over all column pairs")(
    _materialized_pair_query({"dist": chardist_sql}, pair_char_cosine_body))
register("term_freq_customer", oracle=_oracle(term_freq_sql),
         doc="SURVEY §2.7 L2-normalized term-frequency vector per column")(_melted_query(term_freq_sql))
register("pair_name_metrics_customer", oracle=_oracle(pair_name_metrics_sql),
         doc="SURVEY §2.6 stringEquality + ngramDistance (bigram Jaccard) over "
             "column-name pairs")(_melted_query(pair_name_metrics_sql))
register("pair_type_metrics_customer", oracle=_oracle(pair_type_metrics_sql),
         doc="SURVEY §2.6 bothFloat/Int/String type indicators, type-gated "
             "termFrequencyCosineSimilarity, entropyDifference")(
    _materialized_pair_query(
        {"ti": typeinfer_sql, "tf": term_freq_sql, "entv": entropy_sql},
        pair_type_metrics_body,
        body_is_cte_fragment=True,
    ))
register("pair_jaro_customer", oracle=_pair_jaro_oracle(),
         doc="SURVEY §2.6 jaroMeasureDistance over column names (pandas-UDF Jaro "
             "vs DuckDB jaro_similarity oracle)")(pair_jaro)
register("pair_nw_customer", oracle=None,
         doc="SURVEY §2.6 needlemanWunschDistance over column names (rows-only: "
             "NW has no SQL equivalent)")(pair_nw)
