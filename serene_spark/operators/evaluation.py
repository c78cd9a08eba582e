"""Evaluation operators (SURVEY §2.11).

Reference: ``ConfusionMatrix`` / ``EvaluationMetrics`` compute TP/FP/TN/FN,
precision, recall, f1 (matcher/.../matcher/eval/metrics/ConfusionMatrix.scala:3-17,
EvaluationMetrics.scala:5-21); ``DataPartitioner`` makes seeded train/test
splits keyed by attribute or dataset (matcher/.../matcher/eval/DataPartitioner.scala:9-100).

Rebuilt Spark-first:
- the confusion matrix is one ``groupBy(actual, predicted).count()`` over the
  joined (gold, predicted) labels — a single shuffle at any scale;
- per-class one-vs-rest precision/recall/F1 derive from the matrix with three
  conditional aggregations (no second pass over the data);
- the holdout partitioner is **deterministic-hash** rather than seeded-RNG
  (documented divergence, SURVEY §7 risk 2): split membership is a pure
  function of the row key via md5, so it is reproducible across engines,
  partitionings, and reruns — lexicographic comparison on the first 4 hex
  digits gives 16^4-granular proportions.

The gold/predicted pair here is the engine's own lang-ID heuristic
(operators/text_analysis.py) against the ``documents.lang`` column, making
the whole matcher-eval path oracle-checkable end-to-end.
"""

from __future__ import annotations

from serene_spark.catalog import sql_runner
from serene_spark.functions.sqlgen import DUCKDB
from serene_spark.operators.text_analysis import lang_id_sql
from serene_spark.registry import register

# 0xb332 / 0xffff ~= 0.6999 — the reference's default holdout proportion is a
# free parameter; 70/30 matches its evaluate.sh experiments.
HOLDOUT_HEX = "b332"


def _pred_vs_gold(dialect: str) -> str:
    """CTE block: (actual, predicted) per doc from lang-ID vs the gold lang."""
    return f"""
preds AS ({lang_id_sql(dialect)}),
pairs AS (
  SELECT d.lang AS actual, p.pred_lang AS predicted
  FROM documents d JOIN preds p ON d.doc_id = p.doc_id
)"""


def confusion_matrix_sql(dialect: str) -> str:
    return f"""
WITH {_pred_vs_gold(dialect)}
SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
FROM pairs GROUP BY actual, predicted
"""


def prf1_sql(dialect: str) -> str:
    """Per-class one-vs-rest precision / recall / F1 + support.

    Derived entirely from the confusion matrix — the raw pairs are touched
    once (one shuffle); everything after operates on the |classes|^2-row
    matrix, so no per-class pass over the data at scale.
    """
    return f"""
WITH {_pred_vs_gold(dialect)},
cm AS (
  SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs GROUP BY actual, predicted
),
classes AS (
  SELECT actual AS cls FROM cm
  UNION SELECT predicted AS cls FROM cm
),
per_class AS (
  SELECT c.cls,
         CAST(COALESCE(SUM(CASE WHEN cm.actual = c.cls AND cm.predicted = c.cls THEN cm.n END), 0) AS BIGINT) AS tp,
         CAST(COALESCE(SUM(CASE WHEN cm.actual <> c.cls AND cm.predicted = c.cls THEN cm.n END), 0) AS BIGINT) AS fp,
         CAST(COALESCE(SUM(CASE WHEN cm.actual = c.cls AND cm.predicted <> c.cls THEN cm.n END), 0) AS BIGINT) AS fn
  FROM classes c CROSS JOIN cm
  GROUP BY c.cls
)
SELECT cls, tp, fp, fn,
       CASE WHEN tp + fp = 0 THEN 0.0 ELSE round(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
       CASE WHEN tp + fn = 0 THEN 0.0 ELSE round(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
       CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
            ELSE round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6) END AS f1,
       CAST(tp + fn AS BIGINT) AS support
FROM per_class
"""


def holdout_split_sql(dialect: str) -> str:
    """Deterministic 70/30 split of customer keyed by md5(c_custkey).

    Returns per-(split, class) counts — the check that the split is
    reproducible and roughly stratified, without materializing row lists.
    """
    key_hex = "substr(md5(CAST(c_custkey AS STRING)), 1, 4)"
    return f"""
WITH tagged AS (
  SELECT c_mktsegment AS cls,
         CASE WHEN {key_hex} <= '{HOLDOUT_HEX}' THEN 'train' ELSE 'test' END AS split
  FROM customer
)
SELECT split, cls, CAST(COUNT(*) AS BIGINT) AS n
FROM tagged GROUP BY split, cls
"""


register("eval_confusion_matrix", oracle=confusion_matrix_sql(DUCKDB),
         doc="SURVEY §2.11 confusion matrix (lang-ID predictions vs gold lang)")(sql_runner(confusion_matrix_sql, ("documents",), spread=True))
register("eval_prf1", oracle=prf1_sql(DUCKDB),
         doc="SURVEY §2.11 per-class precision/recall/F1 from the confusion matrix")(sql_runner(prf1_sql, ("documents",), spread=True))
register("eval_holdout_split", oracle=holdout_split_sql(DUCKDB),
         doc="SURVEY §2.11 deterministic-hash 70/30 train/test partitioner (stratification counts)")(sql_runner(holdout_split_sql, ("customer",)))


# --- Inter-rater agreement (Cohen's kappa) -----------------------------------


def kappa_gates_sql(dialect: str) -> str:
    """Cohen's kappa (Cohen 1960) between the engine's two independent
    document screens — the ``text_quality`` heuristic gate and the Gopher
    ``doc_repetition`` gate — treated as two raters of the same keep/drop
    judgment.  The label-quality audit a curation pipeline owes its
    filters: raw agreement p_o overstates consensus when both gates pass
    almost everything, so kappa subtracts the chance agreement p_e implied
    by the raters' marginal pass rates.  The low (negative, on this
    corpus) kappa is the finding, not a bug — the gates screen different
    failure modes (statistical shape vs internal repetition), which is
    WHY a pipeline runs both.

    One row: the 2x2 contingency cells, both marginal pass rates, p_o,
    p_e, and kappa (NULL when p_e = 1, the both-raters-constant
    degenerate).  Exact integer cells; division only at the output edge.

    Scale: both gate CTEs are single-scan keyed aggregations (their own
    registered shapes); the join is doc-keyed, the readout a constant-key
    fold with map-side combine.
    """
    from serene_spark.operators.text_analysis import (
        repetition_sql,
        text_quality_sql,
    )

    return f"""
WITH tq AS ({text_quality_sql(dialect)}),
rep AS ({repetition_sql(dialect)}),
joined AS (
  SELECT CAST(t.quality_pass AS INT) AS a, CAST(r.repetition_pass AS INT) AS b
  FROM tq t JOIN rep r ON t.doc_id = r.doc_id
),
cells AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(a * b) AS BIGINT) AS n11,
         CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
         CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
         CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00,
         CAST(SUM(a) AS BIGINT) AS na,
         CAST(SUM(b) AS BIGINT) AS nb
  FROM joined
),
rates AS (
  SELECT n, n11, n10, n01, n00, na, nb,
         CAST(n11 + n00 AS DOUBLE) / n AS po,
         (CAST(na AS DOUBLE) * nb + CAST(n - na AS DOUBLE) * (n - nb))
           / (CAST(n AS DOUBLE) * n) AS pe
  FROM cells
)
SELECT n, n11, n10, n01, n00,
       round(CAST(na AS DOUBLE) / n, 6) AS pass_rate_quality,
       round(CAST(nb AS DOUBLE) / n, 6) AS pass_rate_repetition,
       round(po, 6) AS p_observed,
       round(pe, 6) AS p_expected,
       CASE WHEN pe = 1.0 THEN NULL
            ELSE round((po - pe) / (1 - pe), 6) END AS kappa
FROM rates
"""


register(
    "gate_agreement_kappa",
    oracle=kappa_gates_sql(DUCKDB),
    doc="Cohen's kappa between the text_quality and doc_repetition gates — "
    "chance-corrected inter-rater agreement of the two document screens "
    "(2x2 cells, marginals, p_o, p_e, kappa)",
)(sql_runner(kappa_gates_sql, ("documents",), spread=True))
