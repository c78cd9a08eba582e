"""Query registry: the single source of truth for the engine's public surface.

Every operator registers (a) a PySpark callable ``(spark, sf_dir) -> DataFrame``
and (b) an equivalent DuckDB oracle SQL string (or None for ops that are not
SQL-expressible — ML, streaming — which the driver checks rows-only).
``__spark_entry__.py`` derives ``queries()`` / ``oracle_sql()`` from here.

Oracle-parity conventions (both engines MUST follow them):
- every float output column is ``round(x, 6)``; sums over doubles go through
  DECIMAL casts so the result is independent of partial-aggregation order;
- ratios are computed as exact integer-count divisions where possible;
- DuckDB ``regexp_replace`` takes the ``'g'`` flag (Spark replaces globally by
  default); regexes stick to RE2-compatible syntax with ``[0-9]`` classes;
- deterministic ordering for any top-k: rank on rounded score with an id
  tie-break;
- a string cast is spelled ``CAST(x AS STRING)`` in the shared text (DuckDB
  reads ``STRING`` as VARCHAR); any other spelling that differs between the
  engines goes through a ``functions/sqlgen.py`` helper.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    # external fixture paths the query reads (serene_spark.reference): the
    # rows-only parity test skips the query while any is absent, and its
    # loaders raise reference.ReferenceFixtureMissing
    requires: tuple[str, ...] = ()


QUERIES: dict[str, Query] = {}


def register(
    name: str, oracle: str | None = None, doc: str = "", requires: tuple[str, ...] = ()
):
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = Query(
            name=name, spark=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""),
            requires=tuple(requires),
        )
        return fn

    return wrap


def load_all() -> dict[str, Query]:
    """Import every operator module so registrations run, then return QUERIES."""
    import importlib

    for mod in (
        # driver contract: the first 50 registry entries (the driver's
        # correctness sample) come from these five modules, in this order
        "serene_spark.operators.profile_scalar",
        "serene_spark.operators.profile_chardist",
        "serene_spark.operators.profile_typeinfer",
        "serene_spark.operators.profile_textstats",
        "serene_spark.operators.relational",
        # driver contract: bench.py headliners beyond the sample
        "serene_spark.operators.events",
        "serene_spark.operators.dedup",
        "serene_spark.operators.similarity",
        "serene_spark.operators.text_analysis",
        # operators the Serene core imports, and SURVEY §2 rows
        "serene_spark.operators.resample",
        "serene_spark.operators.evaluation",
        "serene_spark.operators.class_features",
        "serene_spark.operators.ingest_sample",
        "serene_spark.operators.transform",
        "serene_spark.operators.pair_features",
        # extension operators: on no benchmark workload, bench headliner
        # or driver sample; each keeps its own tests
        "serene_spark.operators.curation",
        "serene_spark.operators.boilerplate",
        "serene_spark.operators.substring_dedup",
        "serene_spark.operators.packing",
        "serene_spark.operators.sketches",
        "serene_spark.operators.stats",
        "serene_spark.operators.cdc",
        "serene_spark.operators.quality_checks",
        "serene_spark.operators.matview",
        "serene_spark.operators.timeseries",
        "serene_spark.operators.entity_resolution",
        "serene_spark.operators.importance",
        "serene_spark.operators.skyline",
        "serene_spark.operators.graph_rank",
        "serene_spark.operators.graph_analytics",
        "serene_spark.operators.retrieval",
        "serene_spark.operators.clustering",
        "serene_spark.operators.contrastive",
        "serene_spark.operators.sequence",
        "serene_spark.operators.corpus_stats",
        "serene_spark.operators.prep",
        "serene_spark.operators.drift",
        "serene_spark.operators.vocab",
        "serene_spark.multimodal.binary_ops",
        "serene_spark.operators.experiments",
        "serene_spark.operators.stats_extra",
        "serene_spark.operators.survival",
        "serene_spark.operators.forecast",
        "serene_spark.operators.hypothesis_tests",
        "serene_spark.operators.basket",
        "serene_spark.operators.recsys",
        "serene_spark.operators.infotheory",
        "serene_spark.operators.coreset",
        "serene_spark.operators.hybrid_search",
        "serene_spark.operators.bootstrap",
        "serene_spark.operators.sharding",
        "serene_spark.operators.attribution_markov",
        "serene_spark.operators.regression",
        "serene_spark.operators.geospatial",
        "serene_spark.operators.multivariate",
        "serene_spark.operators.attribution_rules",
        "serene_spark.operators.feature_eng",
        "serene_spark.operators.estimation",
        "serene_spark.operators.interval_join",
        "serene_spark.operators.elasticity",
        "serene_spark.operators.embedding_audit",
        "serene_spark.operators.phonetic",
        "serene_spark.operators.lorenz",
        "serene_spark.operators.forecast_backtest",
        "serene_spark.operators.bitemporal",
        "serene_spark.operators.sampling_design",
        "serene_spark.operators.causal",
        "serene_spark.operators.order_stats",
        "serene_spark.operators.conformal",
        "serene_spark.operators.wasserstein",
        "serene_spark.operators.rank_corr",
        "serene_spark.operators.test_batteries",
        "serene_spark.operators.price_volume",
        "serene_spark.operators.governance_ops",
        "serene_spark.operators.flow_metrics",
        "serene_spark.operators.panel",
        "serene_spark.operators.ops_research",
        "serene_spark.operators.qte",
        "serene_spark.operators.cuped",
        # core / Serene: modeler, ML pipeline and loaders
        "serene_spark.modeler.octopus",
        "serene_spark.modeler.report_fixture",
        "serene_spark.modeler.museum",
        "serene_spark.modeler.report_real",
        "serene_spark.ml.pipeline",
        "serene_spark.ml.homeseekers_fixture",
        "serene_spark.ml.homeseekers_real",
        "serene_spark.ml.bagging",
        # extension operator (the quality_* classifier queries)
        "serene_spark.ml.quality_classifier",
        # core loader
        "serene_spark.sources.xml_loader",
    ):
        importlib.import_module(mod)
    return QUERIES
