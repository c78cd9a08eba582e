"""SparkSession management.

The reference creates and tears down a ``local[*]`` session *per request*
(matcher/.../train/TrainMlibSemanticTypeClassifier.scala:248-262,
matcher/.../matcher/MLibSemanticTypeClassifier.scala:52-60) — an anti-pattern.
Here one long-lived session serves the whole engine, and ``tune_session``
applies runtime-settable knobs defensively so operators behave identically on
sessions we did not create (e.g. the correctness driver's session).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs every operator depends on.
_RUNTIME_CONFS = {
    # DuckDB (and the synthetic parquet) use naive/UTC timestamps; render the
    # same way regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark cannot read natively;
    # read the raw int64 nanos and convert with timestamp_micros(ts div 1000).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: partition coalescing and skew-join splitting are
    # essential at the 100 TB target where static planning is always wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
}


def default_driver_memory() -> str:
    """Half of this host's physical RAM, as a ``spark.driver.memory`` value:
    a heap at or above physical RAM turns a driver OOM into an OS kill."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{ram // 2 // 2**20}m"


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally-owned session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not settable on this session: keep going
            pass
    return spark


def get_spark(app_name: str = "serene-spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    Parallelism comes from ``SPARK_GRAFT_CPUS`` (driver contract) and scales
    ``spark.sql.shuffle.partitions`` with it: on a real cluster this would be
    executor-count driven; AQE coalesces the excess at runtime either way.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.driver.memory",
                os.environ.get("SERENE_SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune_session(builder.getOrCreate())
