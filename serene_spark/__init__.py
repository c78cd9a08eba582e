"""serene_spark — a PySpark-native rebuild of the NICTA/serene data-integration
engine, extended with large-scale training-data pipeline operators.

The reference is a single-node Scala/Finch platform for
semantic schema matching: per-column profiling features feeding a Spark MLlib
random forest (matcher/), plus a Karma-based semantic modeler (modeler/).
This package re-expresses the same computations Spark-first:

- columns are profiled in *long format* (column_name, value) so one
  ``groupBy(column_name).agg(...)`` computes every scalar feature for every
  column of a table in a single shuffle (reference iterates columns in
  driver memory, matcher/.../features/FeatureExtractorUtil.scala:341-384);
- the ML pipeline is ``pyspark.ml`` (StringIndexer -> VectorAssembler ->
  RandomForestClassifier -> IndexToString), mirroring
  matcher/.../train/TrainMlibSemanticTypeClassifier.scala:202-231;
- scale extensions (dedup, similarity search, text analysis, multimodal
  plumbing) are built on the same DataFrame primitives.

Every public operator is registered in :mod:`serene_spark.registry` with an
equivalent DuckDB oracle SQL string used by the correctness harness.
"""

__version__ = "0.1.0"

from serene_spark.session import get_spark, tune_session  # noqa: F401
