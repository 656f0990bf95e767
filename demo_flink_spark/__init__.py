"""demo_flink_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference stream-processing demo collection
(`heyyy-ankit/demo-flink`), built Spark-first:

- batch + streaming DataFrames (Catalyst-optimized, whole-stage codegen)
- keyed stateful operators via ``applyInPandasWithState``
- event-time windows + watermarks via Structured Streaming
- LLM-data-pipeline extensions (dedup, similarity, text analysis,
  multimodal column plumbing) designed for 100 TB scale.

Architecture notes live in each submodule; reference parity citations
(file:line into the reference repo) live in operator docstrings.
"""

__version__ = "0.1.0"

from demo_flink_spark.session import get_spark  # noqa: F401
