"""pymfe_spark — a PySpark-native meta-feature / feature-engineering engine.

A brand-new engine (NOT a port) recreating the query and data-processing
capabilities of the pymfe reference (ealcobaca/pymfe) as windowed,
point-in-time-correct feature engineering over transcript tables of shape
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``.

Architecture (Spark-first):

- **SQL tier**: every measure expressible with built-in
  ``pyspark.sql.functions`` stays JVM-side inside whole-stage codegen —
  per-conversation aggregates, window lag/lead, sessionization, expanding
  point-in-time frames, as-of merges.
- **Arrow tier**: matrix-shaped measures (covariance/eigen, pairwise
  distances, clustering indexes) run as vectorized numpy kernels over
  conversations streamed through one ``mapInPandas`` per partition,
  which carries a conversation split across Arrow batches over to the
  next batch — zero per-row Python.
- **Scale**: salted repartition for mega-conversations, AQE enabled,
  range-partitioned ts buckets for resumable backfill with per-partition
  lineage.

Reference parity targets are cited per-kernel as ``file:line`` into
``/root/reference`` (pymfe).
"""

__version__ = "0.1.0"

from pymfe_spark.session import get_spark  # noqa: F401
