"""chronon_spark — a PySpark-native feature-engineering engine.

A from-scratch reimplementation of the batch feature-computation core of
the Chronon feature platform (reference: rajkiran2190/chronon), expressed
entirely as pyspark.sql DataFrame operations + vectorized pandas/Arrow
UDFs. Semantics follow the reference (see SURVEY.md); the execution
strategy is Spark-first: declarative plans optimized by Catalyst/AQE,
columnar Arrow batches for the per-key point-in-time kernels.

Public surface:
  api            — GroupBy / Join / Aggregation / Window / Source dataclasses
  partitions     — PartitionSpec / PartitionRange date-partition algebra
  session        — tuned SparkSession builder
  operators.*    — aggregation registry, snapshot GroupBy, temporal as-of
                   join (union + sawtooth kernel), lag/lead/sessionize
  functions.*    — text analysis, dedup (exact/minhash/simhash), similarity
                   search, multimodal (image) column plumbing
  plans.*        — incremental backfill planner, manifest/lineage
"""

from chronon_spark import zipcache
from chronon_spark.api import (  # noqa: F401
    Accuracy,
    Aggregation,
    EntitySource,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
    Query,
    TimeUnit,
    Window,
)
from chronon_spark.partitions import PartitionRange, PartitionSpec  # noqa: F401

__version__ = "0.1.0"

# Every engine UDF imports this package, so each Python worker installs the
# unchanged-archive zip cache on its first task (see zipcache).
zipcache.install_in_worker()
