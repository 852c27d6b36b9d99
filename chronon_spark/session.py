"""Tuned SparkSession builder.

Mirrors the reference's SparkSessionBuilder defaults (reference:
spark/.../submission/SparkSessionBuilder.scala:121 — dynamic partition
overwrite; plus AQE / Arrow / UTC confs this engine relies on).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ENGINE_CONFS: dict[str, str] = {
    # AQE: runtime coalescing + skew-join splitting — load-bearing at scale.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Smaller advisory size keeps the Arrow-kernel stages at full
    # parallelism: the cogroup shuffle carries compact rows whose per-task
    # PYTHON cost far exceeds their byte size, so coalescing to 64MB chunks
    # would serialize the sawtooth kernel onto a handful of cores. Pure-JVM
    # stages at larger scale are unaffected (partitions above the advisory
    # size are never merged).
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
    # Arrow for toPandas/createDataFrame, and the Arrow batch size of every
    # Python kernel (applyInArrow / applyInPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Idempotent partitioned re-writes (insert-overwrite sink).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # `ds` partition values stay strings on read-back (engine contract).
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # Let tiny dimension sides broadcast aggressively.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def build_session(
    app_name: str = "chronon_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    `master` defaults to local[$SPARK_GRAFT_CPUS] (or local[*]); on a real
    cluster pass master=None with spark-submit providing the master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", "") else max(int(cpus), 4)

    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if master.startswith("local"):
        # single-host: locality preferences only idle cores (measured: the
        # default 3s wait leaves multi-second scheduler gaps in local mode)
        builder = builder.config("spark.locality.wait", "0s")
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    builder = builder.config("spark.ui.enabled", "false")
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
