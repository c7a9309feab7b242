"""SparkSession factory tuned for both local testing and 100 TB posture.

Local runs are a single JVM (local[N]); the configs below are chosen so
the *same plans* scale on a real cluster: AQE re-plans joins/skew at
runtime, shuffle partitions start at a sane local value (AQE coalesces
or splits as data dictates), and Arrow is on so any Pandas-UDF path is
batched, not row-at-a-time.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Streaming state-store backends. HDFSBacked (Spark's default) keeps
# every version of the state in executor heap — fine locally, but at
# 100 TB the state store (not the plan) is the streaming bottleneck:
# RocksDB spills state to local disk with bounded memory and
# incremental changelog checkpointing, and is the production choice
# for large stateful pipelines. The provider class is a runtime SQL
# conf read at STREAM START, so tests can flip it per-query; the
# SPARK_GRAFT_STATE_STORE env var ("hdfs" | "rocksdb") selects it
# session-wide.
STATE_STORE_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state."
               "RocksDBStateStoreProvider",
}


def get_spark(app_name: str = "kafka_clickhouse_implementation_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default ``*``).
    On a real cluster these settings are harmless: AQE owns the runtime
    partition count and broadcast decisions.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 2)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # SPARK_GRAFT_BROADCAST_MAX: the sf30 scale probe showed the
        # 64 MB default picks driver-killing broadcasts once a side
        # scales past ~1M docs — a real cluster sizes this to executor
        # memory; the probe drops it to force sort-merge at its
        # largest point
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            os.environ.get("SPARK_GRAFT_BROADCAST_MAX", str(64 * 1024 * 1024)),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata timestamps have shipped as TIMESTAMP(NANOS) (r1-r3)
        # and timestamp[us] NTZ (r4+); io.load also sets both at
        # runtime for sessions we don't construct
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # the master is always local[N], so a "parallel" listing job
        # (Spark launches one for more than 32 paths or sub-directories)
        # only wraps the same listStatus calls in a job of one task per
        # path on this JVM: it added 0.2-0.35 s to each 36-file streaming
        # micro-batch on a 4-core host. Keep every listing on the driver
        # thread.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # localCheckpoint of a wide text frame counts its materialized
        # blocks against maxResultSize in local mode; the 1 GB default
        # kills the sf30 scale probe's clip pin (observed round 12)
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
        .config("spark.ui.enabled", "false")
    )
    store = os.environ.get("SPARK_GRAFT_STATE_STORE")
    if store:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            STATE_STORE_PROVIDERS[store],
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
