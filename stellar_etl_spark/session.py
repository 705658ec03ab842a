"""SparkSession construction with scale-appropriate defaults.

The reference configures its pipeline with prefetch buffers and worker counts
(``internal/utils/main.go:241-244``); in Spark those knobs become AQE, shuffle
partitioning, Arrow batching, and the streaming state store. Everything here is
public Spark configuration.

Design notes for the 100 TB / 1000-executor target (tested on local[N]):

- AQE on, with skew-join splitting: hot conversations (the "hot ledger"
  analog) are the dominant skew source; AQE splits oversized post-shuffle
  partitions at runtime.
- ``spark.sql.shuffle.partitions`` defaults to the local core count here; on a
  real cluster set it ~2-3x total cores (AQE coalesces the excess).
- Arrow enabled for all pandas UDF exchange; batch size bounded so grouped-map
  state per task stays in memory.
- RocksDB state store provider for streaming state (bundled with Spark 4):
  session-window and stream-stream-join state at 10^12-turn scale cannot live
  on the JVM heap.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "stellar-etl-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    streaming: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cores`` controls local parallelism (the sandbox proxy for executor
    count); the same code ships unchanged to a real cluster via
    ``spark-submit --py-files`` where ``master`` comes from the submitter.
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cores, 8)

    # SPARK_GRAFT_MASTER overrides the master URL — used by bench_scaling.py
    # to run local-cluster[n, c, mem] (one JVM per executor, the honest proxy
    # for an N-executor cluster; a single local[N] JVM hits GC/allocation
    # contention that real multi-JVM clusters don't have).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime coalesce + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow exchange for every pandas UDF / applyInPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Scan sizing: 128 MiB splits keep 100 TB ≈ 800k tasks, fine for AQE.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executor.memory", os.environ.get("SPARK_GRAFT_EXECUTOR_MEM", "4g"))
    )

    if streaming:
        builder = (
            builder
            # RocksDB keeps streaming state off-heap; mandatory at design scale.
            .config(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            )
            .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        )

    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
