"""SparkSession construction with scale-appropriate defaults.

The reference configures its pipeline with prefetch buffers and worker counts
(``internal/utils/main.go:241-244``); in Spark those knobs become AQE, shuffle
partitioning, Arrow batching, and the streaming state store. Everything here is
public Spark configuration.

Design notes for the 100 TB / 1000-executor target (tested on local[N]):

- AQE on, with skew-join splitting: hot conversations (the "hot ledger"
  analog) are the dominant skew source; AQE splits oversized post-shuffle
  partitions at runtime.
- ``spark.sql.shuffle.partitions`` defaults to ``max(cores, 8)`` here; on a
  real cluster set it ~2-3x total cores (AQE coalesces the excess).
  ``streaming.pipeline.run_export`` caps its query's state partitions at the
  core count, because AQE cannot coalesce state partitions.
- Arrow enabled for all pandas UDF exchange; batch size bounded so grouped-map
  state per task stays in memory.
- RocksDB state store provider for streaming state (bundled with Spark 4):
  session-window and stream-stream-join state at 10^12-turn scale cannot live
  on the JVM heap.
- A local session that launches its own JVM reads and writes ``file://``
  through the NIO filesystem in ``jvm/`` (``fs.file.impl`` and
  ``fs.AbstractFileSystem.file.impl``). Without the Hadoop native library
  the stock local filesystem starts a ``chmod`` process for every file and
  directory it creates and a ``readlink`` process for every
  ``getFileLinkStatus``: one checkpoint ``createAtomic`` (every offsets,
  commits and state-changelog file) started 20 processes and took 55 ms,
  against none and 3.6 ms through system calls. Same files, ``.crc``
  sidecars, permission bits, atomic rename and fsync. The jar is compiled
  once per checkout into ``jvm/build/``. A ``spark-submit``'d driver (its
  JVM already runs), a non-local master, or no ``javac`` keeps the stock
  filesystem.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import threading
import zipfile
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_log = logging.getLogger(__name__)
_JVM_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
# the py4j gateway of the JVM that get_spark launched with the NIO jar
_nio_gateway = None


def _nio_fs_jar() -> str:
    """Path of the NIO filesystem jar, compiled on first use. It is named by
    a hash of the sources and the Hadoop jar, so later runs of the same
    checkout reuse it, and renamed into place whole, so concurrent builds
    are safe."""
    from pyspark.find_spark_home import _find_spark_home

    hadoop = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    sources = sorted(glob.glob(os.path.join(_JVM_SRC, "*.java")))
    if len(hadoop) != 1 or not sources:
        raise RuntimeError("no single hadoop-client-api jar, or no sources")
    digest = hashlib.sha256(f"{os.path.basename(hadoop[0])}:{os.path.getsize(hadoop[0])}".encode())
    for p in sources:
        with open(p, "rb") as f:
            digest.update(f.read())
    build = os.path.join(_JVM_SRC, "build")
    jar = os.path.join(build, f"nio-local-fs-{digest.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError("no javac to build it")
    os.makedirs(build, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=build) as tmp:
        classes = os.path.join(tmp, "classes")
        subprocess.run([javac, "--release", "17", "-cp", hadoop[0], "-d", classes, *sources],
                       check=True, capture_output=True)
        with zipfile.ZipFile(os.path.join(tmp, "fs.jar"), "w") as z:
            for root, _, names in os.walk(classes):
                for n in names:
                    z.write(os.path.join(root, n), os.path.relpath(os.path.join(root, n), classes))
        os.replace(os.path.join(tmp, "fs.jar"), jar)
    return jar


def _nio_fs_conf(master: str) -> dict[str, str]:
    """Settings that register the NIO filesystem, when this call launches
    the JVM (or reuses one that get_spark launched with the jar) on a local
    master; otherwise {} and one log line. ``extraClassPath`` only reaches a
    JVM that is still to be started: a ``spark-submit``'d driver's JVM
    already runs, and registering the class there fails every file access."""
    if SparkContext._active_spark_context is not None:
        return {}  # getOrCreate keeps the running context's filesystem
    if not master.startswith("local"):
        why = f"master {master} is not local"
    elif "PYSPARK_GATEWAY_PORT" in os.environ:
        why = "the driver JVM already runs (spark-submit)"
    elif SparkContext._gateway is not None and SparkContext._gateway is not _nio_gateway:
        why = "the running JVM was started without the NIO jar"
    else:
        try:
            jar = _nio_fs_jar()
        except (OSError, RuntimeError, subprocess.SubprocessError) as e:
            why = f"the NIO filesystem is unavailable: {e}"
        else:
            return {
                "spark.driver.extraClassPath": jar,
                # local-cluster executors are JVMs of their own
                "spark.executor.extraClassPath": jar,
                "spark.hadoop.fs.file.impl": "stellaretl.fs.NioLocalFileSystem",
                "spark.hadoop.fs.AbstractFileSystem.file.impl": "stellaretl.fs.NioLocalFs",
            }
    _log.info("stock Hadoop local filesystem: %s", why)
    return {}


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

    nio = _nio_fs_conf(master)
    for k, v in nio.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        if k.endswith("extraClassPath") and k in nio:
            v = nio[k] + os.pathsep + v
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    if nio:
        global _nio_gateway
        _nio_gateway = SparkContext._gateway
    spark.sparkContext.setLogLevel("WARN")
    # Every streaming query start warns that AQE is not supported in
    # streaming plans. Expected: AQE stays on for the FanoutSink extractors'
    # batch plans, so silence that one logger by name.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark


# One lock for every scoped change of session settings in this process.
_CONF_LOCK = threading.RLock()


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str | Callable[[str], str]]):
    """Set session SQL settings for the body of the ``with`` block, then
    restore the previous values.

    A value may be a function of the current value (``lambda old: ...``).
    The lock is held from the save to the restore: two threads that change
    the same setting would otherwise each restore the other's temporary
    value. It is reentrant, so a scope may open inside another on the same
    thread. A scope blocks every other thread's scope, and so every
    ``run_export`` start, for as long as it is open: keep it short, and
    never open one in a ``foreachBatch`` callback of a query started inside
    another thread's scope (the callback would wait on the lock the starting
    thread holds until the query ends)."""
    with _CONF_LOCK:
        old = {k: spark.conf.get(k) for k in settings}
        for k, v in settings.items():
            spark.conf.set(k, v(old[k]) if callable(v) else v)
        try:
            yield
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
