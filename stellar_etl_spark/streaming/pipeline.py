"""Streaming pipeline runner — the ``runLedgerBatchExport`` analog
(``cmd/ledger_batch_export.go:33-96``): source → extractor(s) → windowed
batches → idempotent sink, with checkpoint-resume, strict/lenient error
routing and a shared-scan fan-out mode.

Reference semantics preserved:

- bounded ``--start/--end`` range ≈ ``Trigger.AvailableNow`` over the current
  table snapshot, resumable from the checkpoint (``PrepareRange``,
  ``ledger_batch_export.go:65-67``);
- unbounded mode ≈ processing-time trigger, no end (``export_ledger_entry_
  changes.go:72-74`` end=0 → MaxInt32);
- one deterministic output unit per micro-batch ≈ epoch-keyed idempotent
  writes (:mod:`stellar_etl_spark.streaming.sink`);
- ``GetAllHistory`` shared scan fan-out (``input/all_history.go:23-100``) ≈
  ``foreachBatch`` persisting the input once and feeding N extractors;
- strict vs lenient export (``--strict-export``, ``utils/logger.go:17-23``):
  strict raises on invalid rows, lenient routes them to a rejected-rows side
  output with the failure reason.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from stellar_etl_spark.operators.pairs import RESPONSE_ROLES
from stellar_etl_spark.session import scoped_conf
from stellar_etl_spark.sources.transcripts import read_stream
from stellar_etl_spark.streaming.listener import MetricsListener
from stellar_etl_spark.streaming.sink import IdempotentSink

Extractor = Callable[[DataFrame], DataFrame]


def run_export(
    spark: SparkSession,
    source_path: str,
    extractor: Extractor,
    sink: IdempotentSink,
    checkpoint: str,
    watermark: str | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    timeout_sec: int | None = 600,
    with_listener: bool = False,
    output_mode: str = "append",
) -> dict:
    """Run one streaming export to completion (AvailableNow) or until timeout.

    ``timeout_sec=None`` waits without deadline — the right setting for
    unbounded (--follow) runs, which must not silently stop after 10 minutes.
    A BOUNDED run that is still active at the deadline raises TimeoutError
    (truncating an AvailableNow export silently would under-report);
    an unbounded run with an explicit timeout stops cleanly at the deadline
    (the documented bounded-follow used by tests).

    Returns the metrics summary. Killing the process and re-calling with the
    same checkpoint resumes from the last committed offset and rewrites any
    in-flight epoch idempotently (the replay golden test).
    """
    listener = MetricsListener() if with_listener else None
    if listener:
        spark.streams.addListener(listener)
    try:
        src = read_stream(spark, source_path, max_files_per_trigger)
        if watermark:
            src = src.withWatermark("ts", watermark)
        out = extractor(src)
        writer = (
            out.writeStream.foreachBatch(sink.foreach_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode(output_mode)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = _start(spark, writer)
        if available_now:
            _await_bounded(q, timeout_sec)
        elif timeout_sec is None:
            q.awaitTermination()
        else:
            # unbounded run with an explicit deadline stops cleanly at it —
            # the documented bounded-follow mode used by tests
            q.awaitTermination(timeout_sec)
            if q.isActive:
                q.stop()
        if not listener:
            return {}
        if not listener.wait_terminated(q.runId):
            raise TimeoutError(f"no termination event for run {q.runId}; summary incomplete")
        return listener.summary(q.runId)
    finally:
        if listener:
            spark.streams.removeListener(listener)


def run_fanout_export(
    spark: SparkSession,
    source_path: str,
    extractors: dict[str, Extractor],
    sink_root: str,
    checkpoint: str,
    keys: dict[str, tuple[str, ...]] | None = None,
    timeout_sec: int | None = 600,
    max_files_per_trigger: int | None = None,
    persist_batch: bool = False,
    output_partitions: int | None = None,
    fmt: str = "parquet",
) -> dict[str, IdempotentSink]:
    """S12 GetAllHistory: one scan, N extractor outputs per micro-batch.

    ``persist_batch`` caches the micro-batch so each extractor reads it once
    — worth it when the source scan is expensive (remote object store). For
    local/columnar sources leave it off: measured on this engine, extractors
    reading Spark's in-memory cache run 3-5x SLOWER than re-scanning parquet
    (the vectorized reader + page cache beat the cache's columnar→row path),
    so the default re-scans.

    ``timeout_sec`` follows :func:`run_export` semantics exactly: ``None``
    waits without deadline; a bounded (AvailableNow) run still active at the
    deadline raises TimeoutError instead of silently truncating and then
    reporting per-sink counts as if complete.

    ``output_partitions`` coalesces each extractor's output before the write —
    the input micro-batch arrives in one partition per source file (thousands
    for a day-partitioned table), and writing one tiny zstd file per split is
    the measured bottleneck of the export stage (+75% throughput from
    ``coalesce(32)`` when CPU-bound, BENCH/ADDENDA.md)."""
    sinks = {
        name: IdempotentSink(
            f"{sink_root}/{name}",
            (keys or {}).get(name, ("conv_id", "turn_idx")),
            output_partitions=output_partitions,
            fmt=fmt,
        )
        for name in extractors
    }

    def fanout(batch_df: DataFrame, epoch_id: int) -> None:
        if persist_batch:
            batch_df.persist()
        try:
            for name, ex in extractors.items():
                sinks[name].foreach_batch(ex(batch_df), epoch_id)
        finally:
            if persist_batch:
                batch_df.unpersist()

    src = read_stream(spark, source_path, max_files_per_trigger)
    q = (
        src.writeStream.foreachBatch(fanout)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q, timeout_sec)
    return sinks


def _start(spark: SparkSession, writer):
    """Start a streaming query with its state partitions capped at the
    cores that run it.

    A query takes its state-partition count from
    ``spark.sql.shuffle.partitions`` at ``start()`` and keeps it in its
    checkpoint; AQE does not coalesce state partitions. Above the core count
    each micro-batch's stateful stage runs in more than one serial task wave,
    and every state partition pays the Python runner's per-task start-up
    (150-370 ms measured) and a state-store load and commit. On 4 cores with
    the session's 8 partitions the cap took the pairs export from 8.2-8.8 s
    to 4.8-5.9 s. The session value is restored once the query has started:
    batch queries never see the cap, and a resumed checkpoint keeps the
    count it was created with. Only ``run_export`` starts through here: the
    fan-out and validated exports hold no state, and the cap would only
    narrow their extractors' shuffles."""
    cap = spark.sparkContext.defaultParallelism
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": lambda old: str(min(int(old), cap))}):
        return writer.start()


def _await_bounded(q, timeout_sec: int | None) -> None:
    """Wait for a bounded (AvailableNow) query; overrunning an explicit
    deadline is an ERROR, never a silent truncation."""
    if timeout_sec is None:
        q.awaitTermination()
        return
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
        raise TimeoutError(
            f"bounded export still running after {timeout_sec}s — "
            "raise timeout_sec (or pass None) instead of truncating"
        )


def run_validated_export(
    spark: SparkSession,
    source_path: str,
    extractor: Extractor,
    sink: IdempotentSink,
    rejected_sink: IdempotentSink,
    checkpoint: str,
    strict: bool = False,
    timeout_sec: int | None = 600,
) -> None:
    """K5 lenient mode, end-to-end: per micro-batch, split valid/rejected
    (validation runs on the batch plan, so rejected rows route to their own
    epoch-keyed sink with the failure reason instead of killing the query;
    strict=True keeps the reference's fatal behavior)."""

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        valid, rejected = validate_rows(batch_df, strict=strict)
        sink.foreach_batch(extractor(valid), epoch_id)
        if rejected is not None:
            rejected_sink.foreach_batch(rejected, epoch_id)

    src = read_stream(spark, source_path)
    q = (
        src.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    _await_bounded(q, timeout_sec)


# -- K5 strict/lenient row validation ---------------------------------------
def _validity():
    # lazy: F.col needs an active session in classic mode
    return (
        F.col("conv_id").isNotNull()
        & F.col("ts").isNotNull()
        & (F.col("turn_idx") >= 0)
        & F.col("role").isin("user", "assistant", "tool", "system")
    )


def validate_rows(df: DataFrame, strict: bool = True) -> tuple[DataFrame, DataFrame | None]:
    """Split input into (valid, rejected). Strict mode instead injects a
    ``raise_error`` that kills the query on the first invalid row — the
    reference's fatal path (``cmd/process_ledger_fatal_test.go:16-65``)."""
    if strict:
        # the guard rides on conv_id (every downstream plan keeps it) so
        # column pruning cannot optimize the raise_error away
        checked = df.withColumn(
            "conv_id",
            F.when(_validity(), F.col("conv_id")).otherwise(
                F.raise_error(
                    F.format_string(
                        "strict-export: invalid row conv_id=%s turn_idx=%s",
                        F.coalesce(F.col("conv_id"), F.lit("<null>")),
                        F.col("turn_idx").cast("string"),
                    )
                )
            ),
        )
        return checked, None
    valid = df.where(_validity())
    rejected = df.where(~F.coalesce(_validity(), F.lit(False))).withColumn(
        "_reject_reason",
        F.when(F.col("conv_id").isNull(), F.lit("null conv_id"))
        .when(F.col("ts").isNull(), F.lit("null ts"))
        .when(F.col("turn_idx").isNull() | (F.col("turn_idx") < 0), F.lit("invalid turn_idx"))
        .otherwise(F.lit("unknown role")),
    )
    return valid, rejected


# -- native watermark-bounded stream-stream join (J2, join form) -------------
def stream_stream_join_pairs(
    df: DataFrame, watermark: str = "2 minutes", horizon_sec: int = 300
) -> DataFrame:
    """All (user, response) pairs within the event-time horizon via Spark's
    native stream-stream inner join (state bounded by watermark + range
    condition). The *first*-response reduction is the stateful operator in
    :mod:`stellar_etl_spark.streaming.state`; this join form is the bulk
    variant (every response in the horizon)."""
    users = (
        df.where(F.col("role") == "user")
        .select(
            F.col("conv_id"),
            F.col("turn_idx").alias("user_turn_idx"),
            F.col("ts").alias("user_ts"),
            F.col("text").alias("user_text"),
        )
        .withWatermark("user_ts", watermark)
    )
    resps = (
        df.where(F.col("role").isin(*RESPONSE_ROLES))
        .select(
            F.col("conv_id").alias("r_conv_id"),
            F.col("turn_idx").alias("resp_turn_idx"),
            F.col("role").alias("resp_role"),
            F.col("ts").alias("resp_ts"),
            F.col("text").alias("resp_text"),
        )
        .withWatermark("resp_ts", watermark)
    )
    cond = (
        (users.conv_id == resps.r_conv_id)
        & (resps.resp_turn_idx > users.user_turn_idx)
        & (resps.resp_ts >= users.user_ts)
        & (resps.resp_ts <= users.user_ts + F.expr(f"INTERVAL {horizon_sec} SECONDS"))
    )
    return users.join(resps, cond, "inner").select(
        "conv_id",
        "user_turn_idx",
        "user_ts",
        "user_text",
        "resp_turn_idx",
        "resp_role",
        "resp_ts",
        "resp_text",
        (F.unix_timestamp("resp_ts") - F.unix_timestamp("user_ts"))
        .cast("double")
        .alias("latency_sec"),
    )
