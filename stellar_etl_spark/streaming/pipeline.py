"""Streaming pipeline runner — the ``runLedgerBatchExport`` analog
(``cmd/ledger_batch_export.go:33-96``): source → extractor → windowed
batches → idempotent sink, with checkpoint-resume. Every export, the
shared-scan fan-out and the lenient export included, runs through the one
:func:`run_export`; they differ only in the sink they pass.

Reference semantics preserved:

- bounded ``--start/--end`` range ≈ ``Trigger.AvailableNow`` over the current
  table snapshot, resumable from the checkpoint (``PrepareRange``,
  ``ledger_batch_export.go:65-67``);
- unbounded mode ≈ processing-time trigger, no end (``export_ledger_entry_
  changes.go:72-74`` end=0 → MaxInt32);
- one deterministic output unit per micro-batch ≈ epoch-keyed idempotent
  writes (:mod:`stellar_etl_spark.streaming.sink`);
- ``GetAllHistory`` shared scan fan-out (``input/all_history.go:23-100``) ≈
  a :class:`FanoutSink` feeding each micro-batch to N extractors and sinks;
- strict vs lenient export (``--strict-export``, ``utils/logger.go:17-23``):
  strict raises on invalid rows, lenient (:func:`lenient_sink`) routes them
  to a rejected-rows side output with the failure reason.
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


class FanoutSink:
    """S12 GetAllHistory: every output of one micro-batch, ``{name:
    (extractor, sink)}``. The extractors run on the batch plan, and each
    re-scans the micro-batch: measured on this engine, extractors reading
    Spark's in-memory cache of it ran 3-5x slower than re-scanning parquet
    (the vectorized reader and page cache beat the cache's columnar-to-row
    path)."""

    def __init__(self, outputs: dict[str, tuple[Extractor, IdempotentSink]]):
        self.outputs = outputs

    def __getitem__(self, name: str) -> IdempotentSink:
        return self.outputs[name][1]

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        for ex, sink in self.outputs.values():
            sink.foreach_batch(ex(batch_df), epoch_id)


def lenient_sink(extractor: Extractor, sink: IdempotentSink,
                 rejected_sink: IdempotentSink) -> FanoutSink:
    """K5 lenient export: per micro-batch, the valid rows go through
    ``extractor`` to ``sink`` and the rejected rows, with their failure
    reason, to ``rejected_sink``, instead of killing the query."""
    return FanoutSink({
        "valid": (lambda df: extractor(validate_rows(df, strict=False)[0]), sink),
        "rejected": (lambda df: validate_rows(df, strict=False)[1], rejected_sink),
    })


def run_export(
    spark: SparkSession,
    source_path: str,
    extractor: Extractor | None,
    sink,
    checkpoint: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    timeout_sec: int | None = 600,
    with_listener: bool = False,
    output_mode: str = "append",
) -> dict:
    """Run one streaming export to completion (AvailableNow) or until timeout.

    ``sink`` is any object with ``foreach_batch(df, epoch_id)``: an
    :class:`IdempotentSink`, or a :class:`FanoutSink` with
    ``extractor=None``, which streams the bare file source and runs its
    extractors on each micro-batch.

    ``timeout_sec=None`` waits without deadline — the right setting for
    unbounded (--follow) runs, which must not silently stop after 10 minutes.
    A BOUNDED run that is still active at the deadline raises TimeoutError
    (truncating an AvailableNow export silently would under-report);
    an unbounded run with an explicit timeout stops cleanly at the deadline
    (the documented bounded-follow used by tests).

    The query starts with its state partitions capped at the cores that run
    it. A query takes its state-partition count from
    ``spark.sql.shuffle.partitions`` at ``start()`` and keeps it in its
    checkpoint; AQE does not coalesce state partitions. Above the core count
    each micro-batch's stateful stage runs in more than one serial task wave,
    and every state partition pays a task start-up and a state-store load and
    commit: on 4 cores with the session's 8 partitions the cap took the pairs
    export from 8.2-8.8 s to 4.8-5.9 s. The session value is restored once
    the query has started: batch queries never see the cap, and a resumed
    checkpoint keeps the count it was created with. With ``extractor=None``
    the streamed plan is the bare file source, which holds no state, and the
    query starts uncapped: the cap would only narrow the shuffles of the
    extractors that run on each micro-batch.

    Returns the metrics summary. Killing the process and re-calling with the
    same checkpoint resumes from the last committed offset and rewrites any
    in-flight epoch idempotently (the replay golden test).
    """
    listener = MetricsListener() if with_listener else None
    if listener:
        spark.streams.addListener(listener)
    try:
        src = read_stream(spark, source_path, max_files_per_trigger)
        out = src if extractor is None else extractor(src)
        writer = (
            out.writeStream.foreachBatch(sink.foreach_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode(output_mode)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        cores = spark.sparkContext.defaultParallelism
        cap = {} if extractor is None else {
            "spark.sql.shuffle.partitions": lambda old: str(min(int(old), cores))
        }
        with scoped_conf(spark, cap):
            q = writer.start()
        if timeout_sec is None:
            q.awaitTermination()
        else:
            q.awaitTermination(timeout_sec)
            if q.isActive:
                q.stop()
                if available_now:
                    raise TimeoutError(
                        f"bounded export still running after {timeout_sec}s — "
                        "raise timeout_sec (or pass None) instead of truncating"
                    )
        if not listener:
            return {}
        if not listener.wait_terminated(q.runId):
            raise TimeoutError(f"no termination event for run {q.runId}; summary incomplete")
        return listener.summary(q.runId)
    finally:
        if listener:
            spark.streams.removeListener(listener)


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
    condition). The *first*-response reduction is the sliding-window
    aggregate in :mod:`stellar_etl_spark.streaming.state`; this join form
    is the bulk variant (every response in the horizon)."""
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
    # The turn-order test is wrapped in coalesce(..., false): same rows
    # (a null comparison drops the pair either way), but it is no longer a
    # bare comparison, which StreamingJoinHelper tries to solve for a
    # state-eviction bound and fails on, logging an INTERNAL_ERROR stack
    # trace at every query start. A post-join filter does not help: the
    # optimizer pushes it back into the inner join's condition.
    cond = (
        (users.conv_id == resps.r_conv_id)
        & F.coalesce(resps.resp_turn_idx > users.user_turn_idx, F.lit(False))
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
