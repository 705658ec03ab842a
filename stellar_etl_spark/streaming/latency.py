"""Window-close latency measurement (the BASELINE metric's second half).

Definition used: for each tumbling event-time window, *close latency* is the
wall-clock delay between (a) the arrival of the first data whose event time
pushes the watermark past the window's end — the moment the window is
semantically closed and eligible to emit — and (b) the wall-clock time its
aggregate row is committed by ``foreachBatch``.

Method: the transcript table is split into contiguous event-time slices; a
feeder appends one slice per interval (simulating live arrival) while a
processing-time-triggered query aggregates ``window(ts, W)`` counts in append
mode. The arrival log (wall time, max event ts appended) gives (a); the sink
callback records (b).
"""

from __future__ import annotations

import os
import statistics
import tempfile
import time

from pyspark.sql import SparkSession
import pyspark.sql.functions as F

from stellar_etl_spark.generator import transcripts_df
from stellar_etl_spark.schemas import TRANSCRIPTS
from stellar_etl_spark.session import scoped_conf


def measure_window_close_latency(
    spark: SparkSession,
    n_convs: int = 2000,
    window_sec: int = 10,
    watermark_sec: int = 5,
    feed_slices: int = 6,
    feed_interval_sec: float = 2.0,
    timeout_sec: int = 180,
    agg_partitions: int = 8,
) -> dict:
    tmp = tempfile.mkdtemp(prefix="latency_")
    src = os.path.join(tmp, "src")
    os.makedirs(src, exist_ok=True)

    df = transcripts_df(
        spark, n_convs=n_convs, conv_spacing_sec=1, turn_step_sec=3, disorder_sec=2
    ).cache()
    lo, hi = df.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo).total_seconds() + 1
    slice_sec = span / feed_slices

    commits: dict = {}  # window_end (datetime) -> commit wall time
    arrivals: list[tuple[float, float]] = []  # (wall, max_event_epoch appended)

    def on_batch(bdf, epoch_id):
        wall = time.time()
        for r in bdf.select("window_end").collect():
            commits.setdefault(r["window_end"], wall)

    agg = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", "64")
        .parquet(src)
        .withWatermark("ts", f"{watermark_sec} seconds")
        .groupBy(F.window("ts", f"{window_sec} seconds").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.end").alias("window_end"), "n")
    )

    # seed slice 0 before start so the source dir is non-empty
    def append_slice(i: int) -> None:
        s = df.where(
            (F.unix_timestamp("ts") >= F.unix_timestamp(F.lit(lo)) + i * slice_sec)
            & (F.unix_timestamp("ts") < F.unix_timestamp(F.lit(lo)) + (i + 1) * slice_sec)
        )
        mx = s.agg(F.max("ts")).collect()[0][0]
        s.coalesce(2).write.mode("append").parquet(src)
        if mx is not None:
            arrivals.append((time.time(), mx.timestamp()))

    append_slice(0)
    # The windowed aggregate holds a few hundred tiny windows: running its
    # state on the session's shuffle partitioning (max(cores, 8), 32 on a
    # 32-core session) pays one state store load+commit per partition per
    # 250 ms trigger, which IS most of the close latency at this size.
    # ``agg_partitions`` (8) fixes the count whatever the core count; on a
    # real deployment size it to the stateful load. The setting is scoped
    # to ``start()``, where Spark fixes the query's state partitions.
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(agg_partitions)}):
        q = (
            agg.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", os.path.join(tmp, "ck"))
            .outputMode("append")
            # 250 ms: close latency is (trigger idle wait + batch cost); with
            # the 8-partition state the per-batch cost is ~200 ms, so halving
            # the trigger dropped p50 ~810 -> ~690 ms and p95 ~1080 -> ~790 ms
            # (100 ms measured no better — batch cost floors it)
            .trigger(processingTime="250 milliseconds")
            .start()
        )
    try:
        for i in range(1, feed_slices):
            time.sleep(feed_interval_sec)
            append_slice(i)
        # sentinel pushes the watermark past every real window
        time.sleep(feed_interval_sec)
        sentinel = spark.createDataFrame(
            [("flush", 0, "system", "", None)],
            "conv_id string, turn_idx int, role string, text string, tool string",
        ).withColumn("ts", (F.lit(hi) + F.expr("INTERVAL 1 HOUR")).cast("timestamp"))
        sentinel.select(*[f.name for f in TRANSCRIPTS.fields]).write.mode("append").parquet(src)
        arrivals.append((time.time(), hi.timestamp() + 3600))

        # wait until commits stop arriving (some windows can be empty, so an
        # exact target count would over-wait)
        deadline = time.time() + timeout_sec
        last_n, last_change = 0, time.time()
        while time.time() < deadline:
            time.sleep(0.5)
            if len(commits) != last_n:
                last_n, last_change = len(commits), time.time()
            elif last_n > 0 and time.time() - last_change > 4:
                break
    finally:
        q.stop()

    latencies = []
    for wend, commit_wall in commits.items():
        close_epoch = wend.timestamp() + watermark_sec
        ready = next((wall for wall, mx in arrivals if mx >= close_epoch), None)
        if ready is not None and commit_wall >= ready:
            latencies.append((commit_wall - ready) * 1000.0)
    df.unpersist()
    if not latencies:
        return {"windows": 0}
    latencies.sort()
    return {
        "windows": len(latencies),
        "close_latency_ms_mean": round(statistics.mean(latencies), 1),
        "close_latency_ms_p50": round(latencies[len(latencies) // 2], 1),
        "close_latency_ms_p95": round(latencies[int(len(latencies) * 0.95) - 1], 1),
        "close_latency_ms_max": round(latencies[-1], 1),
    }
