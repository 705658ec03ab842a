"""J2: user→response pairing — the as-of / latest-prior-state join analog
(``internal/transform/trade.go:281-304 findLatestOperationChange``: scan a
key's changes for the closest prior match; re-oriented here as "closest
following response", the stream-stream-join north star).

Batch implementation: a single window pass — for each turn, the first
following assistant/tool turn in the same conversation via
``first(..., ignorenulls)`` over ``rowsBetween(1, unboundedFollowing)``; then
keep only user rows. One shuffle on ``conv_id``, no self-join, no skew
amplification (the window sort reuses the partitioning).

The streaming variants live in :mod:`stellar_etl_spark.streaming`: the
first-response pairing as a sliding-window aggregate
(:func:`stellar_etl_spark.streaming.state.streaming_pairs`), and every
response in the horizon as a native stream-stream join
(:func:`stellar_etl_spark.streaming.pipeline.stream_stream_join_pairs`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

RESPONSE_ROLES = ("assistant", "tool")


def extract_pairs(df: DataFrame, max_lag_sec: int | None = None) -> DataFrame:
    """Pair every user turn with its first following assistant/tool turn.

    Two semantics, both deterministic:

    - ``max_lag_sec=None`` (archive form): first following response by
      ``turn_idx``, regardless of event-time — a single window pass.
    - ``max_lag_sec=N`` (CEP form): first response by ``turn_idx`` whose
      event time falls in ``[user_ts, user_ts + N]`` — the exact batch
      equivalent of the watermark-bounded streaming operator
      (:func:`stellar_etl_spark.streaming.state.streaming_pairs`), whose
      state eviction requires both time bounds. Implemented as a range join
      + ``min_by`` reduction (the batch shape of a stream-stream join).
    """
    if max_lag_sec is not None:
        return _pairs_bounded(df, max_lag_sec)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    resp = F.when(
        F.col("role").isin(*RESPONSE_ROLES),
        F.struct(
            F.col("turn_idx").alias("turn_idx"),
            F.col("role").alias("role"),
            F.col("ts").alias("ts"),
            F.col("text").alias("text"),
        ),
    )
    paired = df.withColumn("resp", F.first(resp, ignorenulls=True).over(w))
    out = paired.where(F.col("role") == "user")
    return out.select(
        "conv_id",
        F.col("turn_idx").alias("user_turn_idx"),
        F.col("ts").alias("user_ts"),
        F.col("text").alias("user_text"),
        F.col("resp.turn_idx").alias("resp_turn_idx"),
        F.col("resp.role").alias("resp_role"),
        F.col("resp.ts").alias("resp_ts"),
        F.col("resp.text").alias("resp_text"),
        (F.unix_timestamp("resp.ts") - F.unix_timestamp("ts"))
        .cast("double")
        .alias("latency_sec"),
    )


def _pairs_bounded(df: DataFrame, max_lag_sec: int) -> DataFrame:
    """Range join + min_by first-response reduction (CEP semantics)."""
    users = df.where(F.col("role") == "user").select(
        "conv_id",
        F.col("turn_idx").alias("user_turn_idx"),
        F.col("ts").alias("user_ts"),
        F.col("text").alias("user_text"),
    )
    resps = df.where(F.col("role").isin(*RESPONSE_ROLES)).select(
        F.col("conv_id").alias("r_conv_id"),
        F.col("turn_idx").alias("resp_turn_idx"),
        F.col("role").alias("resp_role"),
        F.col("ts").alias("resp_ts"),
        F.col("text").alias("resp_text"),
    )
    cond = (
        (users.conv_id == resps.r_conv_id)
        & (resps.resp_turn_idx > users.user_turn_idx)
        & (resps.resp_ts >= users.user_ts)
        & (resps.resp_ts <= users.user_ts + F.expr(f"INTERVAL {max_lag_sec} SECONDS"))
    )
    joined = users.join(resps, cond, "left")
    best = F.min_by(
        F.struct(
            F.col("resp_turn_idx"),
            F.col("resp_role"),
            F.col("resp_ts"),
            F.col("resp_text"),
        ),
        F.col("resp_turn_idx"),
    ).alias("resp")
    agg = joined.groupBy("conv_id", "user_turn_idx", "user_ts", "user_text").agg(best)
    return agg.select(
        "conv_id",
        "user_turn_idx",
        "user_ts",
        "user_text",
        F.col("resp.resp_turn_idx").alias("resp_turn_idx"),
        F.col("resp.resp_role").alias("resp_role"),
        F.col("resp.resp_ts").alias("resp_ts"),
        F.col("resp.resp_text").alias("resp_text"),
        (F.unix_timestamp("resp.resp_ts") - F.unix_timestamp("user_ts"))
        .cast("double")
        .alias("latency_sec"),
    )
