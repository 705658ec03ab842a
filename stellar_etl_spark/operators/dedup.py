"""A2/A4: dedup and last-state compaction.

- A2 run-scoped first-seen dedup (``cmd/export_assets.go:29-57`` — a closure
  ``seenIDs`` map spanning the whole run): first occurrence per key wins, in
  a deterministic order.
- A4 ChangeCompactor (``internal/input/changes.go:102-135`` via the SDK's
  ``ingest.NewChangeCompactor``): last state per key per batch
  (CREATE+UPDATE→CREATE, UPDATE+REMOVE→REMOVE — i.e. keep the latest row,
  the earlier ones collapse into it).

Both are a single ``row_number`` pass — one shuffle on the key. At scale the
shuffle is unavoidable (dedup is a global property) but AQE splits skewed
keys; the streaming variant (``dropDuplicatesWithinWatermark``) bounds
state by the watermark.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F


def first_seen_dedup(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column | str] | None = None
) -> DataFrame:
    """Keep the first row per key. ``order`` defines "first" deterministically
    (default: event time then turn_idx); plain ``dropDuplicates`` would be
    nondeterministic under retries, which breaks golden replay."""
    order = list(order) if order is not None else [F.col("ts").asc(), F.col("turn_idx").asc()]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def compact_last_state(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column | str] | None = None
) -> DataFrame:
    """Keep the latest row per key (ChangeCompactor semantics)."""
    order = (
        list(order)
        if order is not None
        else [F.col("ts").desc(), F.col("turn_idx").desc()]
    )
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def streaming_first_seen_dedup(df: DataFrame, keys: Sequence[str], watermark: str) -> DataFrame:
    """Streaming A2: watermark-bounded state eviction — late duplicates beyond
    the watermark are the documented deviation (reference input is totally
    ordered so it never drops)."""
    return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(list(keys))
