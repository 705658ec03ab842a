"""J6/T20: multi-stream union — the TransformContractEvent analog
(``internal/transform/contract_events.go:21-68``): the reference unions three
event arrays (tx-level, per-operation, diagnostic) into one output table with
a discriminator column.

Our analog unions three derived sub-streams of the transcript into one
timeline table: turn events, tool invocations, and diagnostics (failed turns)
— ``unionByName`` keeps Catalyst free to push the shared scan down once per
branch. In a streaming export each branch re-scans the micro-batch; nothing
caches it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from stellar_etl_spark import toid as toid_mod
from stellar_etl_spark.functions.scalars import is_successful


def extract_timeline(df: DataFrame, conv_seq: Column | None = None) -> DataFrame:
    seq = conv_seq if conv_seq is not None else toid_mod.conv_seq("conv_id")
    base = df.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        "ts",
        toid_mod.toid(seq, "turn_idx").alias("turn_id"),
    )
    failed = ~is_successful(F.col("text"))

    turn_events = base.select(
        "turn_id",
        "conv_id",
        "turn_idx",
        "ts",
        F.lit("turn").alias("event_kind"),
        F.col("role").alias("detail"),
    )
    tool_events = base.where(F.col("role") == "tool").select(
        "turn_id",
        "conv_id",
        "turn_idx",
        "ts",
        F.lit("tool_invocation").alias("event_kind"),
        F.coalesce(F.col("tool"), F.lit("")).alias("detail"),
    )
    diagnostics = base.where(failed).select(
        "turn_id",
        "conv_id",
        "turn_idx",
        "ts",
        F.lit("diagnostic").alias("event_kind"),
        F.lit("error").alias("detail"),
    )
    return turn_events.unionByName(tool_events).unionByName(diagnostics)
