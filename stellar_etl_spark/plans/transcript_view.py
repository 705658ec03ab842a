"""Canonical events → transcripts derivation, expressed twice with identical
semantics: once as Spark DataFrame ops, once as a DuckDB CTE.

The driver's correctness harness (CORRECTNESS_r{N}.json) compares each Spark
query against ANSI-SQL run by DuckDB over the same parquet tables. The engine's
native input is the transcripts table (BASELINE.json input_hint); the driver's
tables don't include one, so both engines derive the *same* transcripts view
from ``events`` deterministically:

- ``conv_id``  = 'conv_%08d' % user_id        (conversation ≈ user's event stream)
- ``turn_idx`` = dense 0-based position by (ts, event_id) within user
- ``role``     = click→user, view→assistant, signup→system, purchase/error→tool
- ``text``     = props, with 'error: ' prefix for error events (failed-turn analog)
- ``tool``     = event_type for tool turns, else NULL
- ``ts``       = event ts
- ``conv_seq`` = user_id (SQL-reproducible stand-in for the xxhash64 conv seq,
  which DuckDB cannot reproduce; the engine's extractors take conv_seq as an
  override column for exactly this reason)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F


def ensure_utc(spark: SparkSession) -> None:
    """Epoch-second derivations (unix_timestamp, window bucketing) must agree
    with DuckDB's tz-naive epoch(); pin the session to UTC — the driver's
    session config is not ours to assume."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def spread_scan(df: DataFrame, key: str, partitions: int) -> DataFrame:
    """Spread an UNSPLITTABLE input across the machine: when the scan has
    fewer than ``max(cores // 2, 2)`` partitions, add ONE hash exchange on
    ``key`` into ``partitions`` partitions; otherwise return ``df`` as is.

    A single-row-group parquet file scans as ONE task no matter what
    ``maxPartitionBytes`` says (splits map to row groups), so every heavy
    narrow projection stacked on it — regex quality features, shingling,
    O(dim) vector folds, the turn projection — runs serially while the other
    cores idle (guide §2.5 "input skew ... one huge unsplittable file:
    repartition immediately after the read"; measured 10.4 -> 2.5 s on
    doc_quality at sf1.0). At real scale inputs arrive as many
    files/row-groups, the gate never fires, and the plan is unchanged (both
    cases pinned in tests/test_plans.py)."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(cores // 2, 2):
        df = df.repartition(partitions, F.col(key))
    return df


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_utc(spark)
    # Hash(user_id) at the session's shuffle partitioning means the turn_idx
    # window below REUSES the spread's exchange (same key, same count: zero
    # extra shuffles for window consumers), while consumers that prune the
    # window — token explodes like conv_token_kmv, partial aggregations —
    # get parallel rows.
    ev = spread_scan(
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        "user_id",
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    role = (
        F.when(F.col("event_type") == "click", F.lit("user"))
        .when(F.col("event_type") == "view", F.lit("assistant"))
        .when(F.col("event_type") == "signup", F.lit("system"))
        .otherwise(F.lit("tool"))
    )
    text = F.when(
        F.col("event_type") == "error", F.concat(F.lit("error: "), F.col("props"))
    ).otherwise(F.col("props"))
    tool = F.when(F.col("event_type").isin("purchase", "error"), F.col("event_type"))
    return ev.select(
        F.format_string("conv_%08d", F.col("user_id")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        tool.alias("tool"),
        F.col("ts"),
        F.col("user_id").cast("long").alias("conv_seq"),
    )


# DuckDB CTE with the same semantics, to prefix every oracle query.
TRANSCRIPTS_CTE = """
WITH transcripts AS (
  SELECT
    printf('conv_%08d', user_id) AS conv_id,
    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
    CASE event_type
      WHEN 'click' THEN 'user'
      WHEN 'view' THEN 'assistant'
      WHEN 'signup' THEN 'system'
      ELSE 'tool'
    END AS role,
    CASE WHEN event_type = 'error' THEN 'error: ' || props ELSE props END AS text,
    CASE WHEN event_type IN ('purchase', 'error') THEN event_type END AS tool,
    ts,
    CAST(user_id AS BIGINT) AS conv_seq
  FROM events
)
"""
