"""Stateful streaming operators, both Spark-native streaming aggregates
(no Python worker), mirroring the reference's cross-batch state machinery:

- :func:`streaming_pairs` — the J2 stateful stream-stream join (north star):
  user turns paired with their first following assistant/tool response
  (``transform/trade.go:281-304 findLatestOperationChange`` re-oriented to
  "first following"). An append-mode sliding-window aggregate: a pair is
  emitted once the watermark closes the window that holds the user's whole
  candidate range, and the watermark evicts that window's state.
- :func:`running_conversation_state` — the A6 orderbook-state analog
  (``internal/input/orderbooks.go:194-209 UpdateOrderbook``): a per-key
  accumulator folded across micro-batches, emitting a snapshot per batch.
  It only counts, sums and takes maxima, so it is Spark's update-mode
  ``groupBy().agg()`` — the state store holds the partial aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from stellar_etl_spark.operators.pairs import RESPONSE_ROLES


def streaming_pairs(
    df: DataFrame, watermark: str = "2 minutes", max_lag_sec: int = 300
) -> DataFrame:
    """Watermark-bounded user→response pairing as one native append-mode
    sliding-window aggregate — no Python worker.

    Each conversation's turns are grouped into windows of ``2·lag`` sliding
    by ``lag``, every window collecting its user and response turns. A
    window *owns* the user turns with ``ts < window.start + lag``, so each
    user is emitted exactly once, by the one window that holds its whole
    candidate range ``[user_ts, user_ts + lag]``. Its match is the smallest
    ``turn_idx`` among the window's responses with ``turn_idx > user`` and
    ``user_ts <= ts <= user_ts + lag``. The window's turns are sorted once
    (struct order puts ``turn_idx`` first), so each user's later responses
    start at a known index. A user tests its next 8 of them, then 64, 512
    and all, stopping at the first span that answers it. When the window's
    response times follow turn order, a next response that is too late
    means every later one is too, and the user is unanswered at once.

    Matches :func:`stellar_etl_spark.operators.pairs.extract_pairs`
    (``max_lag_sec`` variant) exactly when event-time disorder stays within
    the watermark — the golden equivalence pinned in tests.

    - **State** is bounded by event time: about 3 open windows per active
      conversation, each holding its turns (every turn sits in 2 windows).
    - **Emission.** A pair is emitted when the watermark passes its
      window's end, which in an unbounded run can be up to ``max_lag_sec``
      of event time later than a per-user timer would. Bounded exports
      (flushed by a far-future row) produce the same final rows.
    - **Late rows.** A turn that arrives after the watermark has closed its
      windows is dropped and counted in ``numRowsDroppedByWatermark``, as
      in every windowed aggregate.
    - **Cost.** One sort per window, then O(1) work for a user answered
      among its next 8 responses or unanswered in an in-order window. Only
      users that go unanswered, or are answered past their next 512
      responses, in a window whose response times are out of turn order
      scan the window's later responses, so a window of many such users
      costs O(users × responses) in interpreted higher-order functions.
      One conversation of 10,000 in-order turns in 500 s took 1.7-1.8 s
      against 2.3-2.6 s for the former ``applyInPandasWithState`` matcher,
      and 30,000 turns with ±60 s of disorder 1.7-1.8 s against 2.3-2.7 s
      (4 cores, RocksDB, warm runs, one micro-batch).

    Do not filter roles before the aggregate: Spark pushes a filter that
    does not reference ``ts`` below ``withWatermark``, so it would drop the
    far-future flush row and the last windows would never close. The role
    test lives inside ``collect_list`` instead.

    Negative results (4 cores, RocksDB, the perfbench ``export_stateful``
    shape):

    - A left-outer stream-stream range join followed by an append-mode
      ``min_by`` aggregate was slower than the pandas matcher (warm 4.8-5.2
      s against 4.3-4.5 s) with 12x its peak state.
    - Testing every response of the window for every user, one
      ``array_min(filter(...))`` each, is O(users × responses): one
      conversation of 10,000 turns in 500 s took 6.0-6.2 s against the
      pandas matcher's 2.7 s.
    - ``applyInPandasWithState`` spent most of its time starting Python
      workers (190-550 ms per task invocation, twice per task), not
      matching. ``transformWithStateInPandas`` was not tried: it still
      starts a Python runner per state partition in every micro-batch.
    """
    lag = F.expr(f"INTERVAL {max_lag_sec} SECONDS")
    turn = F.when(
        F.col("role").isin("user", *RESPONSE_ROLES),
        F.struct("turn_idx", "role", "ts", "text"),
    )
    windows = (
        df.withWatermark("ts", watermark)
        .groupBy("conv_id", F.window("ts", f"{2 * max_lag_sec} seconds", f"{max_lag_sec} seconds"))
        .agg(F.sort_array(F.collect_list(turn)).alias("turns"))
    )
    # Responses in turn order, and each user with the number of responses
    # before it, which is the index of its first later response.
    indexed = F.transform("turns", lambda t, i: F.struct(t.alias("u"), i.alias("i")))
    users = F.transform(
        F.filter(indexed, lambda x: x.u.role == "user"),
        lambda x, j: F.struct(x.u.alias("u"), (x.i - j).alias("n")),
    )
    resps = F.filter("turns", lambda t: t.role != "user")
    resp_ts = F.transform("resps", lambda r: r.ts)
    windows = windows.select(
        "conv_id", "window", users.alias("users"), resps.alias("resps")
    ).withColumn("in_order", resp_ts == F.sort_array(resp_ts))

    def match(u, n):
        def hit(r):
            return (r.turn_idx > u.turn_idx) & r.ts.between(u.ts, u.ts + lag)

        # Only a user whose next response is too late, in a window whose
        # response times follow turn order, is certainly unanswered. Others
        # test their next 8 responses, then 64, 512 and all of them: most
        # are answered by one of the first few.
        late = F.col("in_order") & (F.get("resps", n).ts > u.ts + lag)
        spans = (8, 64, 512, F.size("resps") - n)
        firsts = [F.array_min(F.filter(F.slice("resps", n + 1, k), hit)) for k in spans]
        return F.when(~late, F.coalesce(*firsts))

    owned = F.col("window.start") + lag
    pairs = F.transform(
        F.filter("users", lambda x: x.u.ts < owned),
        lambda x: F.struct(x.u.alias("u"), match(x.u, x.n).alias("r")),
    )
    return windows.select("conv_id", F.explode(pairs).alias("p")).select(
        "conv_id",
        F.col("p.u.turn_idx").alias("user_turn_idx"),
        F.col("p.u.ts").alias("user_ts"),
        F.col("p.u.text").alias("user_text"),
        F.col("p.r.turn_idx").alias("resp_turn_idx"),
        F.col("p.r.role").alias("resp_role"),
        F.col("p.r.ts").alias("resp_ts"),
        F.col("p.r.text").alias("resp_text"),
        (F.unix_timestamp("p.r.ts") - F.unix_timestamp("p.u.ts"))
        .cast("double")
        .alias("latency_sec"),
    )


# --------------------------------------------------------------------------
# A6: running per-conversation accumulator
# --------------------------------------------------------------------------
def running_conversation_state(df: DataFrame, watermark: str = "2 minutes") -> DataFrame:
    """Cross-batch accumulating snapshot per conversation (update-mode).

    Counts, sums and maxima only, so Spark's native streaming aggregate
    carries the state — no Python worker. The grouping key holds no
    event-time column, so the watermark neither filters late rows nor evicts
    state: every row is counted, as in the reference's fold."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count(F.when(F.col("role") == "user", 1)).alias("n_user"),
            F.max("turn_idx").alias("max_turn_idx"),
            F.sum(F.length(F.coalesce("text", F.lit("")))).alias("total_chars"),
            F.max("ts").alias("last_ts"),
        )
    )
