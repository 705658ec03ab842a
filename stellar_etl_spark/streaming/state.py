"""Stateful streaming operators: one ``applyInPandasWithState`` matcher and
one native streaming aggregate, mirroring the reference's cross-batch state
machinery:

- :func:`streaming_pairs` — the J2 stateful stream-stream join (north star):
  user turns paired with their first following assistant/tool response,
  watermark-bounded, emitted only once the watermark proves the response set
  complete (``transform/trade.go:281-304 findLatestOperationChange`` re-
  oriented to "first following", with the event-time-timeout discipline the
  reference never needs because its input is totally ordered).
- :func:`running_conversation_state` — the A6 orderbook-state analog
  (``internal/input/orderbooks.go:194-209 UpdateOrderbook``): a per-key
  accumulator folded across micro-batches, emitting a snapshot per batch.
  It only counts, sums and takes maxima, so it is Spark's update-mode
  ``groupBy().agg()`` — the state store holds the partial aggregates.

The matcher's state is Arrow-exchanged pandas (no per-row Python), keyed by
``conv_id``; its size is bounded by the watermark: a buffered row is evicted
as soon as the watermark proves no future row can pair with it.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    ArrayType,
    DoubleType,
)

from stellar_etl_spark.operators.pairs import RESPONSE_ROLES

PAIRS_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("user_turn_idx", IntegerType()),
        StructField("user_ts", TimestampType()),
        StructField("user_text", StringType()),
        StructField("resp_turn_idx", IntegerType()),
        StructField("resp_role", StringType()),
        StructField("resp_ts", TimestampType()),
        StructField("resp_text", StringType()),
        StructField("latency_sec", DoubleType()),
    ]
)

# Buffered turns per conversation, columnar (arrays align by position).
PAIRS_STATE = StructType(
    [
        StructField("turn_idx", ArrayType(IntegerType())),
        StructField("role", ArrayType(StringType())),
        StructField("ts_us", ArrayType(LongType())),
        StructField("text", ArrayType(StringType())),
    ]
)


def _pairs_fn(max_lag_sec: int):
    lag_us = max_lag_sec * 1_000_000

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        conv_id = key[0]
        if state.exists:
            t0, r0, u0, x0 = state.get
            turn = np.asarray(t0, dtype=np.int64)
            role = np.asarray(r0, dtype=object)
            ts_us = np.asarray(u0, dtype=np.int64)
            text = np.asarray(x0, dtype=object)
        else:
            turn = np.empty(0, np.int64)
            role = np.empty(0, object)
            ts_us = np.empty(0, np.int64)
            text = np.empty(0, object)

        if not state.hasTimedOut:
            for pdf in pdfs:
                if pdf.empty:
                    continue
                m = (pdf["role"] == "user") | pdf["role"].isin(RESPONSE_ROLES)
                pdf = pdf[m]
                if pdf.empty:
                    continue
                turn = np.concatenate([turn, pdf["turn_idx"].to_numpy(np.int64)])
                role = np.concatenate([role, pdf["role"].to_numpy(dtype=object)])
                ts_us = np.concatenate(
                    [ts_us, (pdf["ts"].astype("int64") // 1000).to_numpy(np.int64)]
                )
                text = np.concatenate([text, pdf["text"].to_numpy(dtype=object)])
        else:
            # consume the (empty) iterator per API contract
            for _ in pdfs:
                pass

        wm_us = state.getCurrentWatermarkMs() * 1000
        order = np.argsort(turn, kind="stable")  # turn order
        turn, role, ts_us, text = turn[order], role[order], ts_us[order], text[order]

        is_user = role == "user"
        # buffered rows are only user|response, so responses = the complement;
        # they inherit turn-sorted order
        rt, ru = turn[~is_user], ts_us[~is_user]
        rrole, rtext = role[~is_user], text[~is_user]

        # response set complete once the watermark passes user_ts + lag
        emit = is_user & (ts_us + lag_us <= wm_us)
        eidx = np.nonzero(emit)[0]

        out = None
        if len(eidx):
            t_e, u_e = turn[eidx], ts_us[eidx]
            match_pos = np.full(len(eidx), -1, np.int64)
            if len(rt):
                # match = MIN resp turn_idx with rt > t and u <= ru <= u+lag
                start = np.searchsorted(rt, t_e, side="right")
                if np.all(np.diff(ru) >= 0):
                    # fast path: response event time monotone in turn order —
                    # the valid window is an index interval, two searchsorteds
                    a = np.searchsorted(ru, u_e, side="left")
                    b = np.searchsorted(ru, u_e + lag_us, side="right")
                    first = np.maximum(start, a)
                    ok = first < b
                    match_pos[ok] = first[ok]
                else:
                    # disorder broke ts monotonicity: chunked C-speed scan,
                    # memory bounded at CH * len(rt) bools
                    CH = 512
                    for c0 in range(0, len(eidx), CH):
                        sl = slice(c0, min(c0 + CH, len(eidx)))
                        m = (
                            (rt[None, :] > t_e[sl][:, None])
                            & (ru[None, :] >= u_e[sl][:, None])
                            & (ru[None, :] <= (u_e[sl] + lag_us)[:, None])
                        )
                        any_ = m.any(axis=1)
                        match_pos[sl] = np.where(any_, m.argmax(axis=1), -1)
            has = match_pos >= 0
            # rt may be EMPTY (a conversation with users but no buffered
            # responses yet) — taking rt[mp] would fault even though every
            # row is unmatched; index a guaranteed-nonempty dummy instead
            if len(rt):
                mp = np.where(has, match_pos, 0)
                rt_m, ru_m, rrole_m, rtext_m = rt[mp], ru[mp], rrole[mp], rtext[mp]
            else:
                rt_m = np.zeros(len(eidx), np.int64)
                ru_m = np.zeros(len(eidx), np.int64)
                rrole_m = np.full(len(eidx), None, dtype=object)
                rtext_m = np.full(len(eidx), None, dtype=object)

            def nullable(vals: np.ndarray) -> np.ndarray:
                o = vals.astype(object)
                o[~has] = None
                return o

            resp_ts = pd.Series(pd.to_datetime(ru_m, unit="us"))
            resp_ts[~has] = pd.NaT
            latency = np.where(
                has, (ru_m // 1_000_000 - u_e // 1_000_000).astype(np.float64), np.nan
            )
            out = pd.DataFrame(
                {
                    "conv_id": np.repeat(conv_id, len(eidx)),
                    "user_turn_idx": t_e,
                    "user_ts": pd.to_datetime(u_e, unit="us"),
                    "user_text": text[eidx],
                    "resp_turn_idx": nullable(rt_m),
                    "resp_role": nullable(rrole_m),
                    "resp_ts": resp_ts,
                    "resp_text": nullable(rtext_m),
                    "latency_sec": latency,
                }
            )

        # Evict responses no future/pending user turn can reference:
        # pending users have ts > wm - lag; future users have ts >= wm.
        keep = ~emit
        pending_user = is_user & keep
        min_pending_user_us = ts_us[pending_user].min() if pending_user.any() else wm_us
        keep &= is_user | (ts_us >= min(min_pending_user_us, wm_us))

        if keep.any():
            state.update(
                (
                    turn[keep].tolist(),
                    role[keep].tolist(),
                    ts_us[keep].tolist(),
                    text[keep].tolist(),
                )
            )
            ku, kuser = ts_us[keep], is_user[keep]
            if kuser.any():
                next_fire_us = ku[kuser].min() + lag_us
            else:
                next_fire_us = ku.max() + lag_us
            # timeout must be strictly beyond the current watermark
            state.setTimeoutTimestamp(max(int(next_fire_us) // 1000 + 1, wm_us // 1000 + 1))
        else:
            state.remove()

        if out is not None:
            yield out

    return fn


def streaming_pairs(
    df: DataFrame, watermark: str = "2 minutes", max_lag_sec: int = 300
) -> DataFrame:
    """Watermark-bounded stateful user→response pairing.

    Matches :func:`stellar_etl_spark.operators.pairs.extract_pairs`
    (``max_lag_sec`` variant) exactly when event-time disorder stays within
    the watermark — the golden equivalence pinned in tests.
    """
    return (
        df.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(
            _pairs_fn(max_lag_sec),
            outputStructType=PAIRS_OUT,
            stateStructType=PAIRS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
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
