"""Seeded benchmark inputs.

Every input is a pure function of the workload seed, made with NumPy and
written with pyarrow, so the inputs neither cost a Spark job nor change when
the package's own generator does. Transcripts are cut in event-time order and
given explicit file modification times, so the file source's processing order
never depends on the clock. The ``events`` and ``documents`` tables the
registry queries read follow the shape of the repository's fixture tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# mtimes far in the past and strictly increasing: the file source orders new
# files by modification time, so this order is the processing order
MTIME_BASE = 1_000_000_000

_TS_UTC = pa.timestamp("us", tz="UTC")
# the transcripts table's parquet schema (``stellar_etl_spark.schemas.TRANSCRIPTS``)
_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", _TS_UTC),
])


_VOCAB = np.array([
    "alpha", "beta", "gamma", "delta", "query", "result", "token", "stream",
    "window", "state", "join", "merge", "shuffle", "spark", "ledger", "turn",
    "données", "模型", "ответ", "naïve", "東京", "🙂ok",
])
_TOOLS = np.array(["search", "code", "fetch", "browse", "calc"])


def transcripts(
    n_convs: int,
    seed: int,
    conv_spacing_sec: int,
    turn_step_sec: int,
    hot_turns: int = 64,
    jitter_sec: int = 15,
) -> pd.DataFrame:
    """A transcripts table in the shape of ``stellar_etl_spark.generator``:
    conversation 0 is a hot one with ``hot_turns`` turns, the others take
    every size from 1 to 16 turns equally often, in an order the seed
    shuffles, so every seed gives the same number of turns. Turns alternate
    user / assistant (a fifth of responses are tool calls, a thirteenth of
    those fail with an ``error:`` prefix; a seventh of conversations open
    with a system turn); event times step ``turn_step_sec`` apart with
    +-``jitter_sec`` disorder, and conversations start ``conv_spacing_sec``
    apart."""
    rng = np.random.default_rng(seed)
    sizes = np.concatenate([[hot_turns], rng.permutation(np.arange(n_convs - 1) % 16 + 1)])
    conv = np.repeat(np.arange(n_convs), sizes)
    turn = np.concatenate([np.arange(n) for n in sizes])
    n = len(conv)
    sys_first = rng.random(n_convs) < 1 / 7
    tool_slot = rng.random(n) < 1 / 5
    role = np.where(turn % 2 == 0, "user", np.where(tool_slot, "tool", "assistant"))
    role = np.where((turn == 0) & sys_first[conv], "system", role)
    n_words = rng.integers(1, 41, n)
    words = rng.integers(0, len(_VOCAB), n_words.sum())
    text = np.array([" ".join(w) for w in np.split(_VOCAB[words], np.cumsum(n_words)[:-1])],
                    dtype=object)
    failed = (role == "tool") & (rng.random(n) < 1 / 13)
    text[failed] = "error: " + text[failed]
    text[rng.random(n) < 1 / 97] = ""
    tool = np.where(role == "tool", _TOOLS[rng.integers(0, len(_TOOLS), n)], None)
    offset = conv * conv_spacing_sec + turn * turn_step_sec \
        + rng.integers(-jitter_sec, jitter_sec + 1, n)
    return pd.DataFrame({
        "conv_id": [f"conv_{c:08d}" for c in conv],
        "turn_idx": turn.astype(np.int32),
        "role": role,
        "text": text,
        "tool": tool,
        "ts": pd.Timestamp("2026-01-01") + pd.to_timedelta(offset, unit="s"),
    })


def to_arrow(pdf: pd.DataFrame) -> pa.Table:
    pdf = pdf.assign(ts=pd.to_datetime(pdf["ts"], utc=True))
    return pa.Table.from_pandas(pdf[_SCHEMA.names], schema=_SCHEMA, preserve_index=False)


def write_atomic(tb: pa.Table, path: str, mtime: float | None = None) -> None:
    """Write a parquet file under a hidden name, then rename it into place:
    the file source never lists a half-written file."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(tb, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


def event_ordered_files(
    pdf: pd.DataFrame,
    out_dir: str,
    n_files: int,
    rng: np.random.Generator,
    disorder_sec: float = 0.0,
) -> list[str]:
    """Cut the table into ``n_files`` equal files in event-time order.

    ``disorder_sec`` shuffles rows across file boundaries by up to that much
    event time (keep it below the watermark delay: no row may arrive late)."""
    os.makedirs(out_dir, exist_ok=True)
    key = pdf["ts"].astype("int64") / 1e9 + rng.uniform(0.0, disorder_sec, len(pdf))
    pdf = pdf.iloc[np.argsort(key.to_numpy(), kind="stable")].reset_index(drop=True)
    bounds = np.linspace(0, len(pdf), n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        write_atomic(to_arrow(pdf.iloc[bounds[i]:bounds[i + 1]]), p, MTIME_BASE + i)
        paths.append(p)
    return paths


def flush_row(max_ts: pd.Timestamp) -> pd.DataFrame:
    """One far-future row: its batch moves the watermark past every open
    group, so the following no-data batch drains the state by timeout."""
    return pd.DataFrame(
        {
            "conv_id": ["flush"],
            "turn_idx": np.array([0], np.int32),
            "role": ["system"],
            "text": [""],
            "tool": pd.Series([None], dtype=object),
            "ts": [max_ts + pd.Timedelta(days=30)],
        }
    )


def flush_file(out_dir: str, max_ts: pd.Timestamp, index: int) -> str:
    """The flush row in a file of its own, read after ``index`` data files."""
    p = os.path.join(out_dir, f"part-{index:05d}.parquet")
    write_atomic(to_arrow(flush_row(max_ts)), p, MTIME_BASE + index)
    return p


# -- registry fixture tables ---------------------------------------------------
_DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
_LANGS = np.array(["en", "en", "zh", "es", "fr", "de"])


def write_registry_tables(out_dir: str, seed: int, n_events: int, n_users: int, n_docs: int) -> None:
    """``events.parquet`` and ``documents.parquet`` — one file, one row group
    each, like the fixture tables the registry queries are written against."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    start_us = pd.Timestamp("2024-01-01").value // 1000
    ts_us = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_events)) + start_us
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
            "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n_events)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    vocab = np.array(_DOC_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(n))])
        for n in rng.integers(8, 96, n_docs)
    ]
    # near-duplicate structure for the dedup / similarity queries: ~2% exact
    # copies and ~2% one-word edits of an earlier document
    for i in range(1, n_docs):
        r = rng.random()
        if r < 0.02:
            texts[i] = texts[int(rng.integers(0, i))]
        elif r < 0.04:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts[i] = " ".join(words)
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.integers(0, len(_LANGS), n_docs)]),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
        }
    )
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))
