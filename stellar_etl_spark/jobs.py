"""spark-submit entrypoints — the analog of the reference's 11 cobra CLI
commands (``cmd/export_*.go``), launched as::

    spark-submit --py-files stellar_etl_spark.zip -m ... \
        jobs.py <command> --source ... --sink ... --checkpoint ...

Commands mirror the reference (README.md command table):

  export_turns           ≈ export_transactions   (T2)
  export_raw             ≈ export_ledger_transaction (T3 raw envelope)
  export_conversations   ≈ export_ledgers        (T1/A1)
  export_units           ≈ export_operations     (T4)
  export_effects         ≈ export_effects        (T5)
  export_pairs           ≈ export_trades         (J2, stateful)
  export_sessions        ≈ ledger-close stream   (session windows)
  export_timeline        ≈ export_contract_events(T20/J6)
  export_all             ≈ export_all_history    (S12 fan-out)
  export_changes         ≈ export_ledger_entry_changes (A4 compaction)
  export_dedup           ≈ export_assets         (A2 first-seen dedup)
  get_time_range         ≈ get_ledger_range_from_times (§3.3)
  generate               — synthetic input generator (test fixture)

Each runs either bounded (``--available-now``, default: process the current
table snapshot then exit, resumable) or unbounded (``--follow``).
"""

from __future__ import annotations

import argparse
import json
import sys
from collections.abc import Callable
from typing import NamedTuple

from stellar_etl_spark.session import get_spark


class Command(NamedTuple):
    """One export command: its extractor, the sink's merge keys and
    precedence columns, and the plan its extractor needs (see ``main``)."""

    extractor: Callable
    keys: tuple[str, ...]
    order_cols: tuple[str, ...] = ()
    plan: str = "any"


def _common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--source", required=True)
    p.add_argument("--sink", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--watermark", default="2 minutes")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument(
        "--follow",
        action="store_true",
        help="unbounded mode; export_pairs emits a pair once the watermark "
        "passes the end of its 600 s window, up to 300 s of event time "
        "after user_ts + 300 s",
    )
    p.add_argument(
        "--timeout-sec",
        type=int,
        default=None,
        help="deadline for the run; default: no deadline for --follow, "
        "600s for bounded runs (which ERROR if still active at the deadline)",
    )
    p.add_argument("--cores", type=int, default=None)
    p.add_argument(
        "--output-partitions",
        type=int,
        default=None,
        help="files per committed epoch (default: cluster default parallelism; "
        "0 keeps the input partitioning — one file per source split)",
    )
    p.add_argument(
        "--format",
        choices=["parquet", "json"],
        default="parquet",
        help="epoch file format: parquet (read-back/merge product) or json "
        "(the reference's line-delimited final export artifact)",
    )
    p.add_argument(
        "--no-text-b64",
        action="store_true",
        help="drop the raw-envelope text_b64 column from the turns export "
        "(deployments that also run export_changes/turns_raw already have it)",
    )
    p.add_argument("--strict-export", action="store_true", default=True)
    p.add_argument("--lenient", dest="strict_export", action="store_false")
    p.add_argument("--extra-fields", nargs="*", default=[], metavar="K=V")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="stellar-etl-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    batch_cmds = [
        "export_turns",
        "export_raw",
        "export_dedup",
        "export_conversations",
        "export_units",
        "export_effects",
        "export_pairs",
        "export_sessions",
        "export_timeline",
        "export_changes",
        "export_all",
    ]
    for c in batch_cmds:
        _common(sub.add_parser(c))

    g = sub.add_parser("generate")
    g.add_argument("--out", required=True)
    g.add_argument("--n-convs", type=int, default=1000)
    g.add_argument("--seed", type=int, default=42)

    cp = sub.add_parser("compact")
    cp.add_argument("--sink", required=True)
    cp.add_argument(
        "--keys",
        nargs="*",
        default=None,
        help="override the business key (default: the sink's persisted "
        "_sink_meta.json — compacting with the wrong keys collapses rows)",
    )
    cp.add_argument("--cores", type=int, default=None)

    tr = sub.add_parser("get_time_range")
    tr.add_argument("--source", required=True)
    tr.add_argument("--start", required=True)
    tr.add_argument("--end", required=True)
    tr.add_argument(
        "--allow-future",
        action="store_true",
        help="archive mode: clamp far-future requests instead of rejecting "
        "them (default mirrors the reference's 10s future tolerance)",
    )

    args = ap.parse_args(argv)
    spark = get_spark(f"etl-{args.cmd}", cores=getattr(args, "cores", None), streaming=True)

    if args.cmd == "generate":
        from stellar_etl_spark.generator import transcripts_df, write_transcripts

        df = transcripts_df(spark, n_convs=args.n_convs, seed=args.seed)
        write_transcripts(df, args.out)
        print(json.dumps({"written": df.count(), "path": args.out}))
        return 0

    if args.cmd == "compact":
        # maintenance: fold the accumulated per-window epochs into one
        # (rewrite_data_files analog). Run only while the exporter is stopped.
        from stellar_etl_spark.streaming.sink import IdempotentSink

        overrides = {"keys": tuple(args.keys)} if args.keys else {}
        sink = IdempotentSink.from_meta(args.sink, **overrides)
        epoch = sink.compact(spark)
        print(json.dumps({
            "compacted_into_epoch": epoch,
            "rows": next(r["rows"] for r in sink.lineage() if r["epoch"] == epoch),
        }))
        return 0

    if args.cmd == "get_time_range":
        from stellar_etl_spark.operators import time_range
        from stellar_etl_spark.sources.transcripts import read_batch

        row = time_range(
            read_batch(spark, args.source),
            args.start,
            args.end,
            future_tolerance_sec=None if args.allow_future else 10,
        ).collect()[0]
        print(json.dumps({k: str(v) for k, v in row.asDict().items()}))
        return 0

    from stellar_etl_spark.operators import (
        compact_last_state,
        extract_effects,
        extract_timeline,
        extract_turns,
        extract_units,
    )
    from stellar_etl_spark.operators.conversations import extract_conversations_windowed
    from stellar_etl_spark.operators.sessions import extract_sessions_streaming
    from stellar_etl_spark.schemas import with_extra_fields
    from stellar_etl_spark.streaming.pipeline import (
        FanoutSink,
        lenient_sink,
        run_export,
        validate_rows,
    )
    from stellar_etl_spark.streaming.sink import IdempotentSink
    from stellar_etl_spark.streaming.state import streaming_pairs

    extra = dict(kv.split("=", 1) for kv in args.extra_fields)
    # --follow defaults to no deadline, bounded runs to 600s + error-on-overrun
    timeout = args.timeout_sec if args.timeout_sec is not None else (
        None if args.follow else 600
    )
    out_parts = args.output_partitions
    if out_parts is None:
        out_parts = spark.sparkContext.defaultParallelism
    elif out_parts == 0:
        out_parts = None

    def wrap(ex):
        # strict path: fatal-on-invalid guard inline (the lenient sink below
        # routes rows itself, so it needs the unvalidated form)
        def inner(df):
            valid, _ = validate_rows(df, strict=True)
            return with_extra_fields(ex(valid), extra)

        return inner

    def plain(ex):
        def inner(df):
            return with_extra_fields(ex(df), extra)

        return inner

    def turns_ex(df):
        return extract_turns(df, include_b64=not args.no_text_b64)

    def raw_ex(df):
        # T3 raw passthrough (export_ledger_transaction.go analog): the
        # undecoded envelope, base64-encoded — no projection logic to drift
        import pyspark.sql.functions as F

        return df.select(
            "conv_id",
            "turn_idx",
            F.base64(F.col("text").cast("binary")).alias("raw_b64"),
            "ts",
        )

    def dedup_ex(df):
        # A2 first-seen dedup (export_assets.go analog): the first turn of
        # each conversation, watermark-bounded streaming state. The state
        # evicts once the watermark passes first-seen ts + delay, so a
        # conversation resuming AFTER eviction re-emits into a later epoch —
        # the sink must therefore merge EARLIEST-ts-wins, not
        # latest-epoch-wins; first_seen_neg_us gives that under the sink's
        # descending order_cols precedence.
        import pyspark.sql.functions as F

        from stellar_etl_spark.operators.dedup import streaming_first_seen_dedup

        out = streaming_first_seen_dedup(df, ["conv_id"], args.watermark)
        # microsecond precision: this column is sink-internal (not bound by
        # the epoch-second oracle-parity convention), and whole-second
        # flooring would tie a post-eviction re-emission with the true
        # first-seen row inside the same second, letting epoch-desc pick the
        # later one (ADVICE r4). Named *_neg_us (not the earlier *_neg_ts,
        # which held NEGATED SECONDS): a sink written at the seconds scale
        # must not silently merge with micros-scale rows — every old row
        # would out-rank every new one — so the rename makes a pre-upgrade
        # sink resume fail loudly on the order_cols meta mismatch instead.
        return out.withColumn("first_seen_neg_us", -F.unix_micros(F.col("ts")))

    # one entry per export command. plan: "stream" extractors hold state
    # or windows and run on the streaming plan only; "batch" extractors
    # need a batch plan (a window function) and run on each micro-batch
    # inside foreachBatch; "any" (stateless) run either way — on the
    # streaming plan when strict, on each micro-batch when --lenient.
    commands = {
        "export_turns": Command(turns_ex, ("conv_id", "turn_idx")),
        "export_raw": Command(raw_ex, ("conv_id", "turn_idx")),
        # first-seen semantics: the EARLIEST row per conversation must win
        # the merge even when watermark eviction re-emits the key later
        "export_dedup": Command(dedup_ex, ("conv_id",), ("first_seen_neg_us",), "stream"),
        # streaming conversation summaries must be windowed (a global
        # non-windowed agg cannot emit in append mode)
        "export_conversations": Command(
            lambda df: extract_conversations_windowed(df, "5 minutes", args.watermark),
            ("conv_id", "window_start"),
            plan="stream",
        ),
        "export_units": Command(extract_units, ("conv_id", "turn_idx", "unit_idx")),
        "export_effects": Command(extract_effects, ("conv_id", "turn_idx", "effect_index")),
        "export_pairs": Command(
            lambda df: streaming_pairs(df, args.watermark, 300),
            ("conv_id", "user_turn_idx"),
            plan="stream",
        ),
        "export_sessions": Command(
            lambda df: extract_sessions_streaming(df, "30 minutes", args.watermark),
            ("conv_id", "session_start"),
            plan="stream",
        ),
        "export_timeline": Command(extract_timeline, ("conv_id", "turn_idx", "event_kind")),
        # A4 ChangeCompactor: the latest turn of each conversation per
        # micro-batch; merge-on-read orders by event time
        "export_changes": Command(
            lambda df: compact_last_state(df, ["conv_id"]),
            ("conv_id",),
            ("ts", "turn_idx"),
            "batch",
        ),
    }

    def export(ex, sink, **kw):
        return run_export(
            spark, args.source, ex, sink, args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=not args.follow,
            timeout_sec=timeout,
            **kw,
        )

    def out_sink(path, cmd):
        return IdempotentSink(path, cmd.keys, order_cols=cmd.order_cols,
                              output_partitions=out_parts, fmt=args.format)

    if args.cmd == "export_all":
        fan = FanoutSink({
            name: (wrap(commands[f"export_{name}"].extractor),
                   out_sink(f"{args.sink}/{name}", commands[f"export_{name}"]))
            for name in ("turns", "units", "effects")
        })
        export(None, fan)
        print(json.dumps({
            n: (s.read_sink(spark).count() if s.has_epochs() else 0)
            for n, (_, s) in fan.outputs.items()
        }))
        return 0

    cmd = commands[args.cmd]
    sink = out_sink(args.sink, cmd)
    if not args.strict_export:
        # K5 lenient: rejected rows routed to a side sink with reasons. The
        # validation runs on each micro-batch, so stateful/windowed
        # extractors cannot run behind it; they need pre-cleaned input.
        if cmd.plan == "stream":
            raise SystemExit(
                f"--lenient is unsupported for {args.cmd} (stateful/windowed); "
                "pre-clean the input with a lenient export_turns first"
            )
        rejected = IdempotentSink(args.sink + "_rejected", ("conv_id", "turn_idx"))
        export(None, lenient_sink(plain(cmd.extractor), sink, rejected))
        print(json.dumps({
            "cmd": args.cmd,
            "epochs": len(sink.lineage()),
            "rejected_rows": sum(e["rows"] for e in rejected.lineage()),
        }))
        return 0

    if cmd.plan == "batch":
        metrics = export(None, FanoutSink({args.cmd: (wrap(cmd.extractor), sink)}),
                         with_listener=True)
    else:
        metrics = export(wrap(cmd.extractor), sink, with_listener=True)
    print(json.dumps({"cmd": args.cmd, "metrics": metrics, "epochs": len(sink.lineage())}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
