#!/usr/bin/env python3
"""The repository benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload export_fanout --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans, the full progress log and Spark's event log switched on
and prints the per-layer metrics instead (and writes the spans and per-stage
rows under ``.perfbench_out/``). The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Every file the run
writes stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness as H  # noqa: E402
from workloads import BATCH_QUERIES  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "turns_per_s": "1/s",
}

PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_ms": "ms",
    "session.warmup_ms": "ms",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "source.files_per_batch": "count",
    "source.backlog_files_max": "count",
    "source.lag_ms_p50": "ms",
    "pipeline.batches": "count",
    "pipeline.trigger_ms_p50": "ms",
    "pipeline.planning_ms": "ms",
    "pipeline.add_batch_ms": "ms",
    "pipeline.wal_commit_ms": "ms",
    "pipeline.commit_offsets_ms": "ms",
    "pipeline.overhead_share": "ratio",
    "operators.turns_ms": "ms",
    "operators.units_ms": "ms",
    "operators.effects_ms": "ms",
    "operators.conversations_windowed_ms": "ms",
    "operators.rows_out_per_turn": "rows/turn",
    "state.pairs_s": "s",
    "state.conv_state_s": "s",
    "state.commit_ms": "ms",
    "state.updates_ms": "ms",
    "state.removals_ms": "ms",
    "state.rows_peak": "count",
    "state.bytes_peak": "bytes",
    "state.rows_dropped_late": "count",
    "state.python_rows_received": "count",
    "sink.write_ms": "ms",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    "sink.rows_written": "count",
    "sink.read_merge_ms": "ms",
    "registry.batch_queries_s": "s",
    **{f"registry.{q}_s": "s" for q in BATCH_QUERIES},
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew_max": "ratio",
    "trace.overhead_ms": "ms",
    "trace.span_coverage": "ratio",
    "baseline.local1_turns_per_s": "1/s",
    "noise.probe_ms": "ms",
    "noise.loadavg_1m": "load",
    "noise.nproc": "count",
    "noise.steal_pct": "%",
}


def _spark_layers(stages: list[dict], timed_qids: set[str], n_units: int) -> dict:
    """Executor figures of the timed region, per unit of work. A stage is
    timed when its job ran under the ``timed`` phase tag or belongs to one of
    the timed streaming queries."""
    rows = [s for s in stages if s.get("perfbench.phase") == "timed"
            or s.get("sql.streaming.queryId") in timed_qids]
    n = max(n_units, 1)
    skews = [s["skew"] for s in rows if s["skew"] is not None]
    return {
        "spark.executor_cpu_ms": sum(s["cpu_ms"] for s in rows) / n,
        "spark.gc_ms": sum(s["gc_ms"] for s in rows) / n,
        "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in rows) / n,
        "spark.spill_bytes": sum(s["spill_bytes"] for s in rows) / n,
        "spark.task_skew_max": max(skews, default=0.0),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "stellar_etl_spark")):
        print("perfbench: no stellar_etl_spark package in the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    from workloads import WORKLOADS, Ctx  # noqa: E402 - after the package check

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # every path the run writes stays inside the checkout; all clocks in UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp, local, evlog = (os.path.join(work, d) for d in ("tmp", "spark-local", "eventlog"))
    for d in (tmp, local, evlog):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local

    trace = bool(args.trace)
    noise = H.noise()
    cores = noise["nproc"]
    # the memory sampler's thread shares the driver's interpreter with the
    # foreachBatch callbacks, so only the traced run pays for it
    sampler = H.RssSampler().start() if trace else None
    tracer = H.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=trace)
    extra = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{evlog}",
                      "spark.eventLog.compress": "false"})

    from stellar_etl_spark.session import get_spark

    spark = None
    try:
        with tracer.span("session.get_spark") as s_start:
            spark = get_spark(f"perfbench-{args.workload}", cores=cores, streaming=True,
                              extra_conf=extra)
        listener = H.make_listener()
        spark.streams.addListener(listener)
        ctx = Ctx(spark, work, args.seed, args.seconds, cores, tracer, listener, trace)
        wl = WORKLOADS[args.workload](ctx)
        # inputs come first and stay out of set-up: set-up is the session
        # start plus the warm pass
        ctx.tag("prepare")
        t_prep = time.time()
        wl.prepare()
        prepare_s = time.time() - t_prep
        ctx.tag("warm")
        with tracer.span("session.warmup") as s_warm:
            wl.warm()
        setup_s = H.process_age_s() - prepare_s

        t_meas, ticks = time.time(), H.cpu_ticks()
        wl.measure()
        noise["steal_pct"] = 100 * H.steal_share(ticks, H.cpu_ticks())
        peak_mb = sampler.stop() if sampler else 0.0

        t_check = time.time()
        checks = []
        for name, ok, detail in wl.check():
            checks.append({"check": name, "ok": bool(ok), "detail": detail})
        print("units " + " ".join(f"{u['wall']:.2f}s/{100 * u['steal']:.1f}%steal"
                                  for u in wl.units))
        print(f"phases setup_s={setup_s:.1f} prepare_s={prepare_s:.1f} "
              f"measure_s={t_check - t_meas:.1f} units={len(wl.units)} "
              f"check_s={time.time() - t_check:.1f}")
        failed = sum(not c["ok"] for c in checks) + len(wl.failures)
        attempted = len(checks) + wl.attempted()
        for c in checks:
            print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['check']}: {c['detail']}")
        for f in wl.failures:
            print(f"unit FAIL {f}")

        if not trace:
            metrics = {"setup_s": setup_s, **wl.end_to_end()}
            units = END_TO_END
        else:
            layers = {
                "process.peak_rss_mb": peak_mb,
                "session.start_ms": s_start.seconds * 1000,
                "session.warmup_ms": s_warm.seconds * 1000,
                **{f"noise.{k}": v for k, v in noise.items()},
                **wl.layers(),
            }
            timed_qids = {q for u in wl.units for q in u.get("qids", [])}
            if hasattr(wl, "baseline_local1"):
                def restart(n_cores):
                    ctx.spark.stop()
                    s = get_spark("perfbench-local1", cores=n_cores, streaming=True,
                                  extra_conf=extra)
                    ctx.listener = H.make_listener()
                    s.streams.addListener(ctx.listener)
                    ctx.n_queries = 0
                    return s

                layers.update(wl.baseline_local1(restart))
                spark = ctx.spark
            H.stop_spark(spark)
            spark = None
            stages, py_rows = H.parse_event_log(evlog)
            layers.update(_spark_layers(stages, timed_qids, len(wl.units)))
            layers["state.python_rows_received"] = py_rows
            missing = sorted(set(PER_LAYER) - set(layers))
            for k in missing:
                layers[k] = 0.0
            metrics = {k: layers[k] for k in PER_LAYER}
            units = PER_LAYER
            _write_trace(root, args, tracer, stages, checks, metrics, missing)

        print("noise " + json.dumps(noise))
        figures = {**wl.figures(), "failed_share": failed / attempted}
        print("metrics " + "  ".join(f"{k}={metrics[k]:.6g} {units[k]}" for k in metrics))
        print("figures " + "  ".join(f"{k}={v:.6g}" for k, v in figures.items()))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in metrics},
        }))
        return 0
    finally:
        if sampler:
            sampler.stop()
        if spark is not None:
            H.stop_spark(spark)
        H.reap_children()
        shutil.rmtree(work, ignore_errors=True)


def _write_trace(root, args, tracer, stages, checks, metrics, missing) -> None:
    """Spans, self times and per-stage rows of the traced run, plus a
    summary on standard output."""
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    selft = H.self_times(tracer.spans)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json")
    with open(path, "w") as f:
        json.dump({"spans": tracer.spans, "self_times": selft, "stages": stages,
                   "checks": checks, "metrics": metrics, "not_applicable": missing}, f)
    print(f"trace written to {os.path.relpath(path, root)}")
    print(f"{'span':38s} {'count':>6s} {'total_s':>9s} {'self_s':>9s}")
    for name, d in sorted(selft.items(), key=lambda kv: -kv[1]["total_s"]):
        print(f"{name:38s} {d['count']:6d} {d['total_s']:9.3f} {d['self_s']:9.3f}")
    if missing:
        print("not applicable on this workload (reported as 0): " + ", ".join(missing))


if __name__ == "__main__":
    sys.exit(main())
