#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line.

Times every registry query end-to-end at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, forcing full
materialization through the noop sink (so column pruning can't fake a win),
then runs the streaming engine benchmark: a deterministic synthetic transcript
stream through the exactly-once turns export, reporting end-to-end turns/sec
and mean window-close (trigger) latency.

Per-query timings are best-of over SPARK_GRAFT_BENCH_REPS interleaved reps
(default 2) for queries slower than SPARK_GRAFT_BENCH_SLOW_SEC (default 1 s);
raw samples, spreads, and a per-pass quiet-probe timing ride along in the
JSON so cross-round deltas are attributable (shared-VM noise up to 10x —
see CLAUDE.md).

Extra env knobs:
  SPARK_GRAFT_CPUS            local parallelism (default 32)
  SPARK_GRAFT_BENCH_CONVS     synthetic conversations for the streaming bench
                              (default 20000 ≈ 175k turns)
  SPARK_GRAFT_SKIP_STREAMING  set to skip the streaming section
  SPARK_GRAFT_BENCH_REPS      interleaved passes for slow queries (default 2)
  SPARK_GRAFT_BENCH_SLOW_SEC  rep threshold in seconds (default 1.0)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from stellar_etl_spark.session import get_spark
    from stellar_etl_spark.plans.registry import REGISTRY

    spark = get_spark("bench", cores=cpus, shuffle_partitions=cpus, streaming=True)

    t0 = time.time()
    per_query: dict[str, float] = {}
    query_reps: dict[str, list[float]] = {}
    probe_secs: list[float] = []
    if not os.environ.get("SPARK_GRAFT_ONLY_STREAMING"):
        # warm-up: JVM JIT + codegen + parquet footer caches; not timed
        _force(spark.range(100000).selectExpr("id", "sha2(cast(id as string), 256) s"))
        _force(REGISTRY["turns"][0](spark, "/root/testdata/sf0.001"))

        def probe() -> float:
            # fixed JVM-side compute, the in-session analog of
            # bench_scaling.py's quiet probe: published per pass so a
            # congested-VM rep is attributable instead of reading as a plan
            # regression (CLAUDE.md: shared-VM noise up to 10x)
            t = time.time()
            _force(spark.range(2_000_000).selectExpr("id", "sha2(cast(id as string), 256) s"))
            return round(time.time() - t, 3)

        reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
        slow_cut = float(os.environ.get("SPARK_GRAFT_BENCH_SLOW_SEC", "1.0"))
        # pass 1: every query once
        probe_secs.append(probe())
        for name, (fn, _) in REGISTRY.items():
            start = time.time()
            _force(fn(spark, sf_dir))
            query_reps[name] = [round(time.time() - start, 3)]
        # passes 2..reps: INTERLEAVED re-runs of the >slow_cut queries — a
        # noise spike hits one rep of many queries, not many reps of one, so
        # best-of converges on the machine-quiet timing (VERDICT r4 #2)
        slow = [n for n, ts in query_reps.items() if min(ts) > slow_cut]
        for _ in range(1, reps):
            probe_secs.append(probe())
            for name in slow:
                fn = REGISTRY[name][0]
                start = time.time()
                _force(fn(spark, sf_dir))
                query_reps[name].append(round(time.time() - start, 3))
        per_query = {n: min(ts) for n, ts in query_reps.items()}

    result: dict = {
        "metric": "suite_seconds",
        "unit": "sec",
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": cpus,
        "queries": per_query,
        # raw per-rep samples + per-pass probe timings: spread = max-min
        "query_reps": query_reps,
        "query_spread": {
            n: round(max(ts) - min(ts), 3) for n, ts in query_reps.items() if len(ts) > 1
        },
        # headline for cross-round comparison: rep passes inflate the wall
        # (`value`), so the comparable number is the best-of sum
        "sum_best_of_sec": round(sum(per_query.values()), 3),
        "probe_sec": probe_secs,
    }

    if not os.environ.get("SPARK_GRAFT_SKIP_STREAMING"):
        from stellar_etl_spark.generator import transcripts_df, write_transcripts
        from stellar_etl_spark.operators import extract_turns
        from stellar_etl_spark.streaming.pipeline import run_export
        from stellar_etl_spark.streaming.sink import IdempotentSink

        n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "20000"))
        tmp = tempfile.mkdtemp(prefix="bench_stream_")
        try:
            pre_src = os.environ.get("SPARK_GRAFT_BENCH_SRC")
            if pre_src:
                # pre-generated shared source (bench_scaling.py generates once
                # and points every parallelism level at the same files)
                src = pre_src
                gen_sec = 0.0
                n_turns = spark.read.parquet(src).count()
            else:
                src = os.path.join(tmp, "transcripts")
                gen0 = time.time()
                # fixed partition count so every parallelism level sees
                # identical files (identical micro-batch boundaries ->
                # comparable work); dense conv spacing keeps the
                # day-partition count low
                df = transcripts_df(
                    spark, n_convs=n_convs, hot_convs=2, hot_turns=2048,
                    partitions=64, conv_spacing_sec=4,
                )
                write_transcripts(df, src)
                n_turns = df.count()
                gen_sec = time.time() - gen0

            fanout = bool(os.environ.get("SPARK_GRAFT_BENCH_FANOUT"))
            mfpt_env = os.environ.get("SPARK_GRAFT_BENCH_MFPT")
            mfpt = int(mfpt_env) if mfpt_env else (32 if fanout else 8)
            if mfpt <= 0:
                mfpt = None  # one big availableNow batch
            s0 = time.time()
            if fanout:
                # the export_all shape: one scan fanned to 3 extractors
                from stellar_etl_spark.operators import extract_effects, extract_units
                from stellar_etl_spark.streaming.pipeline import FanoutSink

                fan = FanoutSink({
                    name: (ex, IdempotentSink(os.path.join(tmp, "fan_sink", name), keys,
                                              output_partitions=cpus))
                    for name, ex, keys in (
                        ("turns", extract_turns, ("conv_id", "turn_idx")),
                        ("units", extract_units, ("conv_id", "turn_idx", "unit_idx")),
                        ("effects", extract_effects, ("conv_id", "turn_idx", "effect_index")),
                    )
                })
                run_export(spark, src, None, fan, os.path.join(tmp, "ckpt"),
                           max_files_per_trigger=mfpt)
                metrics = {}
            else:
                # production default (jobs.py): one output file per core per
                # epoch — the coalesce that removes the small-file write wall
                sink = IdempotentSink(os.path.join(tmp, "turns_sink"), output_partitions=cpus)
                metrics = run_export(
                    spark,
                    src,
                    extract_turns,
                    sink,
                    os.path.join(tmp, "ckpt"),
                    max_files_per_trigger=mfpt,
                    with_listener=True,
                )
            stream_sec = time.time() - s0
            result["streaming"] = {
                "n_turns": int(n_turns),
                "gen_sec": round(gen_sec, 3),
                "export_sec": round(stream_sec, 3),
                "turns_per_sec": round(n_turns / stream_sec, 1),
                "micro_batches": metrics.get("batches"),
                "mean_trigger_ms": round(
                    metrics["wall_ms"] / max(metrics.get("batches") or 1, 1), 1
                )
                if metrics.get("wall_ms")
                else None,
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

        # window-close latency: live-feed measurement (see streaming/latency.py)
        if not os.environ.get("SPARK_GRAFT_ONLY_STREAMING"):
            from stellar_etl_spark.streaming.latency import measure_window_close_latency

            result["window_close"] = measure_window_close_latency(spark)

    # value keeps the r1-r4 "suite_seconds" meaning — one effective pass
    # through the suite (warmup + queries + streaming + latency) — by
    # subtracting the EXTRA wall the rep passes add beyond each query's
    # best-of; the raw multi-pass wall rides along as wall_sec. Without
    # this, adding reps (VERDICT r4 #2) would read as a fake 1.5x suite
    # regression in the cross-round comparison.
    wall = time.time() - t0
    extra_rep_sec = sum(sum(ts) - min(ts) for ts in query_reps.values())
    # the per-pass quiet probes are also measurement overhead r1-r4 didn't
    # have — subtract them all (probes don't exist in a plain suite pass)
    result["wall_sec"] = round(wall, 3)
    result["value"] = round(wall - extra_rep_sec - sum(probe_secs), 3)
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    sys.exit(main())
