#!/usr/bin/env python
"""Two-cluster-size scaling benchmark (the north rule's N vs 4N executor
criterion, sandbox proxy).

Cluster-size proxy: ``local-cluster[k, C, mem]`` — k separate executor JVMs
of C cores each (C = SPARK_GRAFT_SCALE_EXEC_CORES, default 4), pinned with
taskset to exactly k*C hardware threads. This is
faithful to "spark-submit on k executors": each executor owns its heap and GC
(a single ``local[N]`` JVM hits allocation/GC contention at high N that real
clusters never see).

Measured job: the engine's 3-extractor fan-out (turns + units + effects) over
a pre-generated ~8.5M-turn transcript table, identical files for every level.
Per level we run a cluster warm-up, then the job twice, keeping the warm
(second) run — JIT/codegen warm-up is a per-JVM constant that a long-running
streaming cluster pays once, not per window.

Noise protocol (this box is a shared VM; identical runs differ up to 10x in
congested windows): a QUIET-WINDOW GATE (turns-only 16-core probe; quiet =
>= SPARK_GRAFT_QUIET_THRESHOLD turns/s, default 400k) runs before each rep
pair and retries with a 60 s backoff; reps are INTERLEAVED (N, 4N, N, 4N...)
so a load spike hits both levels instead of biasing one; best-of across reps
is kept per metric (compute and stream independently). All rep values and
probe readings land in BENCH/BASELINE.md.

Output: one JSON line + BENCH/BASELINE.md. Streaming-path throughput
(exactly-once sink, checkpoint, lineage) is reported per level as a secondary
row; its absolute numbers carry single-box artifacts (one shared disk, one
driver) that a real cluster distributes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

EXEC_CORES = int(os.environ.get("SPARK_GRAFT_SCALE_EXEC_CORES", "4"))
# N cores = 1 executor, 4N cores = 4 executors (the north-rule ratio)
N = EXEC_CORES
CONVS = os.environ.get("SPARK_GRAFT_BENCH_CONVS", "1000000")
SRC = "/tmp/spark_graft_scale_src"
_HERE = os.path.dirname(os.path.abspath(__file__))

_LEVEL_CODE = '''
import time, os, json, tempfile
from stellar_etl_spark.session import get_spark
from stellar_etl_spark.generator import read_transcripts
from stellar_etl_spark.operators import extract_turns, extract_units, extract_effects

spark = get_spark("scale-level", cores=int(os.environ["C"]), streaming=True)
# cluster warm-up: registers executors, JITs hash/string/codegen paths
spark.range(0, 3_000_000, numPartitions=64).selectExpr(
    "sha2(cast(id as string), 256) a", "base64(cast(id as string)) b"
).write.format("noop").mode("overwrite").save()

src = read_transcripts(spark, os.environ["SRC"])
n_turns = src.count()

def compute_pass():
    t0 = time.time()
    for ex in (extract_turns, extract_units, extract_effects):
        ex(src).write.format("noop").mode("overwrite").save()
    return time.time() - t0

cold = compute_pass()
warm = compute_pass()

# secondary: full streaming export through the real exactly-once sink
# (epoch-keyed IdempotentSink + checkpoint + lineage), output coalesced to
# one file per core — the batch otherwise lands one tiny zstd file per
# source split, the measured bottleneck of the export stage
from stellar_etl_spark.streaming.pipeline import FanoutSink, run_export
from stellar_etl_spark.streaming.sink import IdempotentSink
tmp = tempfile.mkdtemp()
fan = FanoutSink({
    name: (ex, IdempotentSink(tmp + "/out/" + name, keys, output_partitions=int(os.environ["C"])))
    for name, ex, keys in (
        ("turns", extract_turns, ("conv_id", "turn_idx")),
        ("units", extract_units, ("conv_id", "turn_idx", "unit_idx")),
        ("effects", extract_effects, ("conv_id", "turn_idx", "effect_index")),
    )
})
t0 = time.time()
run_export(spark, os.environ["SRC"], None, fan, tmp + "/ck", timeout_sec=1800)
stream_sec = time.time() - t0

print("RESULT " + json.dumps({
    "n_turns": int(n_turns),
    "compute_cold_sec": round(cold, 1),
    "compute_warm_sec": round(warm, 1),
    "compute_turns_per_sec": round(n_turns / warm, 1),
    "stream_sec": round(stream_sec, 1),
    "stream_turns_per_sec": round(n_turns / stream_sec, 1),
}))
spark.stop()
# each level writes a full 3-extractor sink (~3-6 GB at 8.5M turns) — a
# session of repeated runs filled /tmp; clean up eagerly
import shutil as _sh
_sh.rmtree(tmp, ignore_errors=True)
'''


_PROBE_CODE = '''
import time, os, json
from stellar_etl_spark.session import get_spark
from stellar_etl_spark.generator import read_transcripts
from stellar_etl_spark.operators import extract_turns
spark = get_spark("quiet-probe", cores=16)
src = read_transcripts(spark, os.environ["SRC"])
extract_turns(src).write.format("noop").mode("overwrite").save()  # warm JIT
n = src.count()
t0 = time.time()
extract_turns(src).write.format("noop").mode("overwrite").save()
print("PROBE " + json.dumps({"turns_per_sec": round(n / (time.time() - t0), 1)}))
spark.stop()
'''


def quiet_probe() -> float:
    """Turns-only 16-core throughput probe — the round-3 quietness signal
    (>400k turns/s warm when the box is quiet, <100k when congested)."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_MASTER"}
    env["SRC"] = SRC
    cmd = [sys.executable, "-c", _PROBE_CODE]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", "0-15"] + cmd
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=600, cwd=_HERE)
    lines = [l for l in out.stdout.splitlines() if l.startswith("PROBE ")]
    if not lines:
        raise RuntimeError(f"probe failed: {out.stderr[-500:]}")
    return json.loads(lines[-1][len("PROBE "):])["turns_per_sec"]


def disk_probe() -> float:
    """Sequential-write bandwidth of the sink filesystem (512 MB + fsync to
    /tmp, MB/s). The stream path at 4N is sink-write-bound, and the CPU
    probe is blind to disk congestion: the r5 first scaling run passed CPU
    probes at 0.97-1.03M turns/s yet measured stream-4N at 35-39k turns/s
    vs 60-70k in r4's window — a disk-congested neighbor halves exactly the
    level that writes 4x faster. Gate on BOTH signals."""
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "spark_graft_disk_probe.bin")
    buf = os.urandom(4 << 20)
    t0 = time.time()
    try:
        with open(path, "wb") as f:
            for _ in range(128):
                f.write(buf)
            f.flush()
            os.fsync(f.fileno())
        return round(512 / (time.time() - t0), 1)
    finally:
        try:
            os.remove(path)
        except OSError:
            pass


def pregenerate() -> None:
    code = f"""
from stellar_etl_spark.session import get_spark
from stellar_etl_spark.generator import transcripts_df, write_transcripts
spark = get_spark("scale-gen", cores=32)
df = transcripts_df(spark, n_convs={CONVS}, hot_convs=2, hot_turns=2048,
                    partitions=64, conv_spacing_sec=4)
write_transcripts(df, {SRC!r})
spark.stop()
"""
    shutil.rmtree(SRC, ignore_errors=True)
    subprocess.run([sys.executable, "-c", code], check=True, timeout=1800, cwd=_HERE)


def run_level(cpus: int) -> dict:
    k = max(cpus // EXEC_CORES, 1)
    env = dict(
        os.environ,
        C=str(cpus),
        SRC=SRC,
        SPARK_GRAFT_MASTER=f"local-cluster[{k},{EXEC_CORES},6144]",
        SPARK_GRAFT_EXECUTOR_MEM="5g",
        SPARK_GRAFT_DRIVER_MEM="8g",
    )
    cmd = [sys.executable, "-c", _LEVEL_CODE]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=3600, cwd=_HERE)
    lines = [l for l in out.stdout.splitlines() if l.startswith("RESULT ")]
    if not lines:
        raise RuntimeError(f"level {cpus} failed: {out.stderr[-500:]}")
    return json.loads(lines[-1][len("RESULT "):])


def main() -> None:
    started = time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime())
    # the source is deterministic (seeded generator) — reuse an existing copy
    # when asked (saves ~6 min per repeat run in the same session)
    if not (os.environ.get("SPARK_GRAFT_SCALE_REUSE_SRC") == "1" and os.path.isdir(SRC)):
        pregenerate()
    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))
    threshold = float(os.environ.get("SPARK_GRAFT_QUIET_THRESHOLD", "400000"))
    disk_threshold = float(os.environ.get("SPARK_GRAFT_DISK_QUIET_MBPS", "250"))
    retries = int(os.environ.get("SPARK_GRAFT_QUIET_RETRIES", "3"))
    probes: list[float] = []
    disk_probes: list[float] = []

    def quiet_gate() -> float:
        v = 0.0
        for attempt in range(retries):
            v = quiet_probe()
            d = disk_probe()
            probes.append(v)
            disk_probes.append(d)
            print(
                json.dumps(
                    {
                        "probe_turns_per_sec": v,
                        "disk_mbps": d,
                        "quiet": v >= threshold and d >= disk_threshold,
                    }
                )
            )
            if v >= threshold and d >= disk_threshold:
                return v
            time.sleep(60)
        return v  # proceed anyway; the probe readings are published

    # INTERLEAVED reps: a load spike on this shared VM hits both levels
    # instead of biasing whichever level ran during it
    lo_runs, hi_runs = [], []
    for _ in range(reps):
        quiet_gate()
        lo_runs.append(run_level(N))
        hi_runs.append(run_level(4 * N))
    # best-of per metric, independently — the best compute rep and the best
    # stream rep need not be the same run
    lo_c = max(lo_runs, key=lambda r: r["compute_turns_per_sec"])
    hi_c = max(hi_runs, key=lambda r: r["compute_turns_per_sec"])
    lo = max(lo_runs, key=lambda r: r["stream_turns_per_sec"])
    hi = max(hi_runs, key=lambda r: r["stream_turns_per_sec"])
    tl, th = lo_c["compute_turns_per_sec"], hi_c["compute_turns_per_sec"]
    eff = th / (4 * tl)
    sl, sh = lo["stream_turns_per_sec"], hi["stream_turns_per_sec"]
    seff = sh / (4 * sl)
    # primary metric: the END-TO-END streaming export (the north-rule job);
    # pure-compute scaling reported alongside
    result = {
        "metric": "scaling_efficiency",
        "value": round(seff, 3),
        "unit": "ratio",
        "executors_n": 1,
        "executors_4n": 4,
        "cores_per_executor": EXEC_CORES,
        "compute_throughput_n": tl,
        "compute_throughput_4n": th,
        "stream_throughput_n": sl,
        "stream_throughput_4n": sh,
        "compute_efficiency": round(eff, 3),
        "n_turns": lo["n_turns"],
        "all_runs_n": [r["compute_turns_per_sec"] for r in lo_runs],
        "all_runs_4n": [r["compute_turns_per_sec"] for r in hi_runs],
        "all_stream_n": [r["stream_turns_per_sec"] for r in lo_runs],
        "all_stream_4n": [r["stream_turns_per_sec"] for r in hi_runs],
        "quiet_probes": probes,
        "quiet_threshold": threshold,
        "disk_probes_mbps": disk_probes,
        "disk_threshold_mbps": disk_threshold,
    }
    print(json.dumps(result))

    os.makedirs(os.path.join(_HERE, "BENCH"), exist_ok=True)
    k_lo, k_hi = 1, 4
    with open(os.path.join(_HERE, "BENCH", "BASELINE.md"), "w") as f:
        f.write(
            f"""# BENCH/BASELINE — measured numbers

Run started {started}. Input: deterministic synthetic transcript stream,
{lo['n_turns']:,} turns (Zipf sizes incl. two 2048-turn hot conversations),
identical pre-generated files for every level. Job: the 3-extractor fan-out
(turns + units + effects — projection, sub-turn explode, effect fan-out).

Cluster-size proxy: `local-cluster[k, {EXEC_CORES}, 6g]` = k separate {EXEC_CORES}-core executor
JVMs, pinned via taskset to exactly k*{EXEC_CORES} hardware threads (a plain `local[N]`
single JVM hits GC/allocation contention real clusters don't have).
Per level: cluster warm-up, then the job twice — warm (second) run reported,
since a long-running streaming cluster pays JIT once, not per window.

Noise protocol: quiet-window gate before each rep pair — CPU (turns-only
16-core probe, quiet >= {int(result['quiet_threshold']):,} turns/s) AND sink-disk
sequential-write bandwidth (>= {int(disk_threshold)} MB/s; the stream-4N level is
sink-write-bound, and disk congestion is invisible to the CPU probe) —
with 60 s backoff; reps INTERLEAVED (N, 4N, N, 4N, ...); best-of across
reps kept per metric. CPU probes this run: {[f'{p:,.0f}' for p in probes]};
disk probes (MB/s): {disk_probes}.

## PRIMARY: end-to-end streaming export scaling ({k_lo} vs {k_hi} executors)

The north-rule job — read stream -> 3 extractors -> exactly-once epoch sink
with checkpoint + lineage:

| executors | turns/sec | wall (s) |
|---|---|---|
| {k_lo} x {EXEC_CORES} cores | {sl:,.1f} | {lo['stream_sec']} |
| {k_hi} x {EXEC_CORES} cores | {sh:,.1f} | {hi['stream_sec']} |

**Streaming scaling efficiency T(4N)/(4 * T(N)) = {seff:.3f}**
(north-rule criterion >= 0.8).

## Engine compute scaling (noop sink, same extractors)

| executors | turns/sec (warm) | wall (s) | cold-run wall (s) |
|---|---|---|---|
| {k_lo} x {EXEC_CORES} cores | {tl:,.1f} | {lo_c['compute_warm_sec']} | {lo_c['compute_cold_sec']} |
| {k_hi} x {EXEC_CORES} cores | {th:,.1f} | {hi_c['compute_warm_sec']} | {hi_c['compute_cold_sec']} |

Compute-only efficiency = {eff:.3f} (best compute rep per level,
independently of the stream best-of). All interleaved reps:
compute N={result['all_runs_n']}, 4N={result['all_runs_4n']};
stream N={result['all_stream_n']}, 4N={result['all_stream_4n']}.

## Streaming export detail

| executors | turns/sec | wall (s) |
|---|---|---|
| {k_lo} x {EXEC_CORES} | {sl:,.1f} | {lo['stream_sec']} |
| {k_hi} x {EXEC_CORES} | {sh:,.1f} | {hi['stream_sec']} |

Streaming-path efficiency = {seff:.3f}. The streaming absolute numbers carry
single-box artifacts a real cluster distributes: one shared local disk for
all sink writes (a real deployment writes to object storage whose bandwidth
scales with executors) and one driver committing every epoch.

## Window-close latency

See BENCH_r*.json `streaming.mean_trigger_ms` (bench.py): mean micro-batch
trigger-to-commit latency at 32 cores, measured by the MetricsListener.
"""
        )
        # non-scaling measurements (ANN recall grids, matcher micro-benches,
        # ...) live in BENCH/ADDENDA.md and survive scaling re-runs
        addenda = os.path.join(_HERE, "BENCH", "ADDENDA.md")
        if os.path.exists(addenda):
            with open(addenda) as a:
                f.write("\n" + a.read())


if __name__ == "__main__":
    main()
