"""Measurement plumbing shared by the workloads: spans, the progress
listener, the process-tree memory sampler, the Spark event-log parser, the
quiet probe and the output digests.

Nothing here changes what the engine does. Spans are taken around the
benchmark's own calls into the package; the listener and the event log only
read what Spark already reports.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import threading
import time

# -- small statistics helpers -------------------------------------------------


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id).

    A disabled tracer records nothing, so the untraced run pays only the
    ``with`` statement. The parent stack is per thread: spans opened on the
    streaming query's thread (the foreachBatch callbacks) start without a
    parent, and the workload attaches them afterwards."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, parent: int | None = None, **attrs):
        return _Span(self, name, parent, attrs)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int | None:
        """Record a span whose interval was measured elsewhere (progress
        phases, sink commit times)."""
        if not self.enabled:
            return None
        with self._lock:
            sid = self._next
            self._next += 1
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "run": self.run_id, **attrs}
            )
        return sid

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else None


class _Span:
    def __init__(self, tracer: Tracer, name: str, parent, attrs):
        self.t, self.name, self.parent, self.attrs = tracer, name, parent, attrs
        self.id = None

    def __enter__(self):
        self.start = time.time()
        if self.t.enabled:
            parent = self.parent if self.parent is not None else self.t.current()
            with self.t._lock:
                self.id = self.t._next
                self.t._next += 1
            self.parent = parent
            self.t._stack().append(self.id)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        if self.t.enabled:
            self.t._stack().pop()
            with self.t._lock:
                self.t.spans.append(
                    {"id": self.id, "name": self.name, "start": self.start, "end": self.end,
                     "parent": self.parent, "run": self.t.run_id, **self.attrs}
                )
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, total seconds and self seconds (duration minus
    the part of its interval that its children cover)."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out: dict[str, dict] = {}
    for s in spans:
        covered = _union(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], [])
            if c["end"] > s["start"] and c["start"] < s["end"]
        )
        d = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        d["count"] += 1
        d["total_s"] += s["end"] - s["start"]
        d["self_s"] += max(0.0, s["end"] - s["start"] - covered)
    return out


def coverage(spans: list[dict], root_name: str) -> float:
    """Share of the ``root_name`` spans' wall time covered by their child
    spans (the layers), ignoring overlaps."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    wall = cov = 0.0
    for r in (s for s in spans if s["name"] == root_name):
        wall += r["end"] - r["start"]
        cov += _union(
            (max(c["start"], r["start"]), min(c["end"], r["end"]))
            for c in kids.get(r["id"], [])
        )
    return cov / wall if wall else 0.0


class TracedSink:
    """Delegating sink: times each ``foreach_batch`` call into the wrapped
    ``IdempotentSink`` and forwards everything else unchanged. The calls run
    on the streaming thread, so their spans start without a parent."""

    def __init__(self, inner, tracer: Tracer, name: str):
        self._inner, self._tracer, self._name = inner, tracer, name

    def foreach_batch(self, df, epoch_id: int) -> None:
        with self._tracer.span("sink.foreach_batch", sink=self._name, epoch=int(epoch_id)):
            self._inner.foreach_batch(df, epoch_id)

    def __getattr__(self, name):
        return getattr(self._inner, name)


# -- streaming progress ---------------------------------------------------------


def make_listener():
    """A ``StreamingQueryListener`` that keeps every progress report whole
    (the package's ``MetricsListener.summary()`` keeps only a few fields)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: dict[str, list[dict]] = {}
            self.started: list[str] = []
            self.terminated: dict[str, str | None] = {}

        def onQueryStarted(self, event):  # noqa: N802
            with self.lock:
                self.started.append(str(event.id))
                self.progress.setdefault(str(event.id), [])

        def onQueryProgress(self, event):  # noqa: N802
            p = json.loads(event.progress.json)
            with self.lock:
                self.progress.setdefault(p["id"], []).append(p)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            with self.lock:
                self.terminated[str(event.id)] = event.exception

        def wait_terminated(self, n_queries: int, timeout: float = 20.0) -> list[str]:
            """Listener events arrive asynchronously; block until the first
            ``n_queries`` started queries have reported termination, so their
            last progress report is in."""
            deadline = time.time() + timeout
            while time.time() < deadline:
                with self.lock:
                    ids = self.started[:n_queries]
                    if len(ids) == n_queries and all(i in self.terminated for i in ids):
                        return ids
                time.sleep(0.02)
            raise TimeoutError("streaming listener did not report query termination")

        def batches(self, qids) -> list[dict]:
            with self.lock:
                return [p for q in qids for p in self.progress.get(q, [])]

    return ProgressLog()


# -- process tree ---------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus every descendant (the JVM
    and its Python workers), summed per sample."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        me = os.getpid()
        kb = _rss_kb(me) + sum(_rss_kb(p) for p in descendants(me))
        self.peak_kb = max(self.peak_kb, kb)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process was created (Linux ``/proc``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start_ticks / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait until
    every child process (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    if proc is not None:
        # the JVM exits on EOF from its stdin (PythonGatewayServer)
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    reap_children()


def reap_children(timeout: float = 20.0) -> None:
    """Wait for every child process to end; kill what is left at the
    deadline."""
    import signal

    deadline = time.time() + timeout
    while time.time() < deadline:
        if not descendants():
            return
        time.sleep(0.1)
    for p in descendants():
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    while descendants() and time.time() < deadline + 10:
        time.sleep(0.1)


# -- noise attribution ------------------------------------------------------------


def quiet_probe_ms() -> float:
    """A fixed pure-Python loop; its time moves only with machine load or
    CPU frequency, not with the engine, so it attributes noise."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


def cpu_ticks() -> tuple[int, int]:
    """The machine's (stolen, total) CPU ticks so far, from ``/proc/stat``:
    time the hypervisor gave to other guests while this one had work. It
    slows the fixed-cost, wake-up-bound paths here several times more than
    its share. Zeros where the counters are unavailable."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def noise() -> dict:
    return {
        "probe_ms": quiet_probe_ms(),
        "loadavg_1m": os.getloadavg()[0],
        "nproc": len(os.sched_getaffinity(0)),
    }


# -- output digests ---------------------------------------------------------------


def digest_exprs(df) -> list:
    """Aggregate columns giving an order-independent (row count, checksum) of
    ``df``: the sum of a 64-bit hash of every row, columns in name order.
    Floating-point values enter with 10 significant digits (engines sum in
    different orders); maps enter through their JSON form."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import DoubleType, FloatType, MapType

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        if isinstance(f.dataType, MapType):
            c = F.to_json(c)
        elif isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.format_string("%.9e", c)
        cols.append(c)
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    return [F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")]


def digest(df) -> tuple[int, str]:
    r = df.agg(*digest_exprs(df)).collect()[0]
    return int(r["n"]), str(r["s"])


def aligned(df, like):
    """``df`` with the column names and types of ``like`` (a DataFrame or a
    schema): a batch twin of a streaming operator, or an oracle's rows, may
    choose a wider integer type."""
    import pyspark.sql.functions as F

    schema = getattr(like, "schema", like)
    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])


# -- Spark event log ---------------------------------------------------------------


def parse_event_log(log_dir: str) -> tuple[list[dict], int]:
    """One row per completed stage: the job properties it ran under (the
    benchmark tags each phase with ``perfbench.*`` local properties), task
    count, executor run and CPU time, GC, shuffle write, spill, and task
    skew (slowest task / median task). Also returns the rows the pandas
    state operators received back from their Python workers."""
    stage_props: dict = {}
    tasks: dict = {}
    python_acc: set[int] = set()
    python_rows = 0
    # Spark 4 writes one directory per application with ``events_<n>_*`` parts
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        app = os.path.basename(os.path.dirname(path))
        with open(path) as f:
            events = [json.loads(line) for line in f if line.strip()]
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                keep = {k: v for k, v in props.items()
                        if k.startswith("perfbench.") or k in ("sql.streaming.queryId",
                                                               "streaming.sql.batchId")}
                for sid in ev.get("Stage IDs", []):
                    stage_props[(app, sid)] = keep
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_state_accumulators(ev.get("sparkPlanInfo") or {}, python_acc)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.setdefault((app, ev["Stage ID"]), []).append({
                    "dur": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })
                for a in info.get("Accumulables", []):
                    if a.get("ID") in python_acc:
                        try:
                            python_rows += int(a.get("Update", 0))
                        except (TypeError, ValueError):
                            pass
    rows = []
    for key, ts in tasks.items():
        durs = sorted(t["dur"] for t in ts)
        med = statistics.median(durs)
        rows.append({
            "app": key[0],
            "stage": key[1],
            **stage_props.get(key, {}),
            "tasks": len(ts),
            "run_ms": sum(t["run_ms"] for t in ts),
            "cpu_ms": sum(t["cpu_ms"] for t in ts),
            "gc_ms": sum(t["gc_ms"] for t in ts),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
            "spill_bytes": sum(t["spill"] for t in ts),
            # skew only where it means something: several tasks, not all tiny
            "skew": (durs[-1] / med) if len(durs) >= 4 and med >= 10 else None,
        })
    return rows, python_rows


def _python_state_accumulators(node: dict, out: set[int]) -> None:
    if "InPandasWithState" in node.get("nodeName", ""):
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m.get("accumulatorId"))
    for c in node.get("children", []):
        _python_state_accumulators(c, out)
