"""The benchmark workloads.

Each one drives a ``jobs.py``-equivalent path through the package's public
functions on the production session, times it from outside, and checks the
output against a reference. ``perfbench/README.md`` says why each workload
exists and which layer each metric belongs to.

A workload object goes through ``prepare`` (all inputs, untimed), ``warm`` (a
tiny pass of its own path; the end of set-up), ``measure`` (the timed region:
units of work back to back for ``seconds``), ``check`` (untimed output
checks), ``end_to_end`` and, in the traced run, ``layers``.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time

import numpy as np
import pandas as pd

import harness as H
import inputs

WATERMARK = "2 minutes"
MAX_LAG_SEC = 300
BOUNDED_TIMEOUT_SEC = 150

# the batch_queries pass: four heavy registry queries, one per rule table or
# function family, plus the four sub-second ones that an input-spread gate
# slowed in an earlier round
BATCH_QUERIES = (
    "conv_profile", "units_details", "effects_contextual", "doc_quality",
    "time_range", "tool_grants", "conv_tool_stats", "media_features",
)

# progress ``durationMs`` phases in the order MicroBatchExecution runs them
_PHASES = (
    ("latestOffset", "source.latest_offset"),
    ("walCommit", "pipeline.wal_commit"),
    ("getBatch", "source.get_batch"),
    ("queryPlanning", "pipeline.planning"),
    ("addBatch", "pipeline.add_batch"),
    ("commitOffsets", "pipeline.commit_offsets"),
)


class Ctx:
    """What a workload needs from the run: the session, its work directory,
    the seed and run length, the tracer and the progress listener."""

    def __init__(self, spark, work, seed, seconds, cores, tracer, listener, trace):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.cores, self.tracer, self.listener, self.trace = cores, tracer, listener, trace
        self.rng = np.random.default_rng(seed)
        self.n_queries = 0  # streaming queries started so far (listener order)

    def tag(self, phase: str, unit="") -> None:
        """Job properties that attribute the event log's stages to phases."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("perfbench.phase", phase)
        sc.setLocalProperty("perfbench.unit", str(unit))

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def new_queries(self, n: int) -> list[str]:
        """Ids of the next ``n`` streaming queries this run started, once
        the listener has seen them terminate."""
        ids = self.listener.wait_terminated(self.n_queries + n)[self.n_queries:]
        self.n_queries += n
        return ids


def _strict(extractor):
    """``jobs.py``'s strict-export wrapper: validate, then extract."""
    from stellar_etl_spark.streaming.pipeline import validate_rows

    def inner(df):
        valid, _ = validate_rows(df, strict=True)
        return extractor(valid)

    return inner


def _concurrently(calls, threads: int) -> None:
    """Run the calls on ``threads`` threads (Spark accepts jobs from several
    threads at once) and re-raise the first failure. The warm-up passes use
    this: their cost is mostly single-threaded planning and code generation,
    which overlaps across threads."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=threads) as pool:
        for f in [pool.submit(c) for c in calls]:
            f.result()


def _progress_ts(p: dict) -> float:
    return dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


class Workload:
    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.units: list[dict] = []  # one record per timed unit of work
        self.failures: list[str] = []

    def enough(self) -> bool:
        """Whether the units so far suffice once ``seconds`` have passed."""
        return len(self.units) >= (2 if self.ctx.trace else 1)

    def closed_loop(self, one) -> None:
        """Run ``one(i)`` back to back until ``seconds`` have passed and
        ``enough`` holds (at least one unit). In the traced run every other
        unit runs with spans off, so the tracing overhead is a difference of
        two medians from the same process; that run makes at least two
        units. Each unit records the machine's steal share over it."""
        ctx = self.ctx
        t_end = time.time() + ctx.seconds
        i = 0
        while not self.enough() or time.time() < t_end:
            traced = ctx.trace and i % 2 == 1
            ctx.tracer.enabled = traced
            ctx.tag("timed", i)
            ticks = H.cpu_ticks()
            try:
                rec = one(i)
            except Exception as e:  # noqa: BLE001 - a failed unit is counted, not fatal
                self.failures.append(f"unit {i}: {type(e).__name__}: {e}")
                if len(self.failures) > 2:
                    raise
                i += 1
                continue
            rec["traced"] = traced
            rec["steal"] = H.steal_share(ticks, H.cpu_ticks())
            self.units.append(rec)
            i += 1
        ctx.tracer.enabled = ctx.trace
        ctx.tag("check")

    def unit_walls(self, traced: bool | None = None) -> list[float]:
        return [u["wall"] for u in self.units if traced is None or u["traced"] == traced]

    def attempted(self) -> int:
        return len(self.units) + len(self.failures)

    def operator_layers(self, static_df) -> dict:
        """Each extractor forced through the noop sink over the same static
        input; the row counts ride the write as observed metrics."""
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        from stellar_etl_spark.operators import extract_effects, extract_turns, extract_units
        from stellar_etl_spark.operators.conversations import extract_conversations_windowed

        self.ctx.tag("operators")
        n_turns = static_df.count()
        out, rows = {}, 0
        for name, fn in (
            ("turns", extract_turns),
            ("units", extract_units),
            ("effects", extract_effects),
            ("conversations_windowed", lambda d: extract_conversations_windowed(d, "5 minutes")),
        ):
            obs = Observation(f"op-{name}")
            with self.ctx.tracer.span(f"operators.{name}") as sp:
                fn(static_df).observe(obs, F.count(F.lit(1)).alias("n")) \
                    .write.format("noop").mode("overwrite").save()
            out[f"operators.{name}_ms"] = sp.seconds * 1000
            if name != "conversations_windowed":
                rows += int(obs.get["n"])
        out["operators.rows_out_per_turn"] = rows / n_turns if n_turns else 0.0
        return out

    def trace_overhead(self) -> dict:
        on, off = self.unit_walls(True), self.unit_walls(False)
        return {"trace.overhead_ms": (H.median(on) - H.median(off)) * 1000 if on and off else 0.0}


# ---------------------------------------------------------------------------
class ExportStateful(Workload):
    """Bounded ``run_export`` of ``streaming_pairs`` (event-time timeouts),
    then of ``running_conversation_state`` (update mode), over one table cut
    in event-time order and closed by one far-future flush file; then each
    sink's merged view is counted."""

    name = "export_stateful"
    # two data files, one per trigger: every conversation that straddles the
    # cut carries state from one micro-batch to the next
    N_CONVS, N_FILES, FILES_PER_TRIGGER = 120, 2, 1
    GEN = {"conv_spacing_sec": 3, "turn_step_sec": 110}

    def _write_input(self, d, n_convs, n_files, seed) -> int:
        pdf = inputs.transcripts(n_convs, seed, **self.GEN)
        inputs.event_ordered_files(pdf, d, n_files, self.ctx.rng, disorder_sec=30)
        inputs.flush_file(d, pdf["ts"].max(), n_files)
        return len(pdf)

    def _sinks(self, out):
        from stellar_etl_spark.streaming.sink import IdempotentSink

        shutil.rmtree(out, ignore_errors=True)
        return {
            "pairs": IdempotentSink(f"{out}/pairs", ("conv_id", "user_turn_idx"),
                                    output_partitions=self.ctx.cores),
            "conv_state": IdempotentSink(f"{out}/conv_state", ("conv_id",),
                                         output_partitions=self.ctx.cores),
        }

    def _one(self, name, src, sink, ck) -> float:
        """One bounded export (the ``jobs.py export_pairs`` shape); returns
        its wall time."""
        from stellar_etl_spark.streaming.pipeline import run_export
        from stellar_etl_spark.streaming.state import running_conversation_state, streaming_pairs

        ex, mode = {
            "pairs": (lambda df: streaming_pairs(df, WATERMARK, MAX_LAG_SEC), "append"),
            "conv_state": (lambda df: running_conversation_state(df, WATERMARK), "update"),
        }[name]
        t0 = time.time()
        run_export(
            self.ctx.spark, src, _strict(ex), H.TracedSink(sink, self.ctx.tracer, name),
            ck, max_files_per_trigger=self.FILES_PER_TRIGGER,
            timeout_sec=BOUNDED_TIMEOUT_SEC, output_mode=mode,
        )
        return time.time() - t0

    def _export(self, out) -> dict:
        ctx = self.ctx
        sinks = self._sinks(out)
        t0 = time.time()
        with ctx.tracer.span("export") as root:
            walls = {n: self._one(n, self.src, s, f"{out}/ck-{n}") for n, s in sinks.items()}
            t1 = time.time()
            with ctx.tracer.span("sink.read_merge"):
                counts = {n: s.read_sink(ctx.spark).count() for n, s in sinks.items()}
        t2 = time.time()
        return {"wall": t2 - t0, "readback": t2 - t1, "qids": ctx.new_queries(2),
                "root": root.id, "walls": walls, "counts": counts, "sinks": sinks}

    def prepare(self):
        # the warm input is one file that ends with the flush row: the
        # fewest cold micro-batches that still reach every code path
        self.warm_src = self.ctx.path("warm-src")
        os.makedirs(self.warm_src)
        pdf = inputs.transcripts(20, self.ctx.seed + 7, **self.GEN)
        inputs.write_atomic(
            inputs.to_arrow(pd.concat([pdf, inputs.flush_row(pdf["ts"].max())])),
            os.path.join(self.warm_src, "part-00000.parquet"), inputs.MTIME_BASE)
        self.src = self.ctx.path("src")
        self.n_turns = self._write_input(self.src, self.N_CONVS, self.N_FILES, self.ctx.seed)

    def warm(self):
        out = self.ctx.path("warm-out")
        sinks = self._sinks(out)
        _concurrently([lambda n=n: self._one(n, self.warm_src, sinks[n], f"{out}/ck-{n}")
                       for n in sinks], 2)
        for s in sinks.values():
            s.read_sink(self.ctx.spark).count()
        self.ctx.new_queries(2)

    def measure(self):
        def one(i):
            if self.units:  # keep only the last unit's sinks for the checks
                self.units[-1].pop("sinks", None)
            return self._export(self.ctx.path(f"out-{i % 2}"))

        self.closed_loop(one)

    def batches(self, u) -> list[dict]:
        return self.ctx.listener.batches(u["qids"])

    def check(self):
        import pyspark.sql.functions as F

        from stellar_etl_spark.operators import extract_pairs
        from stellar_etl_spark.sources.transcripts import read_batch

        spark = self.ctx.spark
        last = self.units[-1]
        batch = read_batch(spark, self.src)
        pairs = last["sinks"]["pairs"].read_sink(spark)
        state = last["sinks"]["conv_state"].read_sink(spark)
        want_state = batch.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.count_if(F.col("role") == "user").alias("n_user"),
            F.max("turn_idx").alias("max_turn_idx"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias("total_chars"),
            F.max("ts").alias("last_ts"),
        )
        got_p = H.digest(pairs)
        want_p = H.digest(H.aligned(extract_pairs(batch, MAX_LAG_SEC), pairs))
        got_s, want_s = H.digest(state), H.digest(H.aligned(want_state, state))
        late = sum(o.get("numRowsDroppedByWatermark", 0) or 0
                   for u in self.units for p in self.batches(u) for o in p.get("stateOperators", []))
        multi = self._multi_batch_share()
        out = [
            ("pairs equal extract_pairs(max_lag_sec=300)", got_p == want_p,
             f"sink {got_p} batch {want_p}"),
            ("final conversation state equals the batch aggregate", got_s == want_s,
             f"sink {got_s} batch {want_s}"),
            ("no rows dropped as late", late == 0, f"{late} rows dropped"),
            # or the state store would carry nothing between micro-batches
            ("most conversations span two or more micro-batches", multi > 0.5,
             f"share {multi:.2f}"),
        ]
        if any(u["counts"] != last["counts"] for u in self.units):
            out.append(("read_sink counts equal across units", False,
                        str([u["counts"] for u in self.units])))
        return out

    def _multi_batch_share(self) -> float:
        import pyspark.sql.functions as F

        part = F.regexp_extract(F.input_file_name(), r"part-(\d+)", 1).cast("int")
        per_conv = (
            self.ctx.spark.read.parquet(self.src)
            .where(F.col("conv_id") != "flush")
            .withColumn("b", F.floor(part / self.FILES_PER_TRIGGER))
            .groupBy("conv_id").agg(F.countDistinct("b").alias("k"))
        )
        return float(per_conv.agg(F.avg((F.col("k") >= 2).cast("double"))).collect()[0][0])

    def end_to_end(self):
        """``turns_per_s`` here is the export throughput, read-back included."""
        return {"turns_per_s": self.n_turns / H.median(self.unit_walls())}

    def figures(self):
        return {"export_turns_per_s": self.n_turns / H.median(self.unit_walls()),
                "readback_s": H.median(u["readback"] for u in self.units)}

    # -- traced run ---------------------------------------------------------
    def layers(self):
        from stellar_etl_spark.sources.transcripts import read_batch

        per_unit = [self.batches(u) for u in self.units]
        for u, b in zip(self.units, per_unit):
            if u["traced"]:
                self._progress_spans(b, u["root"])
        self._nest_callbacks()
        traced_roots = {u["root"] for u in self.units if u["traced"]}
        data_batches = sum(1 for b in per_unit for p in b if p["numInputRows"])
        return {
            **self._pipeline_layers(per_unit),
            **self._state_layers(per_unit),
            **self._sink_layers(),
            **self.operator_layers(read_batch(self.ctx.spark, self.src)),
            **self.trace_overhead(),
            "state.pairs_s": H.median(u["walls"]["pairs"] for u in self.units),
            "state.conv_state_s": H.median(u["walls"]["conv_state"] for u in self.units),
            # every file exists when a bounded export starts
            "source.files_per_batch": (self.N_FILES + 1) * 2 * len(per_unit) / max(data_batches, 1),
            "source.backlog_files_max": self.N_FILES + 1,
            "source.lag_ms_p50": H.median(self._lags(per_unit)),
            "trace.span_coverage": H.coverage(
                [s for s in self.ctx.tracer.spans
                 if s["name"] != "export" or s["id"] in traced_roots], "export"),
        }

    def _progress_spans(self, batches, parent) -> None:
        """Spans for each micro-batch and its phases, laid end to end from
        the trigger start in execution order (progress reports durations,
        not offsets)."""
        tr = self.ctx.tracer
        for p in batches:
            d = p.get("durationMs") or {}
            t0 = _progress_ts(p)
            trig = tr.add("pipeline.trigger", t0, t0 + d.get("triggerExecution", 0) / 1000.0,
                          parent, batch=p.get("batchId"))
            t = t0
            for key, name in _PHASES:
                ms = d.get(key)
                if ms:
                    tr.add(name, t, t + ms / 1000.0, trig)
                    t += ms / 1000.0

    def _nest_callbacks(self) -> None:
        """Sink writes run on the streaming thread, outside the main
        thread's span stack; attach each to the ``addBatch`` phase that
        contains it."""
        spans = self.ctx.tracer.spans
        holders = [s for s in spans if s["name"] == "pipeline.add_batch"]
        for s in spans:
            if s["name"] != "sink.foreach_batch" or s["parent"] is not None:
                continue
            inside = [h for h in holders
                      if h["start"] - 0.005 <= s["start"] and s["end"] <= h["end"] + 0.005]
            if inside:
                s["parent"] = min(inside, key=lambda h: h["end"] - h["start"])["id"]

    def _lags(self, per_unit) -> list[float]:
        """A file's lag: from its query's start (the file already exists) to
        the start of the trigger that reads it."""
        lags = []
        for b in per_unit:
            by_query: dict = {}
            for p in b:
                by_query.setdefault(p["id"], []).append(p)
            for ps in by_query.values():
                t0 = min(_progress_ts(p) for p in ps)
                lags += [(_progress_ts(p) - t0) * 1000 for p in ps if p["numInputRows"]]
        return lags

    def _pipeline_layers(self, per_unit) -> dict:
        """``pipeline.*`` and ``source.*`` timings from progress reports:
        per-unit totals, median over units."""

        def tot(b, key):
            return sum((p.get("durationMs") or {}).get(key, 0) for p in b)

        def med(key):
            return H.median(tot(b, key) for b in per_unit)

        trig = [float((p.get("durationMs") or {}).get("triggerExecution", 0))
                for b in per_unit for p in b]
        add = sum(tot(b, "addBatch") for b in per_unit)
        return {
            "pipeline.batches": H.median(len(b) for b in per_unit),
            "pipeline.trigger_ms_p50": H.median(trig),
            "pipeline.planning_ms": med("queryPlanning"),
            "pipeline.add_batch_ms": med("addBatch"),
            "pipeline.wal_commit_ms": med("walCommit"),
            "pipeline.commit_offsets_ms": med("commitOffsets"),
            "pipeline.overhead_share": (sum(trig) - add) / sum(trig) if sum(trig) else 0.0,
            "source.latest_offset_ms": med("latestOffset"),
            "source.get_batch_ms": med("getBatch"),
        }

    def _state_layers(self, per_unit) -> dict:
        def ops(b):
            return [o for p in b for o in p.get("stateOperators", [])]

        def med(key):
            return H.median(sum(o.get(key, 0) or 0 for o in ops(b)) for b in per_unit)

        every = [o for b in per_unit for o in ops(b)]
        return {
            "state.commit_ms": med("commitTimeMs"),
            "state.updates_ms": med("allUpdatesTimeMs"),
            "state.removals_ms": med("allRemovalsTimeMs"),
            "state.rows_peak": max((o.get("numRowsTotal", 0) for o in every), default=0),
            "state.bytes_peak": max((o.get("memoryUsedBytes", 0) for o in every), default=0),
            "state.rows_dropped_late": sum(o.get("numRowsDroppedByWatermark", 0) or 0
                                           for o in every),
        }

    def _sink_layers(self) -> dict:
        """Files, bytes and rows the last unit's sinks hold; write time from
        the delegating sink's spans, per traced unit."""
        files = size = rows = 0
        for s in self.units[-1]["sinks"].values():
            for dirpath, _, names in os.walk(s.path):
                if os.path.basename(dirpath).startswith("epoch="):
                    for n in names:
                        if not n.startswith((".", "_")):
                            files += 1
                            size += os.path.getsize(os.path.join(dirpath, n))
            rows += sum(e["rows"] for e in s.lineage())
        spans = self.ctx.tracer.spans
        roots = [s for s in spans if s["name"] == "export"
                 and s["id"] in {u["root"] for u in self.units if u["traced"]}]
        per_root = [
            sum(s["end"] - s["start"] for s in spans if s["name"] == "sink.foreach_batch"
                and r["start"] <= s["start"] <= r["end"])
            for r in roots
        ]
        return {
            "sink.write_ms": H.median(v * 1000 for v in per_root),
            "sink.files_written": files,
            "sink.bytes_written": size,
            "sink.rows_written": rows,
            "sink.read_merge_ms": H.median(u["readback"] * 1000 for u in self.units),
        }

    def baseline_local1(self, restart) -> dict:
        """The single-thread baseline: one unit of the same export on a new
        ``local[1]`` context in the same, already warm, JVM."""
        self.ctx.spark = restart(1)
        self.ctx.tag("baseline")
        self.ctx.tracer.enabled = False
        rec = self._export(self.ctx.path("out-local1"))
        return {"baseline.local1_turns_per_s": self.n_turns / rec["wall"]}


# ---------------------------------------------------------------------------
class BatchQueries(Workload):
    """The registry queries, each forced through the noop sink, in passes.
    Each query's row count and checksum ride its write as observed metrics,
    so the output is checked without running the query again."""

    name = "batch_queries"
    # Each query's figure is its fastest pass of the run. The JIT still
    # speeds every query up from pass to pass, and the hypervisor's steal
    # only ever adds time, so the fastest pass is the one that repeats from
    # run to run; the median over runs is taken across runs. A run makes
    # passes until QUIET_PASSES of them had under QUIET_STEAL of the
    # machine's CPU time stolen, or MAX_PASSES in all.
    QUIET_STEAL, QUIET_PASSES, MAX_PASSES = 0.02, 3, 4
    WARM_ROUNDS = 5
    # per-query fixed costs dominate at these sizes (a warm pass takes about
    # the same time on 600 events as on 10,000)
    SIZE = {"n_events": 1_500, "n_users": 25, "n_docs": 60}

    def _pass(self, unit) -> dict:
        from pyspark.sql import Observation

        from stellar_etl_spark.plans.registry import queries

        qs, sc = queries(), self.ctx.spark.sparkContext
        times, digests = {}, {}
        with self.ctx.tracer.span("registry.pass", unit=unit):
            for name in BATCH_QUERIES:
                sc.setLocalProperty("perfbench.query", name)
                obs = Observation(f"digest-{name}-{unit}")
                with self.ctx.tracer.span(f"registry.q_{name}") as sp:
                    df = qs[name](self.ctx.spark, self.dir)
                    self.schemas[name] = df.schema
                    df.observe(obs, *H.digest_exprs(df)) \
                        .write.format("noop").mode("overwrite").save()
                times[name] = sp.seconds
                r = obs.get
                digests[name] = (int(r["n"]), str(r["s"]))
        sc.setLocalProperty("perfbench.query", None)
        return {"wall": sum(times.values()), "times": times, "digests": digests}

    def prepare(self):
        self.dir = self.ctx.path("tables")
        inputs.write_registry_tables(self.dir, self.ctx.seed, **self.SIZE)
        self.n_turns = self.SIZE["n_events"]  # one transcript turn per event
        self.schemas = {}

    def warm(self):
        # every query over the same tables, one thread per core, in rounds:
        # the first round pays for class loading and code generation, the
        # later ones let the JIT compile the per-query driver path, which
        # otherwise speeds up pass after pass through the timed region
        from stellar_etl_spark.plans.registry import queries

        qs = queries()
        for _ in range(self.WARM_ROUNDS):
            _concurrently([lambda q=q: qs[q](self.ctx.spark, self.dir).write.format("noop")
                           .mode("overwrite").save() for q in BATCH_QUERIES], self.ctx.cores)

    def enough(self):
        quiet = sum(u["steal"] < self.QUIET_STEAL for u in self.units)
        return super().enough() and (quiet >= self.QUIET_PASSES
                                     or len(self.units) >= self.MAX_PASSES)

    def measure(self):
        self.closed_loop(self._pass)

    def per_query(self) -> dict[str, float]:
        return {q: min(u["times"][q] for u in self.units) for q in BATCH_QUERIES}

    def check(self):
        import duckdb

        from stellar_etl_spark.plans.registry import oracle_sql

        sqls = oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            for t in ("events", "documents"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            tables = {q: con.execute(sqls[q]).fetch_arrow_table() for q in BATCH_QUERIES}
        finally:
            con.close()

        def one(name):
            got = {u["digests"][name] for u in self.units}
            table, like = tables[name], self.schemas[name]
            if sorted(table.column_names) != sorted(like.names):
                return (f"{name} matches its DuckDB oracle", False,
                        f"columns {sorted(like.names)} vs {sorted(table.column_names)}")
            want = H.digest(H.aligned(self.ctx.spark.createDataFrame(table), like))
            return (f"{name} matches its DuckDB oracle", got == {want},
                    f"spark {sorted(got)} oracle {want}")

        out = {}
        _concurrently([lambda q=q: out.__setitem__(q, one(q)) for q in BATCH_QUERIES],
                      self.ctx.cores)
        return [out[q] for q in BATCH_QUERIES]

    def end_to_end(self):
        """``turns_per_s`` here is the events table's turns times the number
        of queries, per second of ``batch_queries_s``."""
        return {"turns_per_s": self.n_turns * len(BATCH_QUERIES) / self.figures()["batch_queries_s"]}

    def figures(self):
        return {"batch_queries_s": sum(self.per_query().values())}

    def layers(self):
        from stellar_etl_spark.plans.transcript_view import transcripts_from_events

        return {
            "registry.batch_queries_s": self.figures()["batch_queries_s"],
            **{f"registry.{q}_s": v for q, v in self.per_query().items()},
            **self.operator_layers(
                transcripts_from_events(self.ctx.spark, self.dir).drop("conv_seq")),
            **self.trace_overhead(),
        }


WORKLOADS = {w.name: w for w in (ExportStateful, BatchQueries)}
