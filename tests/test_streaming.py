"""Streaming-layer tests: exactly-once replay, batch-size independence (the
reference's key golden property, ``cmd/export_ledgers_test.go:44-50``),
stateful operators vs their batch forms, fan-out, validation."""

import os
import shutil

import pyspark.sql.functions as F
import pytest

from stellar_etl_spark.generator import transcripts_df, write_transcripts
from stellar_etl_spark.operators import extract_pairs, extract_turns
from stellar_etl_spark.operators.sessions import extract_sessions, extract_sessions_streaming
from stellar_etl_spark.streaming.pipeline import (
    run_export,
    run_fanout_export,
    stream_stream_join_pairs,
    validate_rows,
)
from stellar_etl_spark.streaming.listener import MetricsListener
from stellar_etl_spark.streaming.sink import IdempotentSink
from stellar_etl_spark.streaming.state import running_conversation_state, streaming_pairs


@pytest.fixture(scope="module")
def source(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("stream_src")
    df = transcripts_df(spark, n_convs=40, hot_convs=1, hot_turns=60)
    path = str(tmp / "transcripts")
    write_transcripts(df, path)
    return path, df


def _flush_sentinel(spark, path, ts="2026-06-01 00:00:00"):
    """Append a far-future row to push the watermark past all real data."""
    s = (
        spark.createDataFrame(
            [("flush", 0, "system", "", None, ts)],
            "conv_id string, turn_idx int, role string, text string, tool string, ts string",
        )
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("ts_date", F.to_date("ts"))
    )
    s.write.mode("append").partitionBy("ts_date").parquet(path)


def _write_file_at(spark, src, rows, mtime_offset_sec):
    """Append one parquet file of transcript rows and pin its modification
    time: the file source orders batches by mtime, so tests whose semantics
    depend on the batch order must not rely on write order."""
    import glob
    import time as _time

    (
        spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts string",
        )
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("ts_date", F.to_date("ts"))
        .coalesce(1)
        .write.mode("append")
        .partitionBy("ts_date")
        .parquet(src)
    )
    now = _time.time()
    for f in glob.glob(src + "/*/*.parquet"):
        if os.path.getmtime(f) > now - 5:
            os.utime(f, (now + mtime_offset_sec, now + mtime_offset_sec))


def test_stream_equals_batch_and_lineage(spark, source, tmp_path):
    path, df = source
    sink = IdempotentSink(str(tmp_path / "turns"), ("conv_id", "turn_idx"))
    m = run_export(spark, path, extract_turns, sink, str(tmp_path / "ckpt"),
                   max_files_per_trigger=2, with_listener=True)
    got = sink.read_sink(spark)
    expected = extract_turns(df)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    lineage = sink.lineage()
    assert len(lineage) >= 2  # multiple epochs committed
    assert sum(e["rows"] for e in lineage) == expected.count()
    # run_export waits for the run's termination event, so the listener has
    # every progress event of the run
    assert m["batches"] >= 1 and m["input_rows"] == df.count()


def test_exactly_once_replay(spark, source, tmp_path):
    """Kill-after-write-before-commit: delete the last commit marker so the
    resumed query re-executes the final epoch — the sink must end byte-identical
    (the reference's deterministic-filename replay semantics)."""
    path, df = source
    sink = IdempotentSink(str(tmp_path / "turns"), ("conv_id", "turn_idx"))
    ckpt = str(tmp_path / "ckpt")
    run_export(spark, path, extract_turns, sink, ckpt, max_files_per_trigger=2)
    before = sorted(map(tuple, sink.read_sink(spark).collect()))

    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    # also corrupt the epoch dir to prove it is fully rewritten
    shutil.rmtree(os.path.join(str(tmp_path / "turns"), f"epoch={int(last)}"))

    run_export(spark, path, extract_turns, sink, ckpt, max_files_per_trigger=2)
    after = sorted(map(tuple, sink.read_sink(spark).collect()))
    assert after == before


def test_batch_size_independence(spark, source, tmp_path):
    """Same rows regardless of micro-batch boundaries — maxFilesPerTrigger 1
    vs unbounded must produce identical sink contents."""
    path, df = source
    outs = []
    for i, mfpt in enumerate([1, None]):
        sink = IdempotentSink(str(tmp_path / f"t{i}"), ("conv_id", "turn_idx"))
        run_export(spark, path, extract_turns, sink, str(tmp_path / f"c{i}"),
                   max_files_per_trigger=mfpt)
        outs.append(sorted(map(tuple, sink.read_sink(spark).collect())))
    assert outs[0] == outs[1]


def test_stateful_pairs_match_batch_with_state_recovery(spark, source, tmp_path):
    """Two separate runs over the SAME checkpoint: run 1 buffers state (most
    pairs not yet watermark-finalized), run 2 recovers the state store and the
    sentinel pushes the watermark so everything emits — must equal the batch
    range-join exactly. Exercises cross-run state recovery, not just one-shot
    execution."""
    path, df = source
    src = str(tmp_path / "src")
    shutil.copytree(path, src)
    sink = IdempotentSink(str(tmp_path / "pairs"), ("conv_id", "user_turn_idx"))
    ckpt = str(tmp_path / "ckpt")
    ex = lambda s: streaming_pairs(s, "2 minutes", 300)  # noqa: E731
    run_export(spark, src, ex, sink, ckpt, max_files_per_trigger=4)
    n_first = sink.read_sink(spark).count()
    _flush_sentinel(spark, src)
    run_export(spark, src, ex, sink, ckpt, max_files_per_trigger=4)
    got = sink.read_sink(spark).where(F.col("conv_id") != "flush")
    want = extract_pairs(df, max_lag_sec=300)
    assert n_first < want.count()  # run 1 left pending state behind
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_stream_stream_join_matches_batch_join(spark, source, tmp_path):
    path, df = source
    src_copy = str(tmp_path / "src")
    shutil.copytree(path, src_copy)
    _flush_sentinel(spark, src_copy)
    sink = IdempotentSink(str(tmp_path / "ssj"), ("conv_id", "user_turn_idx", "resp_turn_idx"))
    run_export(spark, src_copy, lambda s: stream_stream_join_pairs(s, "2 minutes", 300),
               sink, str(tmp_path / "ckpt"))
    got = sink.read_sink(spark).where(F.col("conv_id") != "flush")
    # batch equivalent: inner range join, all responses in horizon
    users = df.where(F.col("role") == "user").select(
        "conv_id", F.col("turn_idx").alias("user_turn_idx"),
        F.col("ts").alias("user_ts"), F.col("text").alias("user_text"))
    resps = df.where(F.col("role").isin("assistant", "tool")).select(
        F.col("conv_id").alias("rc"), F.col("turn_idx").alias("resp_turn_idx"),
        F.col("role").alias("resp_role"), F.col("ts").alias("resp_ts"),
        F.col("text").alias("resp_text"))
    want = users.join(
        resps,
        (users.conv_id == resps.rc)
        & (resps.resp_turn_idx > users.user_turn_idx)
        & (resps.resp_ts >= users.user_ts)
        & (resps.resp_ts <= users.user_ts + F.expr("INTERVAL 300 SECONDS")),
        "inner",
    )
    assert got.count() == want.count()


def test_session_window_streaming_matches_batch(spark, tmp_path):
    # in-order data (disorder=0): native session windows == batch gap-islands
    df = transcripts_df(spark, n_convs=25, disorder_sec=0, session_break_gap_sec=3600)
    path = str(tmp_path / "src")
    write_transcripts(df, path)
    _flush_sentinel(spark, path)
    sink = IdempotentSink(str(tmp_path / "sess"), ("conv_id", "session_start"))
    run_export(spark, path, lambda s: extract_sessions_streaming(s, "30 minutes", "2 minutes"),
               sink, str(tmp_path / "ckpt"))
    got = sink.read_sink(spark).where(F.col("conv_id") != "flush")
    want = extract_sessions(df, gap_sec=1800)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_running_state_accumulates(spark, source, tmp_path):
    path, df = source
    sink = IdempotentSink(str(tmp_path / "state"), ("conv_id",))
    run_export(spark, path, lambda s: running_conversation_state(s, "2 minutes"),
               sink, str(tmp_path / "ckpt"), max_files_per_trigger=2,
               output_mode="update")
    # merge-on-read keeps the LAST snapshot per conv — must equal batch totals
    got = sink.read_sink(spark)
    want = df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count(F.when(F.col("role") == "user", 1)).alias("n_user"),
        F.max("turn_idx").alias("max_turn_idx"),
        F.sum(F.length(F.coalesce("text", F.lit("")))).alias("total_chars"),
        F.max("ts").alias("last_ts"),
    )
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields
    ]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # more than one snapshot epoch: the state really crossed micro-batches
    assert sink.read_raw(spark).select("epoch").distinct().count() > 1


def test_running_state_counts_rows_behind_watermark(spark, tmp_path):
    """The accumulator's grouping key has no event-time column, so a row
    arriving after the watermark has passed it is still folded in — the
    reference's orderbook fold never drops a change."""
    src = str(tmp_path / "src")
    _write_file_at(spark, src, [
        ("conv_a", 0, "user", "hello", None, "2026-01-01 10:00:00"),
        ("conv_a", 1, "assistant", "héllo 東京", None, "2026-01-01 10:00:10"),
        ("advancer", 0, "user", "far future", None, "2026-01-01 12:00:00"),
    ], -120)
    _write_file_at(spark, src, [
        ("conv_b", 0, "user", None, None, "2026-01-01 12:00:30"),
    ], -60)
    # two batches after the watermark (11:58) passed 10:00:20
    _write_file_at(spark, src, [
        ("conv_a", 2, "user", "late", None, "2026-01-01 10:00:20"),
    ], 0)
    sink = IdempotentSink(str(tmp_path / "state"), ("conv_id",))
    run_export(spark, src, lambda s: running_conversation_state(s, "2 minutes"),
               sink, str(tmp_path / "ck"), max_files_per_trigger=1,
               output_mode="update")
    raw = sink.read_raw(spark).where(F.col("conv_id") == "conv_a").collect()
    assert sorted(r["n_turns"] for r in raw) == [2, 3]
    got = {r["conv_id"]: r.asDict() for r in sink.read_sink(spark).collect()}
    assert got["conv_a"]["n_turns"] == 3 and got["conv_a"]["n_user"] == 2
    assert got["conv_a"]["max_turn_idx"] == 2
    assert got["conv_a"]["total_chars"] == len("hello") + len("héllo 東京") + len("late")
    assert str(got["conv_a"]["last_ts"]) == "2026-01-01 10:00:20"
    assert got["conv_b"]["total_chars"] == 0


@pytest.fixture()
def wide_session(spark):
    """The session at twice the core count of shuffle partitions (the
    production default on few cores), restored afterwards."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    wide = str(2 * spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", wide)
    yield wide
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _conv_state_export(spark, src, out, ck, mfpt=None):
    sink = IdempotentSink(out, ("conv_id",))
    m = run_export(spark, src, lambda s: running_conversation_state(s, "2 minutes"),
                   sink, ck, max_files_per_trigger=mfpt, output_mode="update",
                   with_listener=True)
    return sink, m


def test_export_caps_state_partitions_at_cores(spark, source, tmp_path, wide_session):
    """A query started by run_export runs one state partition per core; the
    session setting is back at its value once the query has started."""
    path, _ = source
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        # run_export's own listener, registered after this one, has seen
        # the run's last event when it returns, so this one has too
        _conv_state_export(spark, path, str(tmp_path / "out"), str(tmp_path / "ck"), 2)
        (run_id,) = {s["runId"] for s in listener.snapshots}
        assert listener.wait_terminated(run_id)
    finally:
        spark.streams.removeListener(listener)
    cores = spark.sparkContext.defaultParallelism
    instances = [op["numStateStoreInstances"]
                 for s in listener.snapshots for op in s["stateOperators"]]
    assert len(listener.snapshots) >= 2 and set(instances) == {cores}
    assert listener.summary(run_id)["state_partitions"] == cores
    assert spark.conf.get("spark.sql.shuffle.partitions") == wide_session


def test_resumed_checkpoint_keeps_state_partitions(spark, tmp_path, wide_session):
    """A checkpoint made at more partitions than cores resumes at its own
    count through run_export, and ends with the rows of one uninterrupted
    run."""
    from stellar_etl_spark.sources.transcripts import read_stream

    df = transcripts_df(spark, n_convs=12)
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    write_transcripts(df.where("turn_idx < 3").coalesce(1), src, partition_by_day=False)
    sink = IdempotentSink(str(tmp_path / "out"), ("conv_id",))
    q = (
        running_conversation_state(read_stream(spark, src), "2 minutes")
        .writeStream.foreachBatch(sink.foreach_batch)
        .option("checkpointLocation", ck)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert {p["stateOperators"][0]["numStateStoreInstances"] for p in q.recentProgress} == {
        int(wide_session)
    }
    write_transcripts(df.where("turn_idx >= 3").coalesce(1), src, partition_by_day=False,
                      mode="append")
    sink, resumed = _conv_state_export(spark, src, str(tmp_path / "out"), ck)
    assert resumed["batches"] >= 1 and resumed["state_partitions"] == int(wide_session)
    whole, _ = _conv_state_export(spark, src, str(tmp_path / "whole"), str(tmp_path / "ck-whole"))
    assert sorted(map(tuple, sink.read_sink(spark).collect())) == sorted(
        map(tuple, whole.read_sink(spark).collect())
    )


def test_concurrent_exports_restore_session_partitions(spark, source, tmp_path, wide_session):
    """Two exports starting on two threads each cap their own query and
    leave the session setting as it was."""
    from concurrent.futures import ThreadPoolExecutor

    path, _ = source
    with ThreadPoolExecutor(max_workers=2) as pool:
        runs = [
            pool.submit(_conv_state_export, spark, path, str(tmp_path / f"out{i}"),
                        str(tmp_path / f"ck{i}"))
            for i in range(2)
        ]
        summaries = [r.result()[1] for r in runs]
    cores = spark.sparkContext.defaultParallelism
    assert [m["state_partitions"] for m in summaries] == [cores, cores]
    assert spark.conf.get("spark.sql.shuffle.partitions") == wide_session


def test_scoped_conf_threads_see_own_value_and_restore(spark):
    """Many threads each scope their own value of one setting: inside its
    scope a thread reads its own value, and the setting ends where it
    started."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from stellar_etl_spark.session import scoped_conf

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)

    def scope(i):
        for _ in range(5):
            with scoped_conf(spark, {key: str(100 + i)}):
                if spark.conf.get(key) != str(100 + i):
                    return False
        return True

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            results = [f.result(timeout=60) for f in [pool.submit(scope, i) for i in range(16)]]
    finally:
        sys.setswitchinterval(old_interval)
    assert all(results)
    assert spark.conf.get(key) == before


def test_harness_sentinel_ordered_by_mtime(tmp_path):
    """The oracle harness's flush sentinel must be the newest file by mtime,
    whatever order the files were written in, and a harness that wrote no
    data files must fail instead of checking an empty stream."""
    import time as _time

    from stellar_etl_spark.plans.registry import _data_files, _stamp_after

    src = tmp_path / "src"
    src.mkdir()
    with pytest.raises(RuntimeError, match="no data files"):
        _data_files(str(src))
    future = _time.time() + 100
    for name in ("part-00000.parquet", "part-00001.parquet"):
        (src / name).write_bytes(b"")
        os.utime(src / name, (future, future))
    (src / ".part-00000.parquet.crc").write_bytes(b"")
    data = _data_files(str(src))
    assert sorted(data) == ["part-00000.parquet", "part-00001.parquet"]
    (src / "part-00002.parquet").write_bytes(b"")  # the sentinel, older by mtime
    _stamp_after(str(src), data)
    assert os.path.getmtime(src / "part-00002.parquet") > future
    assert os.path.getmtime(src / "part-00000.parquet") == future


def test_fanout_single_scan(spark, source, tmp_path):
    path, df = source
    from stellar_etl_spark.operators import extract_conversations

    sinks = run_fanout_export(
        spark, path,
        {"turns": extract_turns, "convs": extract_conversations},
        str(tmp_path / "fan"), str(tmp_path / "ckpt"),
        keys={"turns": ("conv_id", "turn_idx"), "convs": ("conv_id",)},
    )
    assert sinks["turns"].read_sink(spark).count() == df.count()
    # per-epoch conv summaries: merge-on-read keeps one row per conv
    assert sinks["convs"].read_sink(spark).count() == df.select("conv_id").distinct().count()


def test_validate_rows_lenient_and_strict(spark):
    rows = [
        ("c", 0, "user", "ok", None, "2026-01-01 00:00:00"),
        (None, 1, "user", "bad conv", None, "2026-01-01 00:00:01"),
        ("c", -2, "user", "bad idx", None, "2026-01-01 00:00:02"),
        ("c", 3, "alien", "bad role", None, "2026-01-01 00:00:03"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    valid, rejected = validate_rows(df, strict=False)
    assert valid.count() == 1
    reasons = sorted(r["_reject_reason"] for r in rejected.collect())
    assert reasons == ["invalid turn_idx", "null conv_id", "unknown role"]

    strict_df, _ = validate_rows(df, strict=True)
    with pytest.raises(Exception, match="strict-export"):
        strict_df.collect()


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """A2 streaming form: dropDuplicatesWithinWatermark over duplicate
    deliveries == batch first-seen dedup (same key set, same count)."""
    from stellar_etl_spark.operators.dedup import streaming_first_seen_dedup

    df = transcripts_df(spark, n_convs=30, with_duplicates=True)
    path = str(tmp_path / "src")
    write_transcripts(df, path)
    sink = IdempotentSink(str(tmp_path / "out"), ("conv_id", "turn_idx"))
    run_export(
        spark, path,
        lambda s: streaming_first_seen_dedup(s, ["conv_id", "turn_idx"], "2 minutes"),
        sink, str(tmp_path / "ckpt"),
    )
    got = sink.read_sink(spark)
    want = df.dropDuplicates(["conv_id", "turn_idx"])
    assert got.count() == want.count()
    assert got.select("conv_id", "turn_idx").exceptAll(
        want.select("conv_id", "turn_idx")
    ).count() == 0


def test_windowed_agg_streaming_matches_batch(spark, tmp_path):
    """Tumbling-window conversation aggregates: streaming append-mode output
    (after watermark flush) == batch windowed aggregation."""
    from stellar_etl_spark.operators.conversations import extract_conversations_windowed

    df = transcripts_df(spark, n_convs=30)
    path = str(tmp_path / "src")
    write_transcripts(df, path)
    _flush_sentinel(spark, path)
    sink = IdempotentSink(str(tmp_path / "out"), ("conv_id", "window_start"))
    run_export(
        spark, path,
        lambda s: extract_conversations_windowed(s, "5 minutes", watermark="2 minutes"),
        sink, str(tmp_path / "ckpt"),
    )
    got = sink.read_sink(spark).where(F.col("conv_id") != "flush")
    want = extract_conversations_windowed(df, "5 minutes")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_window_close_latency_measurement(spark):
    from stellar_etl_spark.streaming.latency import measure_window_close_latency

    # wall-clock sensitive: under full-suite CPU contention a run can abort —
    # retry once before declaring failure
    last_exc = None
    for _ in range(2):
        try:
            r = measure_window_close_latency(
                spark, n_convs=300, feed_slices=3, feed_interval_sec=1.0, timeout_sec=90
            )
            break
        except Exception as e:  # noqa: BLE001
            last_exc = e
    else:
        raise last_exc
    assert r["windows"] > 0
    assert 0 < r["close_latency_ms_mean"] < 60_000


def test_validated_export_routes_rejected(spark, tmp_path):
    from stellar_etl_spark.streaming.pipeline import run_validated_export

    good = transcripts_df(spark, n_convs=10)
    bad = spark.createDataFrame(
        [(None, 0, "user", "bad", None, "2026-01-01 00:00:00"),
         ("c", 1, "alien", "bad role", None, "2026-01-01 00:00:01")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "src")
    write_transcripts(good.unionByName(bad), path)

    sink = IdempotentSink(str(tmp_path / "out"), ("conv_id", "turn_idx"))
    rej = IdempotentSink(str(tmp_path / "rej"), ("turn_idx",))
    run_validated_export(spark, path, extract_turns, sink, rej, str(tmp_path / "ckpt"))
    assert sink.read_sink(spark).count() == good.count()
    rejected = rej.read_raw(spark)
    assert rejected.count() == 2
    assert set(r["_reject_reason"] for r in rejected.collect()) == {"null conv_id", "unknown role"}


def test_stateful_pairs_hot_conversation(spark, tmp_path):
    """Skew stress: one 1024-turn hot conversation through the stateful
    pairing operator — state stays bounded, output matches batch exactly."""
    df = transcripts_df(spark, n_convs=12, hot_convs=1, hot_turns=1024)
    path = str(tmp_path / "src")
    write_transcripts(df, path)
    _flush_sentinel(spark, path)
    sink = IdempotentSink(str(tmp_path / "out"), ("conv_id", "user_turn_idx"))
    run_export(spark, path, lambda s: streaming_pairs(s, "2 minutes", 300),
               sink, str(tmp_path / "ckpt"), max_files_per_trigger=4)
    got = sink.read_sink(spark).where(F.col("conv_id") != "flush")
    want = extract_pairs(df, max_lag_sec=300)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_session_windows_under_disorder(spark, tmp_path):
    """Session windows with out-of-order events (disorder < watermark):
    event-time semantics make streaming == batch regardless of arrival
    order within the watermark bound."""
    df = transcripts_df(spark, n_convs=20, disorder_sec=10, session_break_gap_sec=3600)
    path = str(tmp_path / "src")
    write_transcripts(df, path)
    _flush_sentinel(spark, path)
    sink = IdempotentSink(str(tmp_path / "sess"), ("conv_id", "session_start"))
    run_export(spark, path, lambda s: extract_sessions_streaming(s, "30 minutes", "2 minutes"),
               sink, str(tmp_path / "ckpt"))
    got = sink.read_sink(spark).where(F.col("conv_id") != "flush")
    want = extract_sessions(df, gap_sec=1800)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_lineage_single_job_per_epoch(spark, tmp_path):
    """The lineage row count rides the write job as an observed metric —
    committing an epoch must cost exactly one Spark job (the old re-read
    .count() added a second job per micro-batch)."""
    sc = spark.sparkContext
    df = transcripts_df(spark, n_convs=5)
    sink = IdempotentSink(str(tmp_path / "one_job"))
    sc.setJobGroup("lineage-job-count", "one job per epoch")
    try:
        sink.foreach_batch(df, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    ids = sc.statusTracker().getJobIdsForGroup("lineage-job-count")
    assert len(ids) == 1, ids
    assert sink.lineage()[0]["rows"] == df.count()


def test_late_row_watermark_semantics(spark, tmp_path):
    """SURVEY §7.3 pinned deviation: the reference's ledger close is
    definitional, ours is watermark-inferred. Spark's two-watermark design
    (SPARK-40025) gives EXACTLY one micro-batch of grace: the late-event
    filter uses the PREVIOUS batch's watermark, the eviction the current
    one. So a turn arriving one batch after the watermark passed its window
    still merges before the window emits; a turn arriving two-or-more
    batches later is dropped outright — the emitted window is final."""
    from stellar_etl_spark.operators.conversations import extract_conversations_windowed

    src = str(tmp_path / "src")

    _write_file_at(spark, src, [
        ("conv_x", 0, "user", "hello", None, "2026-01-01 10:00:00"),
        ("conv_x", 1, "assistant", "hi", None, "2026-01-01 10:00:10"),
        ("advancer", 0, "user", "far future", None, "2026-01-01 12:00:00"),
    ], -180)
    # one batch after the watermark (11:59) passed the [10:00, 10:05)
    # window: still inside the grace batch -> merges before emission
    _write_file_at(spark, src, [
        ("conv_x", 2, "user", "grace turn", None, "2026-01-01 10:00:20"),
        ("conv_y", 0, "user", "on time", None, "2026-01-01 12:00:30"),
    ], -120)
    # two batches after: dropped outright, no fragment row
    _write_file_at(spark, src, [
        ("conv_x", 3, "user", "far too late", None, "2026-01-01 10:00:30"),
    ], -60)
    _write_file_at(spark, src, [
        ("flush", 0, "system", "", None, "2026-06-01 00:00:00"),
    ], 0)
    sink = IdempotentSink(str(tmp_path / "wins"), ("conv_id", "window_start"))
    run_export(
        spark, src,
        lambda s: extract_conversations_windowed(s, "5 minutes", "1 minute"),
        sink, str(tmp_path / "ck"), max_files_per_trigger=1,
    )
    frags = sink.read_raw(spark).where(F.col("conv_id") == "conv_x").collect()
    # exactly ONE emitted row for conv_x's window: the 2 on-time turns plus
    # the grace-batch turn; the 2-batches-late turn left no trace
    assert len(frags) == 1 and frags[0]["n_turns"] == 3
    merged = {r["conv_id"]: r for r in sink.read_sink(spark).collect()}
    assert merged["conv_x"]["n_turns"] == 3
    assert "conv_y" in merged and "advancer" in merged


def test_sink_compaction_preserves_merge_view(spark, source, tmp_path):
    """compact() folds N epochs into one BASELINE epoch (id below every
    future batch id); the merge-on-read relation is byte-identical before
    and after, lineage reflects the rewrite, the old epoch dirs are gone
    (rewrite_data_files analog) — and a RESUMED export over the same
    checkpoint must not collide with the compacted epoch (the next batch id
    continues upward while the baseline sits below zero)."""
    orig_path, df = source
    path = str(tmp_path / "src")
    shutil.copytree(orig_path, path)  # the test appends — don't mutate the fixture
    sink = IdempotentSink(str(tmp_path / "turns"), ("conv_id", "turn_idx"))
    run_export(spark, path, extract_turns, sink, str(tmp_path / "ckpt"),
               max_files_per_trigger=2)
    assert len(sink.lineage()) >= 2
    before = sorted(map(tuple, sink.read_sink(spark).collect()))
    epoch = sink.compact(spark)
    assert epoch < 0  # baseline: below any future micro-batch id
    after = sorted(map(tuple, sink.read_sink(spark).collect()))
    assert after == before
    dirs = [n for n in os.listdir(str(tmp_path / "turns")) if n.startswith("epoch=")]
    assert dirs == [f"epoch={epoch}"]
    lin = sink.lineage()
    assert len(lin) == 1 and lin[0]["rows"] == len(before)

    # resume: new data arrives, the SAME checkpoint continues batch ids —
    # the compacted history must survive and the new rows must land
    extra = spark.createDataFrame(
        [("resumed_conv", 0, "user", "hello again", None, "2026-03-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).withColumn("ts_date", F.to_date("ts"))
    extra.write.mode("append").partitionBy("ts_date").parquet(path)
    run_export(spark, path, extract_turns, sink, str(tmp_path / "ckpt"),
               max_files_per_trigger=2)
    resumed = sink.read_sink(spark)
    assert resumed.count() == len(before) + 1
    assert resumed.where(F.col("conv_id") == "resumed_conv").count() == 1


def test_jsonl_sink_exports_lines(spark, source, tmp_path):
    """K1: the JSONL sink writes line-delimited files per epoch with the same
    deterministic overwrite semantics; every line parses and the count
    matches the batch extractor."""
    import json as _json

    path, df = source
    sink = IdempotentSink(str(tmp_path / "turns_jsonl"), ("conv_id", "turn_idx"), fmt="json")
    run_export(spark, path, extract_turns, sink, str(tmp_path / "ckpt_jsonl"),
               max_files_per_trigger=2)
    n_lines = 0
    root = str(tmp_path / "turns_jsonl")
    for d in os.listdir(root):
        if not d.startswith("epoch="):
            continue
        for f in os.listdir(os.path.join(root, d)):
            if f.endswith(".json"):
                with open(os.path.join(root, d, f)) as fh:
                    for line in fh:
                        rec = _json.loads(line)
                        assert "conv_id" in rec and "turn_idx" in rec
                        n_lines += 1
    assert n_lines == extract_turns(df).count()


def test_streaming_pairs_user_only_conversation(spark, tmp_path):
    """A conversation with users but zero responses must emit unmatched rows,
    not crash (regression: empty response buffer faulted the matcher's
    vectorized take at sf0.1)."""
    rows = [
        ("lonely", i, "user", f"question {i}", None, f"2026-01-01 00:00:{i:02d}")
        for i in range(3)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "src")
    write_transcripts(df, path)
    _flush_sentinel(spark, path)
    sink = IdempotentSink(str(tmp_path / "pairs"), ("conv_id", "user_turn_idx"))
    run_export(
        spark, path, lambda s: streaming_pairs(s, "2 minutes", 300), sink,
        str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    got = sink.read_sink(spark).where(F.col("conv_id") == "lonely").collect()
    assert len(got) == 3
    assert all(r["resp_turn_idx"] is None and r["resp_role"] is None for r in got)


def test_streaming_pairs_state_bounded_under_disorder(spark, tmp_path):
    """Watermark eviction keeps stateful-join state bounded: the peak state
    footprint reported by the state store stays below the cumulative input,
    and the listener summary surfaces the rows/bytes metrics."""
    df = transcripts_df(spark, n_convs=30, disorder_sec=30)
    path = str(tmp_path / "src")
    write_transcripts(df, path)
    _flush_sentinel(spark, path)
    sink = IdempotentSink(str(tmp_path / "pairs"), ("conv_id", "user_turn_idx"))
    m = run_export(
        spark, path, lambda s: streaming_pairs(s, "2 minutes", 300), sink,
        str(tmp_path / "ckpt_state"), max_files_per_trigger=2, with_listener=True,
    )
    total_rows = df.count() + 1  # + sentinel
    assert m["max_state_rows"] > 0
    assert m["max_state_rows"] < total_rows
    assert m["final_state_rows"] <= m["max_state_rows"]
    assert m["max_state_bytes"] > 0


def _mk_batch(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, score int"
    )


def test_merge_semantics_shared(spark, tmp_path):
    """The key-precedence MERGE resolution is ONE shared function
    (key_precedence_dedup): folding a replayed batch history through the
    Iceberg-MERGE semantics (per-batch dedup, then sequential upsert — later
    batch wins on key match, replays idempotent) yields exactly the relation
    IdempotentSink.read_sink merges from the same epochs."""
    from stellar_etl_spark.streaming.sink import key_precedence_dedup

    keys = ["conv_id", "turn_idx"]
    history = [
        # epoch 0: within-batch duplicate key (at-least-once delivery)
        (0, [("a", 0, "v1", 1), ("a", 0, "v2", 2), ("b", 0, "b1", 1)]),
        # epoch 1: updates a, inserts c
        (1, [("a", 0, "v3", 3), ("c", 0, "c1", 1)]),
        # epoch 1 REPLAYED (killed-and-resumed job rewrites the same batch)
        (1, [("a", 0, "v3", 3), ("c", 0, "c1", 1)]),
        # epoch 2: updates c
        (2, [("c", 0, "c2", 9)]),
    ]

    sink = IdempotentSink(str(tmp_path / "merge_eq"), tuple(keys))
    target = None
    for epoch, rows in history:
        batch = _mk_batch(spark, rows)
        sink.foreach_batch(batch, epoch)
        # the Iceberg path: shared dedup, then MERGE INTO (upsert) — simulated
        # engine-agnostically with unionByName + left_anti
        s = key_precedence_dedup(batch, keys, [])
        target = s if target is None else s.unionByName(target.join(s, keys, "left_anti"))

    got = sorted(map(tuple, sink.read_sink(spark).collect()))
    want = sorted(map(tuple, target.collect()))
    assert got == want
    # and the survivors are the intended ones
    by_key = {(r[0], r[1]): r for r in got}
    assert by_key[("a", 0)][2] == "v3" and by_key[("c", 0)][2] == "c2"


def test_merge_condition_honors_order_cols(spark, tmp_path):
    """Cross-batch order_cols precedence (ADVICE r4): the Iceberg MERGE's
    conditional matched clause (merge_update_condition) must keep a
    higher-precedence target row when a later batch re-emits a lower one —
    e.g. export_dedup's first-seen row surviving a post-eviction re-emission
    — exactly like the parquet sink's merge-on-read (order_cols beat epoch
    recency). Folds a replay history through the generated SQL predicate and
    asserts the relation equals IdempotentSink.read_sink's."""
    from stellar_etl_spark.streaming.sink import (
        key_precedence_dedup,
        merge_update_condition,
    )

    keys = ["conv_id", "turn_idx"]
    order_cols = ["score"]
    history = [
        (0, [("a", 0, "first", 5), ("b", 0, "b1", 1)]),
        # later batch: LOWER precedence for a (must NOT replace), higher for
        # b (must replace), null-precedence insert for c
        (1, [("a", 0, "late_lower", 3), ("b", 0, "b2", 4), ("c", 0, "c1", None)]),
        (1, [("a", 0, "late_lower", 3), ("b", 0, "b2", 4), ("c", 0, "c1", None)]),
        # non-null beats the null target (NULL is lowest); order_cols tie on
        # a -> later batch wins (epoch-desc tiebreak on both paths)
        (2, [("c", 0, "c2", 2), ("a", 0, "tie", 5)]),
    ]

    sink = IdempotentSink(str(tmp_path / "merge_ord"), tuple(keys), order_cols=tuple(order_cols))
    cond = merge_update_condition(order_cols)
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    target = None
    for epoch, rows in history:
        batch = _mk_batch(spark, rows)
        sink.foreach_batch(batch, epoch)
        s = key_precedence_dedup(batch, keys, order_cols)
        if target is None:
            target = s
            continue
        # simulate MERGE INTO with the conditional matched clause the sink
        # generates, engine-agnostically via SQL over the two relations
        target.createOrReplaceTempView("t")
        s.createOrReplaceTempView("s")
        cols = target.columns
        upd = ", ".join(
            f"CASE WHEN s.{keys[0]} IS NOT NULL AND {cond} THEN s.{c} ELSE t.{c} END AS {c}"
            for c in cols
        )
        target = spark.sql(
            f"SELECT {upd} FROM t LEFT JOIN s ON {on} "
            f"UNION ALL SELECT s.* FROM s LEFT ANTI JOIN t ON {on}"
        ).localCheckpoint()  # detach from the temp views before they rebind

    got = sorted(map(tuple, sink.read_sink(spark).collect()))
    want = sorted(map(tuple, target.collect()))
    assert got == want
    by_key = {(r[0], r[1]): r for r in got}
    assert by_key[("a", 0)][2] == "tie"  # score-5 tie -> later batch, never late_lower
    assert by_key[("b", 0)][2] == "b2"
    assert by_key[("c", 0)][2] == "c2"


def test_merge_statement_text():
    """The Iceberg MERGE statement is a pure function of the sink config —
    unit-testable without Iceberg jars. With order_cols the matched clause
    must be conditional (cross-batch precedence, ADVICE r4); without, it is
    the plain latest-batch-wins upsert."""
    from stellar_etl_spark.streaming.sink import IcebergMergeSink

    plain = IcebergMergeSink("cat.db.t", ("conv_id", "turn_idx")).merge_statement("v")
    assert "WHEN MATCHED THEN UPDATE SET *" in plain
    assert "WHEN NOT MATCHED THEN INSERT *" in plain
    assert "t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx" in plain

    ordered = IcebergMergeSink(
        "cat.db.t", ("conv_id",), order_cols=("first_seen_neg_us",)
    ).merge_statement("v")
    assert "WHEN MATCHED AND (NOT" in ordered
    assert "t.first_seen_neg_us" in ordered and "s.first_seen_neg_us" in ordered
    assert "IS NOT DISTINCT FROM" in ordered


def test_sink_meta_mismatch_raises(spark, tmp_path):
    """Re-exporting into an existing sink path with a different key set or
    format must raise, not silently leave stale metadata (ADVICE r3)."""
    path = str(tmp_path / "meta_guard")
    sink = IdempotentSink(path, ("conv_id", "turn_idx"))
    sink.foreach_batch(_mk_batch(spark, [("a", 0, "x", 1)]), 0)
    bad_keys = IdempotentSink(path, ("conv_id",))
    with pytest.raises(ValueError, match="refusing to mix"):
        bad_keys.foreach_batch(_mk_batch(spark, [("a", 1, "y", 1)]), 1)
    bad_fmt = IdempotentSink(path, ("conv_id", "turn_idx"), fmt="json")
    with pytest.raises(ValueError, match="refusing to mix"):
        bad_fmt.foreach_batch(_mk_batch(spark, [("a", 1, "y", 1)]), 1)
    # matching identity still writes
    sink.foreach_batch(_mk_batch(spark, [("a", 1, "y", 1)]), 1)
    assert sink.read_sink(spark).count() == 2


def test_compact_json_sink_raises(spark, tmp_path):
    """compact() is parquet-only: a JSON rewrite goes through schema
    inference (all-null columns drop, timestamps become strings)."""
    path = str(tmp_path / "jsonl_compact")
    sink = IdempotentSink(path, ("conv_id", "turn_idx"), fmt="json")
    sink.foreach_batch(_mk_batch(spark, [("a", 0, "x", 1)]), 0)
    with pytest.raises(ValueError, match="parquet-only"):
        sink.compact(spark)


def test_dedup_orderability_handles_nested_maps(spark, tmp_path):
    """Types Spark can't ORDER BY (array<map>, struct-with-map) still break
    ties DETERMINISTICALLY via the to_json canonicalization — a replay picks
    the same survivor — instead of raising on an empty ORDER BY or
    degenerating to task order (ADVICE r3 + review r4)."""
    from stellar_etl_spark.streaming.sink import key_precedence_dedup

    df = spark.createDataFrame(
        [("a", 0, [{"k": "1"}]), ("a", 0, [{"k": "2"}]), ("b", 0, [{"k": "3"}])],
        "conv_id string, turn_idx int, payload array<map<string,string>>",
    )
    out = key_precedence_dedup(df, ["conv_id", "turn_idx"], [])
    rows = {(r["conv_id"], r["turn_idx"]): r["payload"] for r in out.collect()}
    assert len(rows) == 2
    # to_json desc: {"k":"2"} > {"k":"1"} — the survivor is pinned, not
    # whichever row a task happened to order first
    assert rows[("a", 0)] == [{"k": "2"}]
    # and a sink whose every non-key column is such a type still merges
    sink = IdempotentSink(str(tmp_path / "maps"), ("conv_id", "turn_idx"))
    sink.foreach_batch(df, 0)
    assert sink.read_sink(spark).count() == 2
