"""spark-submit entrypoint tests — the CLI surface mirroring the reference's
cobra commands (invoked in-process; the session is shared with the suite)."""

import json

from stellar_etl_spark import jobs


def test_generate_export_turns_and_range(spark, tmp_path, capsys):
    src = str(tmp_path / "src")
    jobs.main(["generate", "--out", src, "--n-convs", "25"])
    gen = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert gen["written"] > 0

    jobs.main([
        "export_turns", "--source", src,
        "--sink", str(tmp_path / "turns"),
        "--checkpoint", str(tmp_path / "ck1"),
    ])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["epochs"] >= 1

    turns = spark.read.option("basePath", str(tmp_path / "turns")).parquet(
        str(tmp_path / "turns") + "/epoch=*"
    )
    assert turns.count() == gen["written"]

    jobs.main(["get_time_range", "--source", src, "--start", "2026-01-01",
               "--end", "2027-01-01", "--allow-future"])
    rng = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert int(rng["n_turns"]) == gen["written"]

    # without --allow-future a far-future request fails loudly
    # (ledger_range.go:96-113 maxFutureTolerance semantics)
    import pytest as _pytest

    with _pytest.raises(Exception, match="exceeds latest event"):
        jobs.main(["get_time_range", "--source", src, "--start", "2026-01-01",
                   "--end", "2027-01-01"])


def test_spark_submit_pyfiles(tmp_path):
    """North-rule deployment path: the engine runs via ``spark-submit
    --py-files <package.zip>`` with no install step — generate then export in
    two separate submitted applications, then verify the sink."""
    import shutil
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parents[1])
    pkg = str(tmp_path / "stellar_etl_spark")
    shutil.make_archive(pkg, "zip", repo, "stellar_etl_spark")
    launcher = tmp_path / "launch.py"
    launcher.write_text(
        "import sys\nfrom stellar_etl_spark.jobs import main\n"
        "sys.exit(main(sys.argv[1:]))\n"
    )
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pytest

        pytest.skip("spark-submit not on PATH")

    stderr = {}

    def submit(*args):
        out = subprocess.run(
            [spark_submit, "--master", "local[4]", "--py-files", pkg + ".zip",
             str(launcher), *args],
            capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
        )
        assert out.returncode == 0, out.stderr[-2000:]
        stderr[args[0]] = out.stderr
        return json.loads(out.stdout.strip().splitlines()[-1])

    gen = submit("generate", "--out", str(tmp_path / "src"), "--n-convs", "15")
    assert gen["written"] > 0
    exp = submit(
        "export_turns", "--source", str(tmp_path / "src"),
        "--sink", str(tmp_path / "turns"), "--checkpoint", str(tmp_path / "ck"),
        "--cores", "4",
    )
    assert exp["epochs"] >= 1
    # the expected "AQE is not supported in streaming" warning is silenced
    # by name at session start (session.get_spark)
    assert "ResolveWriteToStream" not in stderr["export_turns"]
    files = list((tmp_path / "turns").glob("epoch=*/*.parquet"))
    assert files, "no committed output files"


def test_compact_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "src")
    jobs.main(["generate", "--out", src, "--n-convs", "20"])
    jobs.main([
        "export_turns", "--source", src,
        "--sink", str(tmp_path / "turns"),
        "--checkpoint", str(tmp_path / "ck"),
        "--max-files-per-trigger", "2",
    ])
    capsys.readouterr()
    jobs.main(["compact", "--sink", str(tmp_path / "turns")])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] > 0
    import os

    dirs = [n for n in os.listdir(str(tmp_path / "turns")) if n.startswith("epoch=")]
    assert dirs == [f"epoch={out['compacted_into_epoch']}"]


def test_export_changes_compacts(spark, tmp_path, capsys):
    src = str(tmp_path / "src")
    jobs.main(["generate", "--out", src, "--n-convs", "15"])
    capsys.readouterr()
    jobs.main([
        "export_changes", "--source", src,
        "--sink", str(tmp_path / "changes"),
        "--checkpoint", str(tmp_path / "ck"),
    ])
    capsys.readouterr()
    changes = spark.read.option("basePath", str(tmp_path / "changes")).parquet(
        str(tmp_path / "changes") + "/epoch=*"
    )
    # per-batch ChangeCompactor: one row per conversation per epoch
    assert changes.select("conv_id").distinct().count() == 15


def test_lenient_export_changes_compacts_like_strict(spark, tmp_path, capsys):
    """``export_changes --lenient`` keeps each conversation's latest turn
    (the per-micro-batch ChangeCompactor) and writes the strict sink's merge
    precedence, so either mode can resume the other's sink."""
    from stellar_etl_spark.operators import compact_last_state
    from stellar_etl_spark.sources.transcripts import read_batch
    from stellar_etl_spark.streaming.sink import IdempotentSink

    src = str(tmp_path / "src")
    jobs.main(["generate", "--out", src, "--n-convs", "15"])
    for mode in ("strict", "lenient"):
        jobs.main(["export_changes", *(["--lenient"] if mode == "lenient" else []),
                   "--source", src, "--sink", str(tmp_path / mode),
                   "--checkpoint", str(tmp_path / f"ck_{mode}")])
    capsys.readouterr()
    strict, lenient = (IdempotentSink.from_meta(str(tmp_path / m)) for m in ("strict", "lenient"))
    assert lenient.order_cols == strict.order_cols == ["ts", "turn_idx"]
    expected = compact_last_state(read_batch(spark, src), ["conv_id"])
    cols = ["conv_id", "turn_idx", "role", "text", "ts"]
    got = sorted(map(tuple, lenient.read_sink(spark).select(cols).collect()))
    assert len(got) == 15
    assert got == sorted(map(tuple, expected.select(cols).collect()))


def test_export_all_per_table_keys(spark, tmp_path, capsys):
    src = str(tmp_path / "src")
    jobs.main(["generate", "--out", src, "--n-convs", "10"])
    gen = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    jobs.main(["export_all", "--source", src, "--sink", str(tmp_path / "all"),
               "--checkpoint", str(tmp_path / "ck")])
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert counts["turns"] == gen["written"]
    # units/effects fan out beyond one row per turn — the per-table merge
    # keys must preserve them
    assert counts["units"] > gen["written"]


def test_lenient_cli_routes_rejected(spark, tmp_path, capsys):
    import pyspark.sql.functions as F

    from stellar_etl_spark.generator import transcripts_df, write_transcripts

    good = transcripts_df(spark, n_convs=8)
    bad = spark.createDataFrame(
        [(None, 0, "user", "x", None, "2026-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "src")
    write_transcripts(good.unionByName(bad), src)
    jobs.main(["export_turns", "--lenient", "--source", src,
               "--sink", str(tmp_path / "t"), "--checkpoint", str(tmp_path / "ck")])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rejected_rows"] == 1

    import pytest

    with pytest.raises(SystemExit, match="unsupported"):
        jobs.main(["export_pairs", "--lenient", "--source", src,
                   "--sink", str(tmp_path / "p"), "--checkpoint", str(tmp_path / "ck2")])


def test_export_raw_and_dedup_cli(spark, tmp_path, capsys):
    """T3 raw envelope + A2 first-seen dedup commands (the reference's
    export_ledger_transaction / export_assets CLI analogs)."""
    import base64

    src = str(tmp_path / "src")
    jobs.main(["generate", "--out", src, "--n-convs", "12"])
    gen = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    jobs.main(["export_raw", "--source", src,
               "--sink", str(tmp_path / "raw"), "--checkpoint", str(tmp_path / "ckr")])
    capsys.readouterr()
    raw = spark.read.option("basePath", str(tmp_path / "raw")).parquet(
        str(tmp_path / "raw") + "/epoch=*"
    )
    assert raw.count() == gen["written"]
    assert set(raw.columns) == {"conv_id", "turn_idx", "raw_b64", "ts", "epoch"}
    sample = raw.where("raw_b64 IS NOT NULL").first()
    base64.b64decode(sample["raw_b64"])  # round-trippable envelope

    jobs.main(["export_dedup", "--source", src,
               "--sink", str(tmp_path / "dedup"), "--checkpoint", str(tmp_path / "ckd")])
    capsys.readouterr()
    from stellar_etl_spark.streaming.sink import IdempotentSink

    dd = IdempotentSink.from_meta(str(tmp_path / "dedup")).read_sink(spark)
    # exactly one first-seen row per conversation
    assert dd.count() == 12
    assert dd.select("conv_id").distinct().count() == 12


def test_export_dedup_first_seen_survives_state_eviction(spark, tmp_path, capsys):
    """A conversation resuming AFTER its dedup state was watermark-evicted
    re-emits into a later epoch; the merged export must still report the
    FIRST-seen row (earliest-ts precedence), not the re-emission
    (latest-epoch-wins would silently invert the semantics)."""
    import pyspark.sql.functions as F

    def batch(rows):
        return (
            spark.createDataFrame(
                rows,
                "conv_id string, turn_idx int, role string, text string, tool string, ts string",
            )
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withColumn("ts_date", F.to_date("ts"))
            .coalesce(1)
        )

    src = str(tmp_path / "src")
    # three files, written in event-time order with separated mod-times (the
    # file source orders same-mtime files arbitrarily, which would make the
    # earlier event-time rows late-beyond-watermark); watermark 2 minutes
    import time as _time

    # four batches: state eviction lags one batch behind the watermark (the
    # dedup check runs against the PREVIOUS batch's watermark, cleanup after
    # the batch), so the first re-emission shows up in batch 4
    for rows in (
        [("X", 0, "user", "first", None, "2026-01-01 00:00:00")],
        [("X", 5, "user", "resumed A", None, "2026-01-01 03:00:00")],
        [("X", 9, "user", "resumed B", None, "2026-01-01 06:00:00")],
        [("X", 13, "user", "resumed C", None, "2026-01-01 09:00:00"),
         ("Y", 0, "user", "other", None, "2026-01-01 09:00:00")],
    ):
        batch(rows).write.mode("append").partitionBy("ts_date").parquet(src)
        _time.sleep(1.2)

    jobs.main(["export_dedup", "--source", src,
               "--sink", str(tmp_path / "dd"), "--checkpoint", str(tmp_path / "ck"),
               "--max-files-per-trigger", "1"])
    capsys.readouterr()
    from stellar_etl_spark.streaming.sink import IdempotentSink

    sink = IdempotentSink.from_meta(str(tmp_path / "dd"))
    # the re-emission DID land in a later epoch (state was evicted)...
    raw = sink.read_raw(spark).where("conv_id = 'X'")
    assert raw.count() >= 2, "expected a post-eviction re-emission to exercise the merge"
    # ...but the merged view keeps the true first-seen row
    merged = {r["conv_id"]: r for r in sink.read_sink(spark).collect()}
    assert merged["X"]["turn_idx"] == 0 and merged["X"]["text"] == "first"
    assert merged["Y"]["turn_idx"] == 0


def test_export_all_follow_picks_up_appended_file(spark, tmp_path, capsys):
    """``export_all --follow`` keeps its query running: a file appended
    after the first committed epoch lands in the sinks before the
    deadline stops the run."""
    import os
    import time
    from concurrent.futures import ThreadPoolExecutor

    import pyspark.sql.functions as F

    from stellar_etl_spark.generator import transcripts_df, write_transcripts

    src, sink = str(tmp_path / "src"), str(tmp_path / "all")
    first = transcripts_df(spark, n_convs=6)
    write_transcripts(first, src, partition_by_day=False)
    with ThreadPoolExecutor(1) as pool:
        run = pool.submit(jobs.main, [
            "export_all", "--follow", "--timeout-sec", "45", "--source", src,
            "--sink", sink, "--checkpoint", str(tmp_path / "ck"),
        ])
        deadline = time.time() + 30
        while not os.path.isdir(f"{sink}/effects/_lineage") and time.time() < deadline:
            time.sleep(0.2)
        assert os.path.isdir(f"{sink}/effects/_lineage"), "no epoch committed"
        later = transcripts_df(spark, n_convs=4, seed=7).withColumn(
            "conv_id", F.concat(F.col("conv_id"), F.lit("_late")))
        write_transcripts(later, src, partition_by_day=False, mode="append")
        assert run.result(timeout=120) == 0
    counts = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert counts["turns"] == first.count() + later.count()


def test_lenient_export_honours_max_files_per_trigger(spark, tmp_path, capsys):
    """``export_turns --lenient --max-files-per-trigger 1`` over k source
    files commits k epochs."""
    import os

    from stellar_etl_spark.generator import transcripts_df, write_transcripts

    src = str(tmp_path / "src")
    write_transcripts(transcripts_df(spark, n_convs=12).repartition(3, "conv_id"), src,
                      partition_by_day=False)
    k = len([f for f in os.listdir(src) if f.startswith("part-")])
    assert k > 1
    jobs.main(["export_turns", "--lenient", "--max-files-per-trigger", "1",
               "--source", src, "--sink", str(tmp_path / "t"),
               "--checkpoint", str(tmp_path / "ck")])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["epochs"] == k
    assert out["rejected_rows"] == 0
