"""The session's ``file://`` filesystem: the NIO classes in
``stellar_etl_spark/jvm`` must be registered, start no processes, and write
what Hadoop's stock ``LocalFileSystem`` writes."""

from __future__ import annotations

import os
import stat

import pytest


def _processes_started() -> int:
    """Processes started on this machine since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise RuntimeError("no processes line in /proc/stat")


def _path(spark, p):
    return spark._jvm.org.apache.hadoop.fs.Path(f"file://{p}")


def _hadoop_conf(spark):
    return spark._jsparkSession.sessionState().newHadoopConf()


def test_session_registers_nio_filesystem(spark, tmp_path):
    conf = _hadoop_conf(spark)
    p = _path(spark, tmp_path)
    assert p.getFileSystem(conf).getClass().getName() == "stellaretl.fs.NioLocalFileSystem"
    fc = spark._jvm.org.apache.hadoop.fs.FileContext.getFileContext(p.toUri(), conf)
    assert fc.getDefaultFileSystem().getClass().getName() == "stellaretl.fs.NioLocalFs"


def test_registration_only_when_get_spark_launches_a_local_jvm(spark, monkeypatch):
    """``extraClassPath`` reaches only a JVM that is still to start: a
    ``spark-submit``'d driver (gateway port in the environment) and a
    non-local master keep the stock filesystem, or every file access there
    fails with ClassNotFoundException."""
    from pyspark import SparkContext

    from stellar_etl_spark import session

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    conf = session._nio_fs_conf("local[2]")
    assert conf["spark.hadoop.fs.file.impl"] == "stellaretl.fs.NioLocalFileSystem"
    assert os.path.isfile(conf["spark.driver.extraClassPath"])
    assert session._nio_fs_conf("spark://host:7077") == {}
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert session._nio_fs_conf("local[2]") == {}


@pytest.mark.skipif(not os.path.exists("/proc/stat"), reason="needs /proc/stat")
def test_checkpoint_writes_start_no_processes(spark, tmp_path):
    """20 checkpoint ``createAtomic`` writes (FileContext rename) and 20
    ``mkdirs``: the stock filesystem forks ``chmod``/``readlink`` over 400
    times for these."""
    jvm = spark._jvm
    conf = _hadoop_conf(spark)
    mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        _path(spark, tmp_path / "ck"), conf
    )
    fs = _path(spark, tmp_path).getFileSystem(conf)
    mgr.mkdirs(_path(spark, tmp_path / "ck"))
    before = _processes_started()
    for i in range(20):
        out = mgr.createAtomic(_path(spark, tmp_path / "ck" / str(i)), False)
        out.write(b"v1\n{}\n")
        out.close()
        fs.mkdirs(_path(spark, tmp_path / "dirs" / str(i)))
    started = _processes_started() - before
    assert sorted(os.listdir(tmp_path / "ck")) == sorted(
        [str(i) for i in range(20)] + [f".{i}.crc" for i in range(20)]
    )
    assert started <= 5, f"{started} processes started"


def _status(st):
    return (st.isFile(), st.isDirectory(), st.isSymlink(), st.getLen(),
            st.getPermission().toString(), st.getPath().getName())


def _link_status(fs, p):
    from py4j.protocol import Py4JJavaError

    try:
        return _status(fs.getFileLinkStatus(p))
    except Py4JJavaError as e:
        return "raises", e.java_exception.getClass().getName()


def test_nio_filesystem_matches_stock(spark, tmp_path):
    """Same modes, ``.crc`` sidecars and ``getFileLinkStatus`` answers as a
    stock ``LocalFileSystem`` in the same JVM."""
    jvm = spark._jvm
    conf = _hadoop_conf(spark)
    nio = _path(spark, tmp_path).getFileSystem(conf)
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    assert nio.getClass().getName() != stock.getClass().getName()

    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    modes, crcs = {}, {}
    for name, fs in (("nio", nio), ("stock", stock)):
        root = tmp_path / name
        fs.mkdirs(_path(spark, root / "d"))
        out = fs.create(_path(spark, root / "d" / "f"))
        out.write(b"payload " * 100)
        out.close()
        # explicit modes, the sticky bit included
        fs.mkdirs(_path(spark, root / "d" / "sticky"))
        fs.setPermission(_path(spark, root / "d" / "sticky"), perm("1777"))
        fs.setPermission(_path(spark, root / "d" / ".f.crc"), perm("640"))
        modes[name] = [stat.S_IMODE(os.stat(root / "d" / n).st_mode)
                       for n in ("", "f", ".f.crc", "sticky")]
        crcs[name] = (root / "d" / ".f.crc").read_bytes()
        os.symlink(root / "d" / "f", root / "d" / "link")
        os.symlink(root / "d" / "gone", root / "d" / "dangling")
    assert modes["nio"] == modes["stock"] == [0o755, 0o644, 0o640, 0o1777]
    assert crcs["nio"] == crcs["stock"]

    for n in ("f", "link", "dangling", "missing"):
        got = _link_status(nio, _path(spark, tmp_path / "nio" / "d" / n))
        want = _link_status(stock, _path(spark, tmp_path / "stock" / "d" / n))
        assert got == want, n
