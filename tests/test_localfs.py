"""The session's ``file:`` FileSystem (``kafi_spark.localfs``): local writes
launch no process, permissions come out as Hadoop's own
``RawLocalFileSystem`` sets them, and the class is named to Hadoop only
when the JVM can load it."""

from __future__ import annotations

import os
import stat
import subprocess

import pyspark.sql.functions as F
import pytest

from kafi_spark import localfs
from kafi_spark.session import get_spark
from kafi_spark.sources import FSTopicStorage


def launches(spark, tmp_path, fn) -> list[str]:
    """Run ``fn`` under an in-JVM JFR recording; return the command line
    of every process the JVM started meanwhile."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        fn()
    finally:
        rec.stop()
    path = jvm.java.io.File(str(tmp_path / "launches.jfr")).toPath()
    rec.dump(path)
    rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path)
    return [events.get(i).getString("command") for i in range(events.size())]


def messages(spark, n=5000):
    return spark.range(n).select(
        F.concat(F.lit("k"), (F.col("id") % 97).cast("string"))
        .cast("binary").alias("key"),
        F.col("id").cast("string").cast("binary").alias("value"))


def test_session_uses_the_class(spark):
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.file.impl") == localfs.CLASS
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    assert fs.getClass().getName() == localfs.CLASS


def test_produce_launches_no_process(spark, tmp_path):
    storage = FSTopicStorage(spark, str(tmp_path / "store"))
    storage.create("t", partitions=8)
    df = messages(spark)
    # the first append creates every partition directory, the second
    # appends into them
    assert launches(spark, tmp_path, lambda: storage.produce("t", df)) == []
    assert launches(spark, tmp_path, lambda: storage.produce("t", df)) == []
    wm = storage.watermarks("t")
    assert len(wm) == 8 and all(lo == 0 for lo, _ in wm.values())
    assert sum(hi for _, hi in wm.values()) == 10000


def test_produce_keeps_crc_success_and_modes(spark, tmp_path):
    storage = FSTopicStorage(spark, str(tmp_path / "store"))
    storage.create("t", partitions=8)
    storage.produce("t", messages(spark, 800))
    data = storage._data_dir("t")
    assert os.path.isfile(os.path.join(data, "_SUCCESS"))
    assert os.path.isfile(os.path.join(data, "._SUCCESS.crc"))
    parts = sorted(d for d in os.listdir(data) if d.startswith("partition="))
    assert len(parts) == 8
    for d in parts:
        pdir = os.path.join(data, d)
        assert stat.S_IMODE(os.stat(pdir).st_mode) == 0o755
        files = os.listdir(pdir)
        pq_files = [f for f in files if f.endswith(".parquet")]
        assert pq_files
        assert sorted(f".{f}.crc" for f in pq_files) == sorted(
            f for f in files if f.endswith(".crc"))
        for f in files:
            assert stat.S_IMODE(os.stat(os.path.join(pdir, f)).st_mode) == 0o644


def _hadoop_fs(spark):
    """The session's file: FileSystem and a plain RawLocalFileSystem."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    raw = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(jvm.java.net.URI.create("file:///"), conf)
    return jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf), raw


@pytest.mark.parametrize("mode", ["644", "755", "600", "700"])
def test_modes_match_hadoop(spark, tmp_path, mode):
    jvm = spark._jvm
    ours, plain = _hadoop_fs(spark)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    got = {}
    for name, fs in (("ours", ours), ("plain", plain)):
        f = tmp_path / f"{name}.file"
        f.write_bytes(b"x")
        d = jvm.org.apache.hadoop.fs.Path(str(tmp_path / f"{name}.dir"))
        assert fs.mkdirs(d)

        def chmod():
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(f)), perm)
            fs.setPermission(d, perm)

        started = launches(spark, tmp_path, chmod)
        got[name] = (os.stat(f).st_mode, os.stat(str(tmp_path / f"{name}.dir"))
                     .st_mode, len(started))
    assert got["ours"][:2] == got["plain"][:2]
    assert stat.S_IMODE(got["ours"][0]) == int(mode, 8)
    assert got["ours"][2] == 0
    # also create through each FileSystem with the mode: the create path
    # and the mkdir path set the permission themselves
    for name, fs in (("ours", ours), ("plain", plain)):
        p = jvm.org.apache.hadoop.fs.Path(str(tmp_path / f"{name}.created"))
        fs.create(p, perm, True, 4096, 1, 1 << 20, None).close()
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(
            str(tmp_path / f"{name}.made")), perm)
    for suffix in ("created", "made"):
        assert (os.stat(tmp_path / f"ours.{suffix}").st_mode
                == os.stat(tmp_path / f"plain.{suffix}").st_mode)


def test_sticky_bit_goes_through_hadoop(spark, tmp_path):
    jvm = spark._jvm
    ours, plain = _hadoop_fs(spark)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission("1777")
    modes = {}
    for name, fs in (("ours", ours), ("plain", plain)):
        d = tmp_path / name
        d.mkdir()
        started = launches(spark, tmp_path, lambda: fs.setPermission(
            jvm.org.apache.hadoop.fs.Path(str(d)), perm))
        # java.nio has no sticky bit: Hadoop's own chmod sets it
        assert len(started) == 1 and "chmod" in started[0], started
        modes[name] = os.stat(d).st_mode
    assert modes["ours"] == modes["plain"]
    assert stat.S_IMODE(modes["ours"]) == 0o1777


def test_second_get_spark_still_writes_parquet(spark, tmp_path):
    again = get_spark("kafi_spark_tests")
    assert again.sparkContext is spark.sparkContext
    out = str(tmp_path / "again.parquet")
    again.range(10).write.parquet(out)
    assert again.read.parquet(out).count() == 10


def test_unloadable_class_leaves_hadoop_default(spark, monkeypatch):
    assert localfs.spark_conf() == {"spark.hadoop.fs.file.impl": localfs.CLASS}
    monkeypatch.setattr(localfs, "CLASS", "kafi_spark.jvm.NoSuchFileSystem")
    assert localfs.spark_conf() == {}


def test_warm_cache_starts_no_java(spark, monkeypatch):
    built = localfs.class_dir()  # the session's build, or this call's

    def no_process(*a, **k):
        raise AssertionError(f"process started: {a}")

    monkeypatch.setattr(subprocess, "run", no_process)
    assert localfs.class_dir() == built


def test_cold_build_and_failed_build(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    built = localfs.class_dir()
    assert built and built.startswith(str(tmp_path / "cache"))
    assert os.path.isfile(os.path.join(built, "kafi_spark", "jvm",
                                       "LocalFileSystem$Raw.class"))
    # no java to build with: a warning and None, never a half-built dir
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "other"))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "no_jdk"))
    with pytest.warns(UserWarning, match="not built"):
        assert localfs.class_dir() is None
    assert os.listdir(tmp_path / "other" / "kafi_spark") == []
