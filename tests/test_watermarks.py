"""FS topic watermarks from parquet footers: they must equal the min/max
aggregate they replace, fall back to it where a footer lacks offset
statistics, ignore the files a Spark scan hides, and launch no job."""

from __future__ import annotations

import glob
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from kafi_spark.sources import FSTopicStorage


@pytest.fixture()
def storage(spark, tmp_path):
    return FSTopicStorage(spark, str(tmp_path / "store"))


def msgs(spark, *kv, ts=None):
    if ts is None:
        data = [(k.encode() if k else None, v.encode()) for k, v in kv]
        return spark.createDataFrame(data, "key binary, value binary")
    data = [(k.encode() if k else None, v.encode(), ts) for k, v in kv]
    return spark.createDataFrame(
        data, "key binary, value binary, timestamp long")


def assert_footers_match_scan(storage, topic, monkeypatch):
    footer = storage._footer_offset_ranges(topic)
    assert footer is not None, "footers should answer for a produced topic"
    assert footer == storage._scan_offset_ranges(topic)
    wm = storage.watermarks(topic)
    with monkeypatch.context() as m:
        m.setattr(storage, "_footer_offset_ranges", lambda t: None)
        assert wm == storage.watermarks(topic)
    return wm


def test_footer_watermarks_equal_scan_through_history(storage, spark, monkeypatch):
    def check():
        return assert_footers_match_scan(storage, "t", monkeypatch)

    storage.create("t", partitions=3, config={"retention.ms": "1000"})
    check()  # no data yet: floors only
    storage.produce("t", msgs(spark, *[(f"k{i}", f"v{i}") for i in range(9)],
                              ts=1_000_000), keep_timestamps=True)
    storage.produce("t", msgs(spark, *[(None, f"n{i}") for i in range(6)],
                              ts=1_000_500), keep_timestamps=True)
    check()
    kept = spark.createDataFrame(
        [(b"a", b"p0", 0), (b"b", b"p2", 2), (b"c", b"p2", 2)],
        "key binary, value binary, partition int")
    storage.produce("t", kept, keep_partitions=True)
    wm = check()
    assert wm[0][1] - wm[0][0] >= 2
    # a partial cut on one partition, a full purge of another
    storage.delete_records({"t": {0: wm[0][0] + 1, 1: FSTopicStorage.OFFSET_END}})
    wm = check()
    assert wm[0][0] < wm[0][1] and wm[1][0] == wm[1][1]
    storage.compact_files("t")
    assert check() == wm
    storage.set_partitions("t", 5)
    storage.produce("t", msgs(spark, *[(f"x{i}", f"w{i}") for i in range(10)],
                              ts=2_000_000), keep_timestamps=True)
    wm = check()
    assert len(wm) == 5
    assert storage.apply_retention(now_ms=2_000_100)
    check()


def test_produce_onto_seeded_next_offset_floor(storage, spark, monkeypatch):
    storage.create("f", partitions=2)
    meta = storage.metadata("f")
    meta["next_offset"] = {"0": 100}
    storage._set_meta("f", meta)
    assert storage.watermarks("f") == {0: (0, 100), 1: (0, 0)}
    storage.produce("f", msgs(spark, *[(None, f"v{i}") for i in range(8)]))
    wm = assert_footers_match_scan(storage, "f", monkeypatch)
    offs = sorted(r.offset for r in storage.consume("f", partitions=[0]).collect())
    assert offs == list(range(100, wm[0][1]))
    # floors above the data's own range win over what the files hold
    meta = storage.metadata("f")
    meta["log_start"] = {"1": 1}
    meta["next_offset"] = {"0": 100, "1": 50}
    storage._set_meta("f", meta)
    wm2 = assert_footers_match_scan(storage, "f", monkeypatch)
    assert wm2 == {0: wm[0], 1: (1, 50)}


def test_file_without_offset_statistics_falls_back(storage, spark):
    storage.create("ns", partitions=1)
    storage.produce("ns", msgs(spark, ("a", "1"), ("b", "2"), ("c", "3")))
    assert storage.watermarks("ns") == {0: (0, 3)}
    part_dir = os.path.join(storage._data_dir("ns"), "partition=0")
    (src,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
    # the same MESSAGE_SCHEMA layout Spark wrote, offsets 10..12, and no
    # column statistics in the footer
    table = pq.read_table(src)
    table = table.set_column(
        table.schema.get_field_index("offset"), "offset",
        pc.add(table["offset"], 10))
    pq.write_table(table, os.path.join(part_dir, "part-nostats.parquet"),
                   write_statistics=False, use_deprecated_int96_timestamps=True)
    assert storage._footer_offset_ranges("ns") is None
    assert storage.watermarks("ns") == {0: (0, 13)}


def test_hidden_files_leave_watermarks_unchanged(storage, spark):
    storage.create("h", partitions=2)
    storage.produce("h", msgs(spark, *[(f"k{i}", f"v{i}") for i in range(8)]))
    wm = storage.watermarks("h")
    storage.index_topic("h")
    assert os.path.isdir(os.path.join(storage._data_dir("h"), "_kafi_skip_index"))
    assert storage._footer_offset_ranges("h") is not None
    assert storage.watermarks("h") == wm
    # a stale rewrite temp dir holding valid parquet with far-off offsets
    (src,) = glob.glob(os.path.join(storage._data_dir("h"), "partition=0", "part-*.parquet"))
    stale = os.path.join(storage._data_dir("h"), "_rewrite_tmp", "partition=0")
    os.makedirs(stale)
    table = pq.read_table(src)
    table = table.set_column(
        table.schema.get_field_index("offset"), "offset",
        pc.add(table["offset"], 1000))
    pq.write_table(table, os.path.join(stale, "part-stale.parquet"),
                   use_deprecated_int96_timestamps=True)
    assert storage._footer_offset_ranges("h") is not None
    assert storage.watermarks("h") == wm


def test_watermarks_and_l_launch_no_job(storage, spark):
    storage.create("z", partitions=4)
    storage.produce("z", msgs(spark, *[(f"k{i}", f"v{i}") for i in range(20)]))
    sc = spark.sparkContext
    group = "footer-watermarks-test"
    sc.setJobGroup(group, "watermarks from footers")
    try:
        wm = storage.watermarks("z")
        sizes = storage.l()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert sum(hi - lo for lo, hi in wm.values()) == 20
    assert sizes == {"z": 20}
