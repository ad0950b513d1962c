"""FS topic storage: produce/consume/admin/groups/cp round-trips
(reference behavior: kafi/fs/*, test/test_single_storage_base.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafi_spark.sources import FSTopicStorage
from kafi_spark.sources.chunker import chunk, dechunk
from kafi_spark.sources.files import (
    file_to_table,
    pandas_to_table,
    table_to_file,
    table_to_pandas,
)
from kafi_spark.sources.schema import decode_col, encode_col
from tests.conftest import rows


@pytest.fixture()
def storage(spark, tmp_path):
    return FSTopicStorage(spark, str(tmp_path / "store"))


def msgs(spark, *kv):
    data = [(k.encode() if k else None, v.encode()) for k, v in kv]
    return spark.createDataFrame(data, "key binary, value binary")


def test_create_exists_delete(storage):
    storage.create("t1", partitions=3)
    assert storage.exists("t1")
    assert storage.partitions("t1") == 3
    assert storage.topics() == ["t1"]
    storage.delete("t1")
    assert not storage.exists("t1")


def test_topics_glob_and_size(storage, spark):
    storage.create("snacks", partitions=1)
    storage.create("other", partitions=1)
    storage.produce("snacks", msgs(spark, ("a", "v1"), ("b", "v2")))
    assert storage.topics("sn*") == ["snacks"]
    assert storage.topics(size=True) == {"snacks": 2, "other": 0}


def test_produce_consume_roundtrip(storage, spark):
    storage.create("t", partitions=2)
    storage.produce("t", msgs(spark, ("k1", "v1"), ("k2", "v2"), (None, "v3")))
    out = storage.consume("t")
    assert out.count() == 3
    got = sorted(bytes(r.value).decode() for r in out.collect())
    assert got == ["v1", "v2", "v3"]
    # offsets contiguous from 0 within each partition
    for p, grp in [(r.partition, r.offsets) for r in out.groupBy("partition")
                   .agg(F.sort_array(F.collect_list("offset")).alias("offsets")).collect()]:
        assert grp == list(range(len(grp)))


def test_same_key_same_partition(storage, spark):
    storage.create("t", partitions=4)
    storage.produce("t", msgs(spark, ("x", "v1")))
    storage.produce("t", msgs(spark, ("x", "v2")))
    parts = {r.partition for r in storage.consume("t").collect()}
    assert len(parts) == 1


def test_offsets_continue_across_batches(storage, spark):
    storage.create("t", partitions=1)
    storage.produce("t", msgs(spark, ("a", "v1"), ("a", "v2")))
    storage.produce("t", msgs(spark, ("a", "v3")))
    offs = sorted(r.offset for r in storage.consume("t").collect())
    assert offs == [0, 1, 2]
    assert storage.watermarks("t") == {0: (0, 3)}


def test_consume_offset_bounds(storage, spark):
    storage.create("t", partitions=1)
    storage.produce("t", msgs(spark, *[("k", f"v{i}") for i in range(10)]))
    got = storage.consume("t", offsets={0: 4}, end_offsets={0: 6})
    assert sorted(r.offset for r in got.collect()) == [4, 5, 6]
    # negative start offset: last 2
    got = storage.consume("t", offsets={0: -2})
    assert sorted(r.offset for r in got.collect()) == [8, 9]


def test_consume_last_n(storage, spark):
    storage.create("t", partitions=2)
    storage.produce("t", msgs(spark, *[(f"k{i % 2}", f"v{i}") for i in range(8)]))
    got = storage.consume("t", last_n=1)
    assert got.count() == 2  # one per partition


def test_group_commit_resume_and_lag(storage, spark):
    storage.create("t", partitions=1)
    storage.produce("t", msgs(spark, ("k", "v0"), ("k", "v1"), ("k", "v2")))
    first = storage.consume("t", group="g1", end_offsets={0: 1}, commit=True)
    assert first.count() == 2
    assert storage.group_offsets("g1") == {"t": {"0": 2}}
    assert storage.lags("g1") == {"t": {0: 1}}
    rest = storage.consume("t", group="g1")
    assert sorted(r.offset for r in rest.collect()) == [2]
    assert "g1" in storage.groups()


def test_cp_with_transform(storage, spark, tmp_path):
    target = FSTopicStorage(spark, str(tmp_path / "store2"))
    storage.create("src", partitions=1)
    storage.produce("src", msgs(spark, ("a", "hello"), ("b", "world")))
    storage.cp(
        "src", target, "dst",
        transform=lambda df: df.withColumn(
            "value", F.encode(F.upper(F.col("value").cast("string")), "utf-8")),
    )
    got = sorted(bytes(r.value).decode() for r in target.consume("dst").collect())
    assert got == ["HELLO", "WORLD"]


def test_repeat(storage, spark):
    storage.create("t", partitions=1)
    storage.produce("t", msgs(spark, ("k", "v1"), ("k", "v2")))
    storage.repeat("t", 1)
    assert storage.consume("t").count() == 3
    assert storage.watermarks("t")[0] == (0, 3)


def test_recreate_preserves_partitions(storage, spark):
    storage.create("t", partitions=5)
    storage.produce("t", msgs(spark, ("k", "v")))
    storage.recreate("t")
    assert storage.partitions("t") == 5
    assert storage.consume("t").count() == 0


def test_cp_group_offsets(storage, spark, tmp_path):
    target = FSTopicStorage(spark, str(tmp_path / "s2"))
    storage.create("t", partitions=1)
    storage.produce("t", msgs(spark, ("k", "v")))
    storage.consume("t", group="g", commit=True)
    storage.cp_group_offsets("g", target)
    assert target.group_offsets("g") == {"t": {"0": 1}}


# -- serde -------------------------------------------------------------------

def test_encode_decode_json(spark):
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    bin_df = df.select(encode_col(F.struct("id", "name"), "json").alias("value"))
    back = bin_df.select(
        decode_col(F.col("value"), "json", "id long, name string").alias("v")
    ).select("v.*")
    assert rows(back) == [(1, "a")]


def test_decode_str_bytes(spark):
    df = spark.createDataFrame([(b"abc",)], "value binary")
    assert rows(df.select(decode_col(F.col("value"), "str").alias("s"))) == [("abc",)]
    assert rows(df.select(decode_col(F.col("value"), "bytes").alias("b"))) == [(bytearray(b"abc"),)]


# -- files -------------------------------------------------------------------

@pytest.mark.parametrize("fmt", ["csv", "json", "parquet"])
def test_file_roundtrip(spark, tmp_path, fmt):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    path = str(tmp_path / f"out_{fmt}")
    table_to_file(df, path, fmt=fmt)
    back = file_to_table(spark, path, fmt=fmt, schema="id long, name string")
    assert rows(back) == [(1, "a"), (2, "b")]


def test_pandas_bridge(spark):
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    pdf = table_to_pandas(df)
    assert list(pdf.columns) == ["id", "name"]
    back = pandas_to_table(spark, pdf)
    assert rows(back) == [(1, "a")]


# -- chunker -----------------------------------------------------------------

def test_chunk_dechunk_roundtrip(spark):
    payload = bytes(range(256)) * 10  # 2560 bytes -> 3 chunks of 1000
    df = spark.createDataFrame([("k1", payload), ("k2", b"small")],
                               "key string, value binary")
    chunked = chunk(df, chunk_size=1000)
    per_msg = {r.chunked_message_id: r.number_of_chunks for r in chunked.collect()}
    assert sorted(per_msg.values()) == [1, 3]
    back = dechunk(chunked)
    got = sorted(bytes(r.value) for r in back.collect())
    assert got == sorted([payload, b"small"])


def test_chunk_rejects_counts_past_key_suffix_capacity(spark):
    """The _NNNNNN key suffix holds 6 digits; lpad silently TRUNCATED
    past 999999 chunks, colliding keys and corrupting dechunk's
    fixed-width strip — chunk() must fail loudly instead (r8 ADVICE)."""
    df = spark.createDataFrame([("k", "x" * 1_000_001)],
                               "key string, value string")
    with pytest.raises(Exception, match="999999"):
        chunk(df, chunk_size=1).count()
    # exactly at the boundary it still works: 999999 chunks emitted
    ok = chunk(spark.createDataFrame([("k", "y" * 999_999)],
                                     "key string, value string"),
               chunk_size=1)
    assert ok.count() == 999_999


def test_dechunk_tolerates_redelivered_duplicates_and_recovers_key(spark):
    """Review r7: a duplicated chunk (normal at-least-once redelivery)
    used to fail the completeness count and silently DROP the whole
    fully-delivered message; and the original key was discarded."""
    payload = bytes(range(200)) * 10  # 2000 bytes -> 2 chunks of 1000
    df = spark.createDataFrame([("k9", payload)], "key string, value binary")
    chunked = chunk(df, chunk_size=1000)
    dup = chunked.unionByName(chunked.limit(1))  # redeliver one chunk
    back = dechunk(dup)
    rows_ = back.collect()
    assert len(rows_) == 1
    assert bytes(rows_[0].value) == payload
    assert rows_[0].key == "k9"  # recovered from the chunk_key suffix


def test_chunk_identical_messages_roundtrip(spark):
    # Regression: ids must be per-row unique (reference uses uuid4,
    # kafi/chunker.py:37). A content-derived id aliased identical rows, so
    # dechunk's completeness filter (__got == __expect) dropped BOTH copies.
    payload = bytes(range(250)) * 10  # 2500 bytes -> 3 chunks of 1000
    df = spark.createDataFrame([("k", payload), ("k", payload)],
                               "key string, value binary")
    chunked = chunk(df, chunk_size=1000)
    # one id per source row, shared across that row's chunks
    per_msg = {r.chunked_message_id: r.number_of_chunks for r in chunked.collect()}
    assert sorted(per_msg.values()) == [3, 3]
    back = dechunk(chunked)
    got = [bytes(r.value) for r in back.collect()]
    assert got == [payload, payload]


def test_dechunk_drops_incomplete(spark):
    df = spark.createDataFrame(
        [("m1", 0, 2, b"half")],
        "chunked_message_id string, chunk_number int, number_of_chunks int, value binary",
    )
    assert dechunk(df).count() == 0


def test_dechunk_drops_forged_numbering(spark):
    """r10 ADVICE: the completeness check counted DISTINCT chunk numbers
    but never checked they span 0..n-1 — chunks {0, 2} with nof=2 passed
    the count and reassembled a WRONG payload. Only the exact 0..n-1 set
    may reassemble; anything else drops as incomplete."""
    schema = ("chunked_message_id string, chunk_number int, "
              "number_of_chunks int, value binary")
    # {0,2} with nof=2: count matches, span doesn't
    forged = spark.createDataFrame(
        [("m1", 0, 2, b"aa"), ("m1", 2, 2, b"bb")], schema)
    assert dechunk(forged).count() == 0
    # {1,2} with nof=2: count matches, zero missing
    shifted = spark.createDataFrame(
        [("m2", 1, 2, b"aa"), ("m2", 2, 2, b"bb")], schema)
    assert dechunk(shifted).count() == 0
    # control: the exact 0..1 span still reassembles in order
    good = spark.createDataFrame(
        [("m3", 1, 2, b"bb"), ("m3", 0, 2, b"aa")], schema)
    rows = dechunk(good).collect()
    assert len(rows) == 1 and rows[0]["value"] == b"aabb"


def test_offsets_for_times(storage, spark):
    import datetime

    storage.create("t", partitions=1)
    storage.produce("t", msgs(spark, *[("k", f"v{i}") for i in range(6)]))
    # all messages share a produce-time timestamp; a ts in the past
    # resolves to the first offset, far future to None
    past = datetime.datetime(2000, 1, 1)
    future = datetime.datetime(2100, 1, 1)
    assert storage.offsets_for_times("t", past) == {0: 0}
    assert storage.offsets_for_times("t", future) == {0: None}


def test_bytes_file_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(b"abc",), (b"def",)], "value binary")
    path = str(tmp_path / "out.bytes")
    table_to_file(df, path)
    back = file_to_table(spark, path)
    assert back.collect()[0]["value"] == b"abcdef"


def test_local_facade_verbs(spark, tmp_path):
    from kafi_spark.storage import Local

    c = Local(spark, str(tmp_path / "store"))
    c.create("snacks", partitions=2)
    c.produce("snacks", msgs(spark, ("k1", "cake pie"), ("k2", "tea"), ("k1", "cake")))
    assert c.stat("snacks").collect()[0]["n_messages"] == 3
    assert c.cat("snacks").count() == 3
    assert c.head("snacks", n=2).count() == 2
    assert c.tail("snacks", n=1).count() == 1
    assert c.grep("snacks", "cake").count() == 2
    wc_row = c.wc("snacks").collect()[0]
    assert wc_row["n_messages"] == 3
    compacted = c.compact("snacks")
    assert compacted.count() == 2  # k1 last-write-wins
    assert c.collect_value_set("snacks").count() == 3
    assert c.message_size_stats("snacks").count() == 1
    # shell listing aliases (kafi/storage.py:225-238): ls = topics,
    # l/ll = topics with sizes on by default
    assert c.ls() == c.topics() == ["snacks"]
    assert c.l() == c.ll() == {"snacks": 3}
    # dataset-card verb over the topic's values
    rep = {(r.section, r.metric): r.value for r in c.report("snacks").collect()}
    assert int(rep[("global", "rows")]) == 3
    assert int(rep[("global", "distinct_texts")]) >= 2
    assert c.l(size=False) == ["snacks"]


def test_file_uri_root(spark, tmp_path):
    # Remote-FS path: a ``scheme://`` root routes metadata/group IO through
    # the Hadoop FileSystem API (fsio.HadoopIO) — file:// exercises the same
    # code path s3a://, abfss://, hdfs:// take. Full admin + data round-trip.
    store = FSTopicStorage(spark, f"file://{tmp_path}/uri_store")
    store.create("t", partitions=2)
    assert store.exists("t")
    assert store.topics() == ["t"]
    store.produce("t", msgs(spark, ("k1", "v1"), ("k2", "v2")))
    out = store.consume("t", commit=True, group="g1")
    assert sorted(bytes(r.value).decode() for r in out.collect()) == ["v1", "v2"]
    assert store.groups() == ["g1"]
    lag = store.lags("g1")["t"]
    assert all(v == 0 for v in lag.values())
    store.delete_group("g1")
    assert store.groups() == []
    store.delete("t")
    assert not store.exists("t")


def test_produce_rejects_out_of_range_partition(storage, spark):
    # ADVICE: keep_partitions=True used to write NULL offsets silently for
    # partitions outside [0, n). Now it fails the write.
    storage.create("t", partitions=2)
    df = spark.createDataFrame(
        [(b"k", b"v", 5)], "key binary, value binary, partition int"
    )
    with pytest.raises(Exception, match="partition out of range"):
        storage.produce("t", df, keep_partitions=True)
    # valid partitions still pass through unchanged
    ok = spark.createDataFrame(
        [(b"k", b"v", 1)], "key binary, value binary, partition int"
    )
    storage.produce("t", ok, keep_partitions=True)
    assert [r.partition for r in storage.consume("t").collect()] == [1]


def test_set_partitions_and_config(spark, tmp_path):
    from kafi_spark.sources.fs_topic import FSTopicStorage

    s = FSTopicStorage(spark, str(tmp_path / "padmin"))
    s.create("t1", partitions=2, config={"retention.ms": "1000"})
    s.create("t2", partitions=2)
    # glob setter + getter return shape (reference fs_admin.py:134-152)
    assert s.set_partitions("t*", 4) == {"t1": 4, "t2": 4}
    assert s.partitions("t1") == 4
    # produce lands in the new partition range
    s.produce("t1", msgs(spark, *[(str(i), f"v{i}") for i in range(20)]))
    parts = {r["partition"] for r in s.consume("t1").select("partition").collect()}
    assert parts <= set(range(4)) and len(parts) > 2
    # shrink refused
    import pytest as _pytest
    with _pytest.raises(ValueError):
        s.set_partitions("t1", 1)
    # config get/replace (reference fs_admin.py:40-54)
    assert s.config("t1") == {"t1": {"retention.ms": "1000"}}
    assert s.config("t*", {"cleanup.policy": "compact"}) == {
        "t1": {"cleanup.policy": "compact"},
        "t2": {"cleanup.policy": "compact"},
    }
    assert s.metadata("t2")["config"] == {"cleanup.policy": "compact"}


def test_describe_groups_and_state_filter(spark, tmp_path):
    from kafi_spark.sources.fs_topic import FSTopicStorage

    s = FSTopicStorage(spark, str(tmp_path / "gadmin"))
    s.create("t", partitions=1)
    s.produce("t", msgs(spark, ("a", "1"), ("b", "2")))
    s.commit("g1", "t", {0: 1})
    d = s.describe_groups("g1")["g1"]
    assert d == {
        "group_id": "g1",
        "is_simple_consumer_group": False,
        "partition_assignor": "range",
        "state": "stable",
    }
    assert s.groups(state=True) == {"g1": "stable"}
    assert s.groups(state_pattern="emp*") == []
    assert s.groups("g*") == ["g1"]


def test_apply_retention(spark, tmp_path):
    from kafi_spark.sources.fs_topic import FSTopicStorage

    s = FSTopicStorage(spark, str(tmp_path / "ret"))
    s.create("t", partitions=1, config={"retention.ms": "1000"})
    s.create("no_policy", partitions=1)
    old_ts = 1_000_000  # epoch ms
    new_ts = 2_000_000
    old = spark.createDataFrame(
        [(b"k", b"old1", old_ts), (b"k", b"old2", old_ts + 1)],
        "key binary, value binary, timestamp long",
    )
    new = spark.createDataFrame(
        [(b"k", b"new", new_ts)], "key binary, value binary, timestamp long"
    )
    s.produce("t", old, keep_timestamps=True)
    s.produce("t", new, keep_timestamps=True)
    s.produce("no_policy", msgs(spark, ("a", "x")))
    # now = new_ts + 100: cutoff = new_ts - 900, old records expire
    applied = s.apply_retention(now_ms=new_ts + 100)
    assert applied == {"t": {0: 2}}
    vals = sorted(bytes(r.value) for r in s.consume("t").collect())
    assert vals == [b"new"]
    # log start advanced, hwm preserved, untouched topic untouched
    assert s.watermarks("t")[0] == (2, 3)
    assert s.consume("no_policy").count() == 1
    # idempotent when nothing expires
    assert s.apply_retention(now_ms=new_ts + 100) == {}


def test_keep_timestamps_numeric_dtypes_are_epoch_millis(spark, tmp_path):
    """int and double epoch-millis timestamp columns must land on the same
    instant as bigint — previously they fell into cast('timestamp'),
    which reads SECONDS (a silent 1000x shift)."""
    from kafi_spark.sources.fs_topic import FSTopicStorage

    ms = 1_700_000_000_123
    s = FSTopicStorage(spark, str(tmp_path / "ts"))
    for name, sql_t, v in [
        ("t_long", "long", ms),
        ("t_int", "int", 1_000_000),  # int range: smaller epoch
        ("t_dbl", "double", float(ms)),
    ]:
        s.create(name, partitions=1)
        df = spark.createDataFrame(
            [(b"k", b"v", v)], f"key binary, value binary, timestamp {sql_t}"
        )
        s.produce(name, df, keep_timestamps=True)
    from pyspark.sql import functions as F

    def got_ms(topic):
        r = s.consume(topic).select(
            F.unix_millis("timestamp").alias("ms")
        ).first()
        return r["ms"]

    assert got_ms("t_long") == ms
    assert got_ms("t_int") == 1_000_000
    assert got_ms("t_dbl") == ms


def test_compact_files_reduces_file_count(spark, tmp_path):
    import glob

    from kafi_spark.sources.fs_topic import FSTopicStorage

    root = tmp_path / "cf"
    s = FSTopicStorage(spark, str(root))
    s.create("t", partitions=2)
    for i in range(5):  # five appends -> >= 5 files per partition dir
        s.produce("t", msgs(spark, (f"k{i}", f"v{i}"), (f"j{i}", f"w{i}")))
    before = sorted(
        (r.partition, r.offset, bytes(r.value)) for r in s.consume("t").collect()
    )
    files_before = len(glob.glob(str(root / "topics/t/data/**/*.parquet"), recursive=True))
    rewritten = s.compact_files("t")
    assert rewritten == {"t": 10}
    files_after = len(glob.glob(str(root / "topics/t/data/**/*.parquet"), recursive=True))
    assert files_after < files_before
    assert files_after <= s.partitions("t")
    after = sorted(
        (r.partition, r.offset, bytes(r.value)) for r in s.consume("t").collect()
    )
    assert after == before
    assert s.watermarks("t") == {0: (0, 5), 1: (0, 5)} or sum(
        hi - lo for lo, hi in s.watermarks("t").values()
    ) == 10


def test_export_shards_deterministic_and_complete(spark, tmp_path):
    from kafi_spark.sources.files import export_shards

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("v")
    )
    manifest = export_shards(df, str(tmp_path / "shards"), 8, "doc_id")
    m = {r["shard"]: r["rows"] for r in manifest.collect()}
    assert sum(m.values()) == 500
    assert set(m) <= set(range(8)) and len(m) == 8
    back = spark.read.parquet(str(tmp_path / "shards"))
    assert back.select("doc_id").distinct().count() == 500
    # shard assignment is content-hash stable: re-export agrees
    export_shards(df, str(tmp_path / "shards2"), 8, "doc_id")
    a = spark.read.parquet(str(tmp_path / "shards")).select("doc_id", "shard")
    b = spark.read.parquet(str(tmp_path / "shards2")).select("doc_id", "shard")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    import pytest as _pytest
    with _pytest.raises(ValueError):
        export_shards(df, str(tmp_path / "x"), 0, "doc_id")


def test_seek_by_key_with_index(storage, spark):
    """index_topic + seek: keyed point lookup returns exactly the
    matching messages; produce after indexing stays visible (appended
    files are unindexed ⇒ always scanned)."""
    storage.create("kv", partitions=4)
    many = [(f"k{i}", f"v{i}") for i in range(200)]
    storage.produce("kv", msgs(spark, *many))
    storage.index_topic("kv", num_bits=1 << 12)
    out = storage.seek("kv", ["k42", "k7"]).collect()
    assert sorted(bytes(r.value).decode() for r in out) == ["v42", "v7"]
    assert all(r.topic == "kv" for r in out)
    # post-index produce: still found without reindexing
    storage.produce("kv", msgs(spark, ("fresh", "new")))
    got = storage.seek("kv", ["fresh"]).collect()
    assert [bytes(r.value).decode() for r in got] == ["new"]
    # absent key: nothing, and schema intact
    assert storage.seek("kv", ["nope"]).count() == 0


def test_compact_files_preserves_skip_index_and_seek(storage, spark):
    """Round-6 review: compaction used to delete the whole data dir,
    skip index included, crashing seek() afterwards. Now only
    partition=* subdirs are rewritten: seek degrades to a full scan of
    the rewritten (unindexed) files and re-indexing restores pruning."""
    storage.create("cidx", partitions=2)
    storage.produce("cidx", msgs(spark, *[(f"k{i}", f"v{i}") for i in range(50)]))
    storage.index_topic("cidx", num_bits=1 << 12)
    assert [bytes(r.value).decode()
            for r in storage.seek("cidx", ["k7"]).collect()] == ["v7"]
    storage.compact_files("cidx")
    # index survived; every rewritten file reads as unindexed => scanned
    got = storage.seek("cidx", ["k7"]).collect()
    assert [bytes(r.value).decode() for r in got] == ["v7"]
    storage.index_topic("cidx", num_bits=1 << 12)  # refresh restores pruning
    assert [bytes(r.value).decode()
            for r in storage.seek("cidx", ["k7"]).collect()] == ["v7"]


def test_seek_without_index_falls_back_to_scan(storage, spark):
    storage.create("noidx", partitions=2)
    storage.produce("noidx", msgs(spark, ("a", "1"), ("b", "2")))
    out = storage.seek("noidx", ["b"]).collect()
    assert [bytes(r.value).decode() for r in out] == ["2"]
    storage.create("emptyseek", partitions=1)
    assert storage.seek("emptyseek", ["a"]).count() == 0


def test_delete_records_glob_reaches_internal_topics(spark, tmp_path):
    """Round-6 review: the glob form must reach ignored/internal topics
    exactly like the other admin mutators (set_partitions,
    compact_files, apply_retention) do."""
    from kafi_spark.storage import Local

    s = Local(spark, str(tmp_path / "store"))
    s.kafi_config = dict(s.kafi_config, **{"topic.ignore.patterns": ["__*"]})
    s.create("__internal", partitions=1)
    s.produce("__internal", msgs(spark, ("k", "v"), ("k2", "v2")))
    assert "__internal" not in s.topics("*")  # listing stays filtered
    applied = s.delete_records("*")
    assert applied.get("__internal") == {0: 2}
    assert s.consume("__internal").count() == 0


def test_offsets_stay_long_past_int32(storage, spark):
    """Round-9 review: offset assignment ran in 32-bit arithmetic
    (F.lit of a small int is IntegerType), overflowing once a partition
    crossed 2^31 records. Seed the high watermark near the boundary via
    metadata and produce across it."""
    storage.create("big", partitions=1)
    meta = storage.metadata("big")
    meta["next_offset"] = {"0": (1 << 31) - 5}
    storage._set_meta("big", meta)
    storage.produce("big", msgs(spark, *[(f"k{i}", f"v{i}") for i in range(10)]))
    offs = sorted(r.offset for r in storage.consume("big").collect())
    assert offs == list(range((1 << 31) - 5, (1 << 31) + 5))
    assert all(o > 0 for o in offs)


def test_keep_partitions_null_partition_clear_error(storage, spark):
    """Round-9 review: a NULL partition under keep_partitions=True hit
    raise_error(concat(.., NULL)) = raise_error(NULL) — a job abort with
    a null message. The error must name the problem."""
    storage.create("kp", partitions=2)
    df = spark.createDataFrame(
        [(b"k", b"v", None)], "key binary, value binary, partition int")
    with pytest.raises(Exception, match="NULL"):
        storage.produce("kp", df, keep_partitions=True)


def test_consume_offsets_out_of_range_clear_error(storage, spark):
    """Round-9 review: consume(offsets={bad: ..}) raised a bare
    KeyError; it must name the topic and range like delete_records. An
    unknown end-offset partition alone used to bound nothing and return
    every row."""
    storage.create("rng", partitions=2)
    storage.produce("rng", msgs(spark, ("a", "v")))
    for bound in ("offsets", "end_offsets"):
        with pytest.raises(ValueError, match="out of range for rng"):
            storage.consume("rng", **{bound: {5: 0}}).collect()


def test_delete_records_hwm_survives_failed_rewrite(storage, spark, monkeypatch):
    """Round-9 review: the next-offset floor must persist BEFORE the
    destructive rewrite — a crash in between used to reset a purged
    partition's high watermark to 0 and re-serve offsets."""
    storage.create("crash", partitions=1)
    storage.produce("crash", msgs(spark, ("a", "1"), ("b", "2"), ("c", "3")))
    assert storage.watermarks("crash")[0] == (0, 3)

    def boom(*a, **kw):
        raise RuntimeError("simulated crash mid-rewrite")

    monkeypatch.setattr(storage, "_rewrite_partitions", boom)
    with pytest.raises(RuntimeError):
        storage.delete_records("crash")
    monkeypatch.undo()
    # data untouched (rewrite never ran), and the hwm floor is durable:
    # even after a real purge the next offset continues from 3
    assert storage.watermarks("crash")[0][1] == 3
    storage.delete_records("crash")
    assert storage.consume("crash").count() == 0
    assert storage.watermarks("crash")[0] == (3, 3)
    storage.produce("crash", msgs(spark, ("d", "4")))
    assert [r.offset for r in storage.consume("crash").collect()] == [3]


def test_stale_rewrite_tmp_invisible_and_clobbered(storage, spark):
    """Round-9 review follow-through: the durable rewrite stages
    survivors in an underscore-hidden temp dir; a stale one from a
    crashed rewrite must be invisible to scans and clobbered by the
    next rewrite."""
    storage.create("tmpvis", partitions=1)
    storage.produce("tmpvis", msgs(spark, ("a", "1"), ("b", "2")))
    data_dir = storage._data_dir("tmpvis")
    stale = storage._io.join(data_dir, "_rewrite_tmp", "partition=0")
    storage._io.mkdirs(stale)
    storage._io.write_bytes(
        storage._io.join(stale, "junk.bin"), b"not parquet")
    # scans ignore the underscore dir entirely
    assert storage.consume("tmpvis").count() == 2
    # the next compaction overwrites the stale dir and succeeds
    assert storage.compact_files("tmpvis") == {"tmpvis": 2}
    assert storage.consume("tmpvis").count() == 2
    assert not storage._io.exists(
        storage._io.join(data_dir, "_rewrite_tmp"))


def test_produce_auto_chunk_consume_dechunk_roundtrip(storage, spark):
    """Config-driven transparent chunking (kafi/storage_producer.py:42-59
    + kafi/storage_consumer.py:113-114): oversized values split into
    header-linked chunk messages on produce and reassemble byte-exact
    under consume(dechunk=True); small values pass through unchunked."""
    storage.create("big", partitions=3)
    big1 = bytes(range(256)) * 40          # 10240 B -> 11 chunks @ 1000
    big2 = b"x" * 1000                     # exactly the limit -> 1 row
    small = b"tiny"
    df = spark.createDataFrame(
        [(b"k1", big1), (b"k2", big2), (None, small)],
        "key binary, value binary")
    storage.produce("big", df, chunk_size_bytes=1000)

    raw = storage.consume("big")
    assert raw.count() == 11 + 1 + 1
    # the chunk rows carry the reference wire headers + _NNNNNN key suffix
    hdr_keys = {h.key for r in raw.collect() for h in (r.headers or [])}
    assert hdr_keys == {"kafi_chunked_message_id", "kafi_number_of_chunks",
                        "kafi_chunk_number"}
    k1_chunks = sorted(
        bytes(r.key).decode() for r in raw.collect()
        if r.key is not None and bytes(r.key).startswith(b"k1"))
    assert k1_chunks == [f"k1_{i:06d}" for i in range(11)]

    out = storage.consume("big", dechunk=True)
    got = {(bytes(r.key) if r.key is not None else None): bytes(r.value)
           for r in out.collect()}
    assert got == {b"k1": big1, b"k2": big2, None: small}
    # residual headers are clean and metadata comes from a real chunk row
    for r in out.collect():
        assert not (r.headers or [])
        assert r.topic == "big" and r.offset >= 0

    with pytest.raises(ValueError, match="chunk_size_bytes"):
        storage.produce("big", df, chunk_size_bytes=0)


def test_consume_dechunk_drops_incomplete_groups(storage, spark):
    """A bounded scan that caught only part of a chunked message must
    not fabricate a truncated value — the incomplete group is dropped
    (the reference buffers until all chunks arrive)."""
    storage.create("cut", partitions=1)
    storage.produce(
        "cut",
        spark.createDataFrame([(b"k", b"a" * 2500)], "key binary, value binary"),
        chunk_size_bytes=1000)  # 3 chunks at offsets 0..2
    assert storage.consume("cut").count() == 3
    partial = storage.consume("cut", end_offsets={0: 1}, dechunk=True)
    assert partial.count() == 0
    full = storage.consume("cut", dechunk=True)
    assert [bytes(r.value) for r in full.collect()] == [b"a" * 2500]


def test_consume_dechunk_drops_forged_numbering(storage, spark):
    """r10 ADVICE twin of test_dechunk_drops_forged_numbering for the
    storage path: chunk headers claiming numbers {0, 2} with
    number_of_chunks=2 pass a pure distinct-COUNT completeness check and
    reassemble a wrong payload — _dechunk_frame must require the exact
    0..n-1 span and drop the group as incomplete."""
    from pyspark.sql.types import (
        ArrayType, BinaryType, StringType, StructField, StructType)

    hdrs_t = ArrayType(StructType([
        StructField("key", StringType()), StructField("value", BinaryType())]))
    schema = StructType([
        StructField("key", BinaryType()), StructField("value", BinaryType()),
        StructField("headers", hdrs_t)])

    def hdrs(cno: int, nof: int = 2, mid: bytes = b"forged-mid"):
        be = lambda n: n.to_bytes(32, "big")  # noqa: E731
        return [("kafi_chunked_message_id", mid),
                ("kafi_number_of_chunks", be(nof)),
                ("kafi_chunk_number", be(cno))]

    storage.create("forged", partitions=1)
    storage.produce(
        "forged",
        spark.createDataFrame(
            [(b"k_000000", b"aa", hdrs(0)), (b"k_000002", b"bb", hdrs(2))],
            schema))
    # raw rows are there; the forged {0,2}/nof=2 group must NOT reassemble
    assert storage.consume("forged").count() == 2
    assert storage.consume("forged", dechunk=True).count() == 0

    # control: the exact {0,1}/nof=2 span reassembles in order
    storage.create("spanok", partitions=1)
    storage.produce(
        "spanok",
        spark.createDataFrame(
            [(b"k_000000", b"aa", hdrs(0, mid=b"ok-mid")),
             (b"k_000001", b"bb", hdrs(1, mid=b"ok-mid"))],
            schema))
    rows = storage.consume("spanok", dechunk=True).collect()
    assert len(rows) == 1 and bytes(rows[0].value) == b"aabb"
    assert bytes(rows[0].key) == b"k"


def test_chunking_preserves_null_key_headers_and_guards_suffix_capacity(
        storage, spark):
    """Review r10: (a) a user header with a NULL key (the schema allows
    it) must survive dechunking like it survives an unchunked produce —
    the chunk-header strip filter is null-safe; (b) values needing more
    chunks than the 6-digit key suffix can number fail loudly instead
    of silently colliding chunk keys (the sources/chunker.py contract)."""
    from pyspark.sql.types import (
        ArrayType, BinaryType, StringType, StructField, StructType)

    hdrs_t = ArrayType(StructType([
        StructField("key", StringType()), StructField("value", BinaryType())]))
    schema = StructType([
        StructField("key", BinaryType()), StructField("value", BinaryType()),
        StructField("headers", hdrs_t)])
    storage.create("nullhdr", partitions=1)
    storage.produce(
        "nullhdr",
        spark.createDataFrame(
            [(b"k", b"z" * 2500, [(None, b"keepme"), ("mine", b"v")])],
            schema),
        chunk_size_bytes=1000)
    out = storage.consume("nullhdr", dechunk=True).collect()
    assert len(out) == 1
    assert {(h.key, bytes(h.value)) for h in out[0].headers} == {
        (None, b"keepme"), ("mine", b"v")}

    storage.create("overflow", partitions=1)
    with pytest.raises(Exception, match="999999"):
        storage.produce(
            "overflow",
            spark.createDataFrame(
                [(b"k", b"a" * 1_000_001)], "key binary, value binary"),
            chunk_size_bytes=1)
