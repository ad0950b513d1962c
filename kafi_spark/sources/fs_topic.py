"""Filesystem topics: Kafka emulated as partitioned parquet tables.

The reference emulates Kafka on any filesystem with a directory layout —
``root/topics/<topic>/metadata`` + per-partition segment files whose names
carry offset/timestamp min-max for pruning, and ``root/groups/<group>``
consumer-group state (kafi/fs/fs_admin.py:66-67, 206-261, 380-415; SURVEY
§1.3). The Spark-native rendering:

* topic data  = ``root/topics/<topic>/data`` parquet, directory-partitioned
  by ``partition`` (partition pruning) — the offset/timestamp min-max the
  reference keeps in segment file names lives in each file's parquet
  footer instead: scans prune on it, and ``watermarks`` reads the offset
  range from it without a Spark job;
* topic meta  = ``root/topics/<topic>/metadata.json`` (partitions, config);
* group state = ``root/groups/<group>.json`` (committed offsets per
  topic-partition, kafi/fs/fs_admin.py:380-415).

Offset assignment happens at write time, per partition, exactly like a
broker: new offset = high watermark + row_number within the appended batch
(one shuffle on ``partition`` — the same shuffle the write layout needs
anyway). Works on any Hadoop-FS URI (file://, s3a://, abfss://), which is
how the reference's S3/Azure backends (kafi/fs/s3/s3_admin.py,
kafi/fs/azureblob/azureblob_admin.py) collapse into path schemes: bulk
data goes through Spark's parquet reader/writer, and the metadata/group
plane goes through the same Hadoop FileSystem API (sources/fsio.py).
"""

from __future__ import annotations

import datetime as _dt
import fnmatch
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from kafi_spark.sources.chunker import (
    explode_chunks, key_suffix, reassemble, strip_key_suffix)
from kafi_spark.sources.fsio import LocalIO, footer_range, io_for, spark_visible
from kafi_spark.sources.schema import MESSAGE_SCHEMA


class FSTopicStorage:
    """A topic store rooted at a directory (local path or Hadoop-FS URI).

    Mirrors the reference's admin surface (kafi/storage.py:222-292): topics
    list/create/delete/exists/partitions/watermarks, consumer groups with
    committed offsets and lags, plus produce/consume. ``ls``-style aliases
    included for shell parity (kafi/storage.py:225-289).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._io = io_for(spark, self.root)
        self._io.mkdirs(self._io.join(self.root, "topics"))
        self._io.mkdirs(self._io.join(self.root, "groups"))

    # -- paths --------------------------------------------------------------

    def _topic_dir(self, topic: str) -> str:
        return self._io.join(self.root, "topics", topic)

    def _data_dir(self, topic: str) -> str:
        return self._io.join(self._topic_dir(topic), "data")

    def _meta_path(self, topic: str) -> str:
        return self._io.join(self._topic_dir(topic), "metadata.json")

    def _group_path(self, group: str) -> str:
        return self._io.join(self.root, "groups", f"{group}.json")

    # -- topic admin (kafi/fs/fs_admin.py:16-183) ---------------------------

    def create(self, topic: str, partitions: int = 1, config: dict | None = None) -> None:
        if self.exists(topic):
            raise ValueError(f"topic exists: {topic}")
        self._io.mkdirs(self._data_dir(topic))
        self._io.write_bytes(
            self._meta_path(topic),
            json.dumps({"topic": topic, "partitions": partitions, "config": config or {}}).encode(),
        )

    touch = create  # shell alias (kafi/storage.py:262)

    def delete(self, topic: str) -> None:
        if self.exists(topic):
            self._io.delete(self._topic_dir(topic))

    rm = delete  # shell alias (kafi/storage.py:266)

    def exists(self, topic: str) -> bool:
        return self._io.exists(self._meta_path(topic))

    def metadata(self, topic: str) -> dict:
        return json.loads(self._io.read_bytes(self._meta_path(topic)))

    def partitions(self, topic: str) -> int:
        return self.metadata(topic)["partitions"]

    def _set_meta(self, topic: str, meta: dict) -> None:
        self._io.write_bytes(self._meta_path(topic), json.dumps(meta).encode())

    def set_partitions(self, pattern: str, partitions: int) -> dict[str, int]:
        """Set the partition count of every topic matching the glob and
        return {topic: partitions} (reference ``partitions(pattern,
        partitions=n)``, kafi/fs/fs_admin.py:134-152). Increases take
        effect for subsequent produces; decreases are rejected here
        (the reference silently orphans data in removed partitions —
        offsets and watermarks would dangle)."""
        out = {}
        # base-class listing on purpose: admin setters reach internal
        # topics too (subclasses filter topics() by ignore patterns)
        for t in FSTopicStorage.topics(self, pattern):
            meta = self.metadata(t)
            if partitions < meta["partitions"]:
                raise ValueError(
                    f"cannot shrink {t} from {meta['partitions']} to "
                    f"{partitions} partitions (data would be orphaned)"
                )
            meta["partitions"] = partitions
            self._set_meta(t, meta)
            out[t] = partitions
        return out

    def config(self, pattern: str, config: dict | None = None) -> dict[str, dict]:
        """Get — and with ``config`` given, replace — the config dict of
        every topic matching the glob; returns {topic: config}
        (reference ``config(pattern, config=...)``,
        kafi/fs/fs_admin.py:40-54)."""
        out = {}
        for t in FSTopicStorage.topics(self, pattern):
            if config is not None:
                meta = self.metadata(t)
                meta["config"] = dict(config)
                self._set_meta(t, meta)
            out[t] = self.metadata(t).get("config", {})
        return out

    def topics(self, pattern: str = "*", size: bool = False):
        """List topics by glob (kafi/helpers.py:270-280 fnmatch semantics);
        with ``size=True``, message counts from watermarks
        (kafi/storage_admin.py:11-54)."""
        base = self._io.join(self.root, "topics")
        names = sorted(
            t for t in self._io.listdir(base)
            if fnmatch.fnmatch(t, pattern) and self._io.exists(self._meta_path(t))
        )
        if not size:
            return names
        out = {}
        for t in names:
            wm = self.watermarks(t)
            out[t] = sum(hi - lo for lo, hi in wm.values())
        return out

    ls = topics  # shell alias (kafi/storage.py:225-238)

    def l(self, pattern: str = "*", size: bool = True):
        """``ls`` with sizes on by default (kafi/storage.py:227-232)."""
        return self.topics(pattern, size=size)

    ll = l  # kafi/storage.py:234

    def recreate(self, topic: str) -> None:
        """Delete + create preserving partitions/config (kafi/addons.py:69-108)."""
        meta = self.metadata(topic)
        self.delete(topic)
        self.create(topic, meta["partitions"], meta.get("config"))

    def watermarks(self, topic: str) -> dict[int, tuple[int, int]]:
        """Per-partition (low, high) offsets; high = next offset to assign,
        Kafka convention (kafi/fs/fs_admin.py:206-261). The reference reads
        them from segment file names; here each data file's parquet footer
        carries its offset min/max, read with pyarrow and no Spark job.
        A Hadoop-FS root, or any file without offset statistics, falls
        back to one min/max aggregate over the topic. ``delete_records``
        advances the persisted log-start / next-offset floors in topic
        metadata, which dominate when a partition's data is fully purged
        (the high watermark must survive a full truncation, like a broker's
        log start offset does)."""
        return self._watermarks(topic, self.metadata(topic))

    def _watermarks(self, topic: str, meta: dict) -> dict[int, tuple[int, int]]:
        # takes the caller's metadata: produce reads metadata.json once
        # for both the partition count and the floors — on an
        # object-store root each read is a remote GET
        n = meta["partitions"]
        log_start = {int(p): o for p, o in meta.get("log_start", {}).items()}
        next_off = {int(p): o for p, o in meta.get("next_offset", {}).items()}
        wm = {
            p: (log_start.get(p, 0), max(log_start.get(p, 0), next_off.get(p, 0)))
            for p in range(n)
        }
        ranges = self._footer_offset_ranges(topic)
        if ranges is None:
            ranges = self._scan_offset_ranges(topic)
        for p, (lo, hi) in ranges.items():
            wm[p] = (max(lo, log_start.get(p, 0)),
                     max(hi + 1, next_off.get(p, 0)))
        return wm

    def _footer_offset_ranges(self, topic: str) -> dict[int, tuple[int, int]] | None:
        """{partition: (min, max) offset} from the data files' parquet
        footers. Files are listed with Spark's hidden-file rule, so the
        set is exactly what a topic scan reads. A footer is committed
        atomically with its own rows, so there is no index to fall out
        of step. None when the footers cannot answer for every file: a
        Hadoop-FS root, an entry that is not a ``partition=<p>/``
        directory of files, or a file without offset statistics."""
        if not isinstance(self._io, LocalIO):
            return None
        data_dir = self._data_dir(topic)
        if not os.path.isdir(data_dir):
            return {}
        ranges: dict[int, tuple[int, int]] = {}
        for name in filter(spark_visible, os.listdir(data_dir)):
            key, _, p = name.partition("=")
            part_dir = os.path.join(data_dir, name)
            if key != "partition" or not p.isdigit() or not os.path.isdir(part_dir):
                return None
            p = int(p)
            for f in filter(spark_visible, os.listdir(part_dir)):
                path = os.path.join(part_dir, f)
                if os.path.isdir(path):
                    return None
                lo, hi, rows = footer_range(path, "offset")
                if lo is None:
                    if rows:
                        return None
                    continue
                old = ranges.get(p)
                ranges[p] = (lo, hi) if old is None else (
                    min(old[0], lo), max(old[1], hi))
        return ranges

    def _scan_offset_ranges(self, topic: str) -> dict[int, tuple[int, int]]:
        """{partition: (min, max) offset} from one min/max aggregate over
        the topic's rows: the fallback where footers cannot answer."""
        df = self._read_raw(topic)
        if df is None:
            return {}
        return {
            r["partition"]: (r["lo"], r["hi"])
            for r in df.groupBy("partition").agg(
                F.min("offset").alias("lo"), F.max("offset").alias("hi")
            ).collect()
        }

    #: sentinel accepted by delete_records: purge up to the high watermark
    OFFSET_END = -1

    def delete_records(self, pattern_or_offsets="*") -> dict[str, dict[int, int]]:
        """Truncate partition prefixes, Kafka ``delete_records`` semantics
        (kafi/kafka/cluster/cluster_admin.py:292-315): records with offset
        below the cut are removed, the log start offset advances, and the
        high watermark is preserved even on full truncation.

        ``pattern_or_offsets``: topic glob (every partition purged to its
        high watermark, the reference's pattern form) or
        ``{topic: {partition: offset}}`` with ``OFFSET_END`` (-1) meaning
        "up to high watermark".

        Only affected partition directories are rewritten (survivors are
        materialized, the directory swapped, untouched partitions never
        read) — at scale this is one pruned scan + write per truncated
        partition, not a topic rewrite. Returns the applied cuts.
        """
        if isinstance(pattern_or_offsets, dict):
            plan = {t: {int(p): o for p, o in offs.items()}
                    for t, offs in pattern_or_offsets.items()}
        else:
            # FSTopicStorage.topics, not self.topics: the glob form is an
            # admin mutator and must reach internal/ignored topics exactly
            # like set_partitions/compact_files/apply_retention do
            plan = {t: {p: self.OFFSET_END for p in range(self.partitions(t))}
                    for t in FSTopicStorage.topics(self, pattern_or_offsets)}
        applied: dict[str, dict[int, int]] = {}
        for topic, offs in plan.items():
            wm = self.watermarks(topic)
            cut = {}
            for p, o in offs.items():
                if p not in wm:
                    raise ValueError(f"partition {p} out of range for {topic}")
                hi = wm[p][1]
                c = hi if o in (self.OFFSET_END, None) else min(int(o), hi)
                cut[p] = max(c, wm[p][0])
            affected = sorted(p for p, c in cut.items() if c > wm[p][0])
            df = self._read_raw(topic)
            # persist the NEXT-OFFSET floor BEFORE any destructive step:
            # raising the high watermark early is always safe (offsets
            # only ever grow), while the old post-rewrite-only write left
            # a crash window in which a fully-purged partition's hwm
            # reset to 0 and produce re-served already-assigned offsets
            # (round-9 review). log_start stays AFTER the rewrite — it
            # must not advance past data that is still on disk.
            meta = self.metadata(topic)
            next_off = meta.setdefault("next_offset", {})
            floor_moved = False
            for p in cut:
                if int(next_off.get(str(p), 0)) < wm[p][1]:
                    next_off[str(p)] = wm[p][1]
                    floor_moved = True
            if floor_moved:
                self._io.write_bytes(
                    self._meta_path(topic), json.dumps(meta).encode())
            if affected and df is not None:
                cutmap = F.create_map(
                    *[x for p in affected for x in (F.lit(p), F.lit(cut[p]))])
                kept = (
                    df.filter(F.col("partition").isin(affected))
                    .filter(F.col("offset") >= cutmap[F.col("partition")])
                    .select([f.name for f in MESSAGE_SCHEMA.fields])
                )
                self._rewrite_partitions(topic, kept, affected)
            meta = self.metadata(topic)
            log_start = meta.setdefault("log_start", {})
            next_off = meta.setdefault("next_offset", {})
            for p, c in cut.items():
                log_start[str(p)] = max(c, int(log_start.get(str(p), 0)))
                next_off[str(p)] = max(int(next_off.get(str(p), 0)), wm[p][1])
            self._io.write_bytes(self._meta_path(topic), json.dumps(meta).encode())
            applied[topic] = cut
        return applied

    def compact_files(self, pattern: str = "*") -> dict[str, int]:
        """Small-file maintenance: rewrite each matching topic's data so
        every partition directory holds ONE parquet file instead of one
        per produce batch (every ``produce`` appends files; a
        many-small-batches topic becomes a many-small-files scan).

        Distinct from Kafka log compaction (:func:`kafi_spark.addons.
        compact`, last-value-per-key) — this is physical layout only:
        offsets, timestamps, watermarks, and row content are unchanged.
        One shuffle on ``partition`` per topic; survivors are
        materialized before the directory swap, same crash-safety
        pattern as delete_records. Returns {topic: rows_rewritten}.
        """
        out: dict[str, int] = {}
        for t in FSTopicStorage.topics(self, pattern):
            df = self._read_raw(t)
            if df is None:
                out[t] = 0
                continue
            kept = (
                df.repartition("partition")
                .select([f.name for f in MESSAGE_SCHEMA.fields])
            )
            # delete only partition=* subdirs (handled inside the
            # durable rewrite): the topic's skip index
            # (<data>/_kafi_skip_index) survives compaction — every old
            # file drops out of its manifest (deleted => ignored) and the
            # rewritten files read as unindexed (always scanned), so seek()
            # keeps working unpruned until the next index_topic refresh.
            # A whole-directory delete used to take the index with it and
            # crash the point-lookup verb after routine maintenance.
            out[t] = self._rewrite_partitions(t, kept, None)
        return out

    def apply_retention(self, pattern: str = "*", now_ms: int | None = None) -> dict:
        """Enforce ``retention.ms`` topic config: records whose timestamp
        is older than ``now - retention.ms`` are truncated per partition
        via :meth:`delete_records` (offsets resolved with
        :meth:`offsets_for_times`, so the cut is a prefix — Kafka
        retention semantics, not a row filter). Topics without a
        ``retention.ms`` config are skipped. Returns the applied cuts.
        """
        now = int(time.time() * 1000) if now_ms is None else int(now_ms)
        plan: dict[str, dict[int, int]] = {}
        for t in FSTopicStorage.topics(self, pattern):
            retention = self.metadata(t).get("config", {}).get("retention.ms")
            if retention is None:
                continue
            cutoff_ms = now - int(retention)
            # stored timestamps are TIMESTAMP; session TZ is UTC, so the
            # naive datetime is the exact epoch instant
            cutoff = _dt.datetime.utcfromtimestamp(cutoff_ms / 1000.0)
            offs = self.offsets_for_times(t, cutoff)
            wm = self.watermarks(t)
            # partitions with no record at/after the cutoff purge fully
            cuts = {
                p: (o if o is not None else self.OFFSET_END)
                for p, o in offs.items()
            }
            if any(
                (o == self.OFFSET_END and wm[p][1] > wm[p][0]) or
                (o != self.OFFSET_END and o > wm[p][0])
                for p, o in cuts.items()
            ):
                plan[t] = cuts
        if not plan:
            return {}
        return self.delete_records(plan)

    # -- consumer groups (kafi/fs/fs_admin.py:380-415) ----------------------

    def groups(self, pattern: str = "*", state_pattern: str = "*", state: bool = False):
        """Consumer groups by glob, optionally filtered by state glob;
        ``state=True`` returns {group: state} (reference
        kafi/fs/fs_admin.py:297-313)."""
        names = sorted(
            g[:-5] for g in self._io.listdir(self._io.join(self.root, "groups"))
            if g.endswith(".json") and fnmatch.fnmatch(g[:-5], pattern)
        )
        pairs = [(g, self._group_state(g)) for g in names]
        pairs = [(g, s) for g, s in pairs if fnmatch.fnmatch(s, state_pattern)]
        if state:
            return dict(pairs)
        return [g for g, _ in pairs]

    gls = groups

    def _group_state(self, group: str) -> str:
        path = self._group_path(group)
        if not self._io.exists(path):
            return "empty"
        return json.loads(self._io.read_bytes(path)).get("state", "empty")

    def describe_groups(self, pattern: str = "*", state_pattern: str = "*") -> dict:
        """Group descriptions in the reference's shape
        (kafi/fs/fs_admin.py:289-295)."""
        return {
            g: {
                "group_id": g,
                "is_simple_consumer_group": False,
                "partition_assignor": "range",
                "state": s,
            }
            for g, s in self.groups(pattern, state_pattern, state=True).items()
        }

    def group_offsets(self, group: str) -> dict:
        path = self._group_path(group)
        if not self._io.exists(path):
            return {}
        return json.loads(self._io.read_bytes(path))["offsets"]

    def commit(self, group: str, topic: str, offsets: dict[int, int]) -> None:
        path = self._group_path(group)
        state = {"offsets": {}, "last_update": time.time()}
        if self._io.exists(path):
            state = json.loads(self._io.read_bytes(path))
        state.setdefault("offsets", {}).setdefault(topic, {}).update(
            {str(p): o for p, o in offsets.items()}
        )
        state["state"] = "stable"
        state["last_update"] = time.time()
        self._io.write_bytes(path, json.dumps(state).encode())

    def delete_group(self, group: str) -> None:
        path = self._group_path(group)
        if self._io.exists(path):
            self._io.delete(path)

    grm = delete_group

    def lags(self, group: str) -> dict[str, dict[int, int]]:
        """Consumer lag = high watermark − committed, per topic/partition
        (kafi/storage.py:245-255)."""
        out: dict[str, dict[int, int]] = {}
        for topic, offs in self.group_offsets(group).items():
            wm = self.watermarks(topic)
            out[topic] = {
                int(p): wm[int(p)][1] - committed for p, committed in offs.items()
            }
        return out

    def cp_group_offsets(self, group: str, target: "FSTopicStorage", target_group: str | None = None) -> None:
        """Clone committed offsets to another storage (kafi/addons.py:112-129)."""
        for topic, offs in self.group_offsets(group).items():
            target.commit(target_group or group, topic, {int(p): o for p, o in offs.items()})

    # -- produce (kafi/fs/fs_producer.py:26-70) -----------------------------

    def produce(
        self,
        topic: str,
        df: DataFrame,
        keep_partitions: bool = False,
        keep_timestamps: bool = False,
        chunk_size_bytes: int | None = None,
    ) -> None:
        """Append messages; assign partition and offset broker-style.

        Input columns: ``value`` (binary) required; ``key``, ``headers``,
        ``timestamp``, ``partition`` optional. Partitioning follows the
        reference's default partitioner — hash(key) % n for keyed rows,
        round-robin-ish spread for null keys (kafi/helpers.py:338-352) —
        unless ``keep_partitions`` (kafi/storage_producer.py:18-22).

        Offsets: per partition, high-watermark + row_number over the batch —
        one shuffle on ``partition`` (which the partitioned write needs
        anyway). Timestamps default to the write time (timestampType=1,
        kafi/fs/fs_producer.py:36-37).

        ``chunk_size_bytes`` switches on transparent producer-side
        chunking (kafi/storage_producer.py:42-59 → kafi/chunker.py:25-63):
        values longer than the limit split into numbered chunk messages
        linked by the reference's wire headers (``kafi_chunked_message_id``
        = a UUID string's UTF-8 bytes, ``kafi_number_of_chunks`` /
        ``kafi_chunk_number`` = 32-byte big-endian) and the ``_NNNNNN``
        key suffix (kafi/helpers.py:370-376; null keys stay null). Chunks
        of a keyed message hash-partition by their SUFFIXED keys, so they
        scatter like the reference's; ``consume(..., dechunk=True)``
        reassembles regardless of placement. One narrow projection —
        explode + substring, no extra pass.
        """
        meta = self.metadata(topic)
        n = meta["partitions"]
        cols = df.columns
        key = F.col("key") if "key" in cols else F.lit(None).cast("binary")
        headers = (F.col("headers") if "headers" in cols else
                   F.lit(None).cast(MESSAGE_SCHEMA["headers"].dataType))
        if chunk_size_bytes is not None:
            if chunk_size_bytes <= 0:
                # reference: chunk_size_bytes == 0 raises at producer
                # construction (kafi/chunker.py:11-12); we fold the
                # disabled (-1) case into None
                raise ValueError(
                    f"chunk_size_bytes must be > 0, got {chunk_size_bytes}")
            df = self._chunk_rows(
                df.withColumns({"key": key, "headers": headers}),
                int(chunk_size_bytes))
            key, headers = F.col("key"), F.col("headers")
        if keep_partitions and "partition" in cols:
            # Reject out-of-range partitions at write time instead of writing
            # NULL offsets (the hwm lookup below would miss silently). The
            # check rides the write pass — no extra job.
            partition = F.when(
                (F.col("partition") >= 0) & (F.col("partition") < n),
                F.col("partition"),
            ).otherwise(
                # coalesce: a NULL partition fell through to
                # raise_error(concat(.., NULL)) = raise_error(NULL) —
                # the job died with a null message carrying no
                # diagnostic
                F.raise_error(
                    F.concat(
                        F.lit(f"partition out of range [0, {n}): "),
                        F.coalesce(
                            F.col("partition").cast("string"),
                            F.lit("NULL (set a value or drop the "
                                  "column to use the partitioner)"),
                        ),
                    )
                ).cast("int")
            )
        else:
            # hash-partition keyed rows; spread null keys uniformly
            partition = (
                F.when(key.isNotNull(), F.pmod(F.xxhash64(key), F.lit(n)))
                .otherwise(F.pmod(F.abs(F.monotonically_increasing_id()), F.lit(n)))
                .cast("int")
            )
        if not (keep_timestamps and "timestamp" in cols):
            timestamp = F.current_timestamp()
        elif (ts_dt := dict(df.dtypes)["timestamp"]) in (
            "bigint", "int", "smallint", "tinyint", "double", "float"
        ) or ts_dt.startswith("decimal"):
            # the reference's timestamp convention is epoch MILLIS for ANY
            # numeric dtype (kafi/storage_consumer.py:132-138); a raw
            # cast("timestamp") would read SECONDS — int/double epoch-millis
            # columns previously fell into that branch, a silent 1000x shift
            timestamp = F.timestamp_millis(F.col("timestamp").cast("long"))
        else:
            timestamp = F.col("timestamp").cast("timestamp")
        # one projection for every derived column: each withColumn
        # would be one more DataFrame to analyze
        out = df.select(
            key.alias("key"), "value", timestamp.alias("timestamp"),
            partition.alias("partition"), headers.alias("headers"),
        )
        wm = self._watermarks(topic, meta)
        # the high-watermark lookup is ONE SQL array literal: one py4j
        # call, where n F.lit columns cost at least one each. The ``L``
        # suffix keeps offset arithmetic 64-bit: an IntegerType literal
        # overflows (ANSI throw / silent wrap) once a partition passes
        # 2^31 records, and MESSAGE_SCHEMA declares offset LONG.
        # try_element_at, not element_at, keeps ``offset`` nullable, as
        # in MESSAGE_SCHEMA and in the files already written
        hwm = F.expr("try_element_at(array({}), partition + 1)".format(
            ", ".join(f"{wm[p][1]}L" for p in range(n))))
        # ordering is load-bearing: Catalyst extracts the orderBy
        # expression into a Project BELOW the window's Exchange (verified
        # via explain), so monotonically_increasing_id() is evaluated
        # PRE-shuffle — offsets follow (input split, row position), i.e.
        # per-partition input order, not nondeterministic shuffle arrival
        w = W.partitionBy("partition").orderBy(F.monotonically_increasing_id())
        # the window goes on before the reordering select: its input keeps
        # this frame's column order, which is the shuffled row layout
        # (timestamp before partition: 3% fewer shuffle bytes on the
        # perfbench topic log)
        out = out.withColumn(
            "offset", hwm + F.row_number().over(w) - 1
        ).select(
            "key", "value", F.lit(topic).alias("topic"), "partition",
            "offset", "timestamp", F.lit(1).alias("timestampType"), "headers",
        )
        out.write.mode("append").partitionBy("partition").parquet(self._data_dir(topic))

    # reference chunk-header names (kafi/chunker.py:37-47)
    _CHUNK_HDRS = ("kafi_chunked_message_id", "kafi_number_of_chunks",
                   "kafi_chunk_number")

    @staticmethod
    def _hdr(key: str):
        """First header value for ``key`` (null when absent) from the
        frame's ``headers`` column — the shared extractor."""
        from kafi_spark.sources.schema import header_value

        return header_value(F.col("headers"), key)

    @classmethod
    def _chunk_rows(cls, out: DataFrame, csb: int) -> DataFrame:
        """Producer-side chunk split (kafi/chunker.py:25-63) on a frame
        already carrying ``key``/``value``/``headers``: the
        sources/chunker.py split, projected onto the wire headers. Values
        with length <= csb (and null values) pass through byte-identical."""
        # 32-byte big-endian ints, the reference's header encoding
        # (int.to_bytes(32, "big")): unhex of a 64-digit hex pad
        int32be = lambda c: F.unhex(F.lpad(F.hex(c.cast("long")), 64, "0"))  # noqa: E731
        hdrs_t = MESSAGE_SCHEMA["headers"].dataType
        chunked = F.col("number_of_chunks") > 1
        links = (
            # the reference stores the UUID's string form as UTF-8 bytes
            F.encode("chunked_message_id", "UTF-8"),
            int32be(F.col("number_of_chunks")),
            int32be(F.col("chunk_number")),
        )
        return (
            explode_chunks(out, "value", csb)
            .withColumns({
                "key": F.when(
                    chunked & F.col("key").isNotNull(),
                    # null keys stay null (the reference's key_to_chunk_key)
                    F.concat(F.col("key"), F.encode(
                        key_suffix(F.col("chunk_number")), "UTF-8")),
                ).otherwise(F.col("key")),
                "headers": F.when(
                    chunked,
                    F.concat(
                        F.coalesce(F.col("headers"), F.array().cast(hdrs_t)),
                        F.array(*(
                            F.struct(F.lit(h).alias("key"), v.alias("value"))
                            for h, v in zip(cls._CHUNK_HDRS, links))),
                    ),
                ).otherwise(F.col("headers")),
            })
            .drop("chunked_message_id", "chunk_number", "number_of_chunks")
        )

    @classmethod
    def _dechunk_frame(cls, df: DataFrame) -> DataFrame:
        """Consumer-side reassembly (kafi/dechunker.py:15-75): rows
        carrying the chunk headers go through sources/chunker.py's
        ``reassemble``; unchunked rows pass through untouched. The
        reassembled message takes its metadata (timestamp/partition/
        offset/topic, residual headers, suffix-stripped key) from the
        max-(partition, offset) chunk — a deterministic stand-in for the
        reference's "last chunk to arrive"."""
        mid = cls._hdr(cls._CHUNK_HDRS[0])
        plain = df.filter(mid.isNull())
        # chunk number / count from the 32-byte header: last 8 bytes as a long
        nof, cno = (
            F.conv(F.hex(F.substring(cls._hdr(h), -8, 8)), 16, 10).cast("long")
            for h in cls._CHUNK_HDRS[1:])
        meta = F.struct(
            "key", "topic", "partition", "offset", "timestamp",
            "timestampType", "headers")
        chunks = df.filter(mid.isNotNull()).select(
            mid.alias("chunked_message_id"), cno.alias("chunk_number"),
            nof.alias("number_of_chunks"), "value", meta.alias("__meta"),
            F.struct("partition", "offset").alias("__ord"),
        )
        grouped = reassemble(
            chunks, "value", F.max_by("__meta", "__ord").alias("__meta")
        ).select(
            # null keys stayed null
            strip_key_suffix(F.col("__meta.key")).alias("key"),
            "value",
            *(F.col(f"__meta.{c}").alias(c) for c in (
                "topic", "partition", "offset", "timestamp", "timestampType")),
            F.filter(
                F.col("__meta.headers"),
                # null-safe: isin() is NULL for a null header key
                # and F.filter drops NULL rows — a user header with
                # a null key (the schema allows it) must survive
                # dechunking like it survives an unchunked produce
                lambda h: h["key"].isNull()
                | ~h["key"].isin(*cls._CHUNK_HDRS),
            ).alias("headers"),
        )
        order = [f.name for f in MESSAGE_SCHEMA.fields]
        return plain.select(order).unionByName(grouped)

    def _rewrite_partitions(self, topic: str, kept: DataFrame,
                            partitions: list[int] | None) -> int:
        """Durably swap partition directories to ``kept``'s rows: write
        the survivors to an underscore-hidden temp dir FIRST (the source
        files are still intact, so a failed or lost write recomputes or
        loses nothing), then delete+move per partition, then drop the
        temp dir. ``partitions=None`` swaps every existing
        ``partition=*`` directory (compaction); otherwise only the named
        ones (delete_records).

        The previous pattern — ``localCheckpoint(eager=True)`` then
        delete then append — was NOT crash safe: checkpoint blocks live
        on executors with lineage recovery disabled, so losing an
        executor (or the driver) after the directory delete permanently
        lost every surviving row (round-9 review). Temp dirs are
        underscore-prefixed, so Spark's input listing hides them from
        topic scans; a stale one from a crashed rewrite is clobbered by
        the overwrite mode. Returns the surviving row count
        (parquet-footer metadata read, no data scan)."""
        data_dir = self._data_dir(topic)
        tmp = self._io.join(data_dir, "_rewrite_tmp")
        kept.write.mode("overwrite").partitionBy("partition").parquet(tmp)
        tmp_parts = [
            c.rstrip("/").rsplit("/", 1)[-1]
            for c in self._io.listdir(tmp)
            if c.rstrip("/").rsplit("/", 1)[-1].startswith("partition=")
        ]
        n = 0
        if tmp_parts:
            n = kept.sparkSession.read.schema(MESSAGE_SCHEMA).parquet(
                tmp).count()
        if partitions is None:
            targets = [
                c.rstrip("/").rsplit("/", 1)[-1]
                for c in self._io.listdir(data_dir)
                if c.rstrip("/").rsplit("/", 1)[-1].startswith("partition=")
            ]
        else:
            targets = [f"partition={p}" for p in partitions]
        for name in sorted(set(targets) | set(tmp_parts)):
            if partitions is not None and name not in targets:
                continue  # delete_records: only the named partitions swap
            dst = self._io.join(data_dir, name)
            src = self._io.join(tmp, name)
            self._io.delete(dst)
            if name in tmp_parts:
                self._io.move(src, dst)
        self._io.delete(tmp)
        return n

    # -- consume (kafi/fs/fs_consumer.py:39-144) ----------------------------

    def _read_raw(self, topic: str) -> DataFrame | None:
        d = self._data_dir(topic)
        try:
            df = self.spark.read.schema(MESSAGE_SCHEMA).parquet(d)
            return df.withColumn("topic", F.coalesce("topic", F.lit(topic)))
        except Exception as e:  # noqa: BLE001
            # ONLY "no data yet" reads as an empty topic. A blanket
            # swallow here once masked transient FS errors as emptiness —
            # and delete_records would then advance log_start/next_offset
            # metadata WITHOUT having rewritten any rows (records the API
            # reported truncated kept being served). Anything that is not
            # a missing path propagates.
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return None
            raise

    def consume(
        self,
        topic: str,
        group: str | None = None,
        offsets: dict[int, int] | None = None,
        end_offsets: dict[int, int] | None = None,
        ts_start=None,
        ts_end=None,
        partitions: list[int] | None = None,
        last_n: int | None = None,
        commit: bool = False,
        dechunk: bool = False,
    ) -> DataFrame:
        """Bounded scan with the reference consumer's knobs
        (kafi/storage_consumer.py:16-66: start/end offsets, start/end ts,
        partition filter, group resume, last_n).

        Every bound is a Column predicate, so partition pruning (directory)
        and offset/ts pruning (parquet min/max) happen at the scan.
        Negative start offsets count from the high watermark
        (kafi/storage_consumer.py:199-208). ``commit=True`` advances the
        group to the end of what this call returned, INSIDE this call —
        the same point the reference commits (after materializing the
        poll, before the caller touches a message,
        kafi/storage_consumer.py:156-157): at-most-once with respect to
        caller failures in both implementations. It costs one extra
        aggregation job over the bounded scan; callers needing
        at-least-once should commit() explicitly after processing.

        ``dechunk=True`` reassembles producer-chunked messages
        (kafi/storage_consumer.py:90,113-114 → kafi/dechunker.py) after
        all bounds apply; committed offsets still track the RAW chunk
        rows this scan covered.
        """
        df = self._read_raw(topic)
        if df is None:
            return self.spark.createDataFrame([], MESSAGE_SCHEMA)
        if partitions is not None:
            df = df.filter(F.col("partition").isin(partitions))
        start = dict(offsets or {})
        if group is not None and not start:
            committed = self.group_offsets(group).get(topic, {})
            start = {int(p): o for p, o in committed.items()}
        if start or end_offsets:
            # descriptive guard (round-9 review): a bare wm[p] KeyError
            # named neither the topic nor the valid range, while the
            # sibling mutator delete_records validates the same condition.
            # End offsets alone need only the partition count: an unknown
            # partition would otherwise match nothing in the filter below
            # and silently leave every partition unbounded
            wm = self.watermarks(topic) if start else range(self.partitions(topic))
            for p in [*start, *(end_offsets or {})]:
                if p not in wm:
                    raise ValueError(
                        f"partition {p} out of range for {topic} "
                        f"(has {len(wm)} partitions)")
        if start:
            resolved = {
                p: (o if o >= 0 else max(wm[p][1] + o, wm[p][0])) for p, o in start.items()
            }
            cond = None
            for p, o in resolved.items():
                this = (F.col("partition") == p) & (F.col("offset") >= o)
                cond = this if cond is None else (cond | this)
            other = ~F.col("partition").isin(list(resolved))
            df = df.filter(cond | other)
        if end_offsets:
            cond = None
            for p, o in end_offsets.items():
                this = (F.col("partition") == p) & (F.col("offset") <= o)
                cond = this if cond is None else (cond | this)
            other = ~F.col("partition").isin(list(end_offsets))
            df = df.filter(cond | other)
        if ts_start is not None:
            df = df.filter(F.col("timestamp") >= ts_start)
        if ts_end is not None:
            df = df.filter(F.col("timestamp") < ts_end)
        if last_n is not None:
            w = W.partitionBy("partition").orderBy(F.col("offset").desc())
            df = (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= last_n)
                .drop("__rn")
            )
        if commit and group is not None:
            ends = {
                r["partition"]: r["hi"] + 1
                for r in df.groupBy("partition").agg(F.max("offset").alias("hi")).collect()
            }
            if ends:
                self.commit(group, topic, ends)
        if dechunk:
            df = self._dechunk_frame(df)
        return df

    def offsets_for_times(self, topic: str, ts) -> dict[int, int | None]:
        """Earliest offset at-or-after ``ts`` per partition
        (kafi/fs/fs_admin.py:91-130; Kafka impl
        kafi/kafka/cluster/cluster_admin.py:210-238). Partitions with no
        message at/after ``ts`` map to None. One aggregate over the
        topic's parquet — timestamp min/max footer pruning applies."""
        df = self._read_raw(topic)
        out: dict[int, int | None] = {p: None for p in range(self.partitions(topic))}
        if df is None:
            return out
        rows = (
            df.filter(F.col("timestamp") >= ts)
            .groupBy("partition")
            .agg(F.min("offset").alias("o"))
            .collect()
        )
        out.update({r["partition"]: r["o"] for r in rows})
        return out

    # -- keyed point lookup (beyond-reference: the reference consumer can
    #    only scan; at 100 TB "fetch messages for these keys" needs a
    #    skipping index) ----------------------------------------------------

    def index_topic(
        self, topic: str, cols=("key",), num_bits: int = 1 << 20
    ) -> None:
        """Build a file-level bloom skip index over the topic's data
        (:mod:`kafi_spark.functions.skipindex`). Produce appends new
        files — they stay un-indexed (seek scans them in full) until
        the next ``index_topic`` call, so the index can be refreshed on
        any cadence without ever costing correctness."""
        from kafi_spark.functions.skipindex import build_skip_index

        build_skip_index(self.spark, self._data_dir(topic), list(cols),
                         num_bits)

    def seek(self, topic: str, keys, col: str = "key") -> DataFrame:
        """Messages whose ``col`` equals any of ``keys``, scanning only
        skip-index candidate files plus any files produced since the
        last :meth:`index_topic` — the point-lookup path a full
        ``consume`` + filter can't prune. ``str`` keys are encoded
        utf-8 when probing the binary ``key`` column."""
        from kafi_spark.functions.skipindex import (
            index_path_of, pruned_point_read)

        keys = [k.encode() if isinstance(k, str) and col == "key" else k
                for k in keys]
        if not self._io.exists(
            self._io.join(index_path_of(self._data_dir(topic)), "manifest")
        ):
            # never indexed (or the index was rebuilt away): degrade to a
            # full-scan filter instead of an opaque missing-path error
            df = self._read_raw(topic)
            if df is None:
                return self.spark.createDataFrame([], MESSAGE_SCHEMA)
            return df.filter(F.col(col).isin(list(keys)))
        out = pruned_point_read(
            self.spark, self._data_dir(topic), col, keys)
        return out.withColumn("topic", F.coalesce("topic", F.lit(topic)))

    # -- pipes (kafi/shell.py:38-42 cp; kafi/addons.py:57-65 repeat) --------

    def cp(
        self,
        topic: str,
        target: "FSTopicStorage",
        target_topic: str,
        transform=None,
        keep_partitions: bool = False,
        keep_timestamps: bool = False,
        **consume_kwargs,
    ) -> None:
        """Cross-storage topic copy with optional transform
        (kafi/shell.py:38-42 → kafi/functional.py:71-126 foldl_to). One
        read → transform → write; no driver materialization."""
        df = self.consume(topic, **consume_kwargs)
        if transform is not None:
            df = transform(df)
        if not target.exists(target_topic):
            target.create(target_topic, self.partitions(topic))
        target.produce(
            target_topic,
            df.drop("topic", "offset", "timestampType"),
            keep_partitions=keep_partitions,
            keep_timestamps=keep_timestamps,
        )

    def repeat(self, topic: str, n: int) -> None:
        """Re-produce the last n messages to the same topic
        (kafi/addons.py:57-65)."""
        last = self.consume(topic, last_n=n).drop("topic", "offset", "timestampType")
        self.produce(topic, last, keep_partitions=True, keep_timestamps=True)
