"""Avro Object Container Files (OCF) as a distributed Spark source/sink.

The pip PySpark distribution ships the Avro *codec* jars but not the
``spark-avro`` external module, so ``spark.read.format("avro")`` is
unavailable; rather than gate the format, this module implements the
OCF layer (Avro 1.11 spec "Object Container Files") on top of the
repo's from-scratch binary codec (:mod:`.avro` — already conformance-
tested against the JVM Avro library) and exposes it through PySpark 4's
Python Data Source API:

    spark.dataSource.register(AvroOCFDataSource)
    df.write.format("kafi_avro").option("avro_schema", sch).save(path)
    spark.read.format("kafi_avro").load(path)       # schema inferred

Distribution model, scale notes:
- write: one OCF part file per input partition, written executor-side
  through the Data Source API's per-partition ``write(iterator)``
  (the same shared-filesystem contract every Python data source has);
  ``commit`` stamps ``_SUCCESS`` on the driver, ``abort`` removes the
  files named in the commit messages of completed tasks.
- read: one input partition per part file. spark-avro additionally
  splits a single file at sync-marker boundaries; per-file parallelism
  is the natural grain here because this writer emits one file per
  upstream partition (files are already executor-sized). Reading a
  FOREIGN giant single-file OCF would serialize into one task — the
  documented limitation vs the JVM reader.
- codecs: ``null`` and ``deflate`` (raw RFC-1951, per spec). Snappy is
  gated (library absent in this container).

Reference: the reference engine's Avro support is the Confluent wire
format (kafi/schemaregistry_store.py); container FILES are
beyond-reference format coverage for file interchange (kafi/files.py
routes csv/json/parquet/xlsx/xml only).
"""

from __future__ import annotations

import datetime as _dt
import glob as _glob
import io
import json
import os
import uuid
import zlib
from dataclasses import dataclass
from hashlib import md5
from typing import Iterator

from .avro import _Reader, _dec, _enc, _write_long, avro_to_spark, parse_schema

MAGIC = b"Obj\x01"
_DEFAULT_BLOCK_RECORDS = 1000


def _deflate(data: bytes) -> bytes:
    c = zlib.compressobj(6, zlib.DEFLATED, -15)  # raw DEFLATE per spec
    return c.compress(data) + c.flush()


def _inflate(data: bytes) -> bytes:
    return zlib.decompressobj(-15).decompress(data)


def write_ocf(
    records,
    schema,
    fileobj,
    codec: str = "deflate",
    block_records: int = _DEFAULT_BLOCK_RECORDS,
    sync: bytes | None = None,
) -> int:
    """Stream ``records`` into ``fileobj`` as one Avro OCF; returns the
    record count. ``sync`` defaults to a deterministic marker derived
    from the schema (writes are reproducible byte-for-byte)."""
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"codec {codec!r} (null/deflate supported)")
    sch = schema if isinstance(schema, dict) \
        and "__kafi_normalized__" in schema else parse_schema(schema)
    schema_json = json.dumps(_schema_to_json(sch))
    if sync is None:
        sync = md5(schema_json.encode() + codec.encode()).digest()
    if len(sync) != 16:
        raise ValueError("sync marker must be 16 bytes")

    fileobj.write(MAGIC)
    meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
    _write_long(fileobj, len(meta))
    for k, v in meta.items():
        kb = k.encode()
        _write_long(fileobj, len(kb))
        fileobj.write(kb)
        _write_long(fileobj, len(v))
        fileobj.write(v)
    _write_long(fileobj, 0)  # end of metadata map
    fileobj.write(sync)

    total = 0
    buf, n = io.BytesIO(), 0

    def flush():
        nonlocal buf, n
        if n == 0:
            return
        data = buf.getvalue()
        if codec == "deflate":
            data = _deflate(data)
        _write_long(fileobj, n)
        _write_long(fileobj, len(data))
        fileobj.write(data)
        fileobj.write(sync)
        buf, n = io.BytesIO(), 0

    for rec in records:
        _enc(buf, rec, sch)
        n += 1
        total += 1
        if n >= block_records:
            flush()
    flush()
    return total


def read_ocf_header(data: bytes) -> tuple[dict, str, bytes, int]:
    """Parse an OCF header: (parsed schema, codec, sync marker, offset of
    the first block)."""
    if data[:4] != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    rd = _Reader(data)
    rd.pos = 4
    meta: dict[str, bytes] = {}
    while True:
        cnt = rd.read_long()
        if cnt == 0:
            break
        if cnt < 0:  # negative-count map block carries a byte size
            rd.read_long()
            cnt = -cnt
        for _ in range(cnt):
            k = rd.read(rd.read_long()).decode()
            meta[k] = bytes(rd.read(rd.read_long()))
    codec = meta.get("avro.codec", b"null").decode()
    sch = parse_schema(meta["avro.schema"].decode())
    sync = bytes(rd.read(16))
    return sch, codec, sync, rd.pos


def read_ocf(data: bytes, reader_schema=None) -> Iterator:
    """Iterate decoded records from OCF bytes (all codecs this module
    writes, plus ``null``/``deflate`` from foreign writers)."""
    sch, codec, sync, pos = read_ocf_header(data)
    r = None
    if reader_schema is not None:
        r = reader_schema if isinstance(reader_schema, dict) \
            and "__kafi_normalized__" in reader_schema \
            else parse_schema(reader_schema)
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"codec {codec!r} (null/deflate supported)")
    rd = _Reader(data)
    rd.pos = pos
    while rd.pos < len(data):
        cnt = rd.read_long()
        size = rd.read_long()
        block = bytes(rd.read(size))
        if codec == "deflate":
            block = _inflate(block)
        brd = _Reader(block)
        for _ in range(cnt):
            yield _dec(brd, sch, r)
        if bytes(rd.read(16)) != sync:
            raise ValueError("sync marker mismatch (corrupt container)")


# ---------------------------------------------------------------------------
# Spark type <-> Avro schema
# ---------------------------------------------------------------------------


def _named(s: dict) -> dict:
    """name/namespace JSON attributes from a parsed fullname — round-8
    review: dropping the namespace broke named-type union resolution by
    fullname for any schema read back from an OCF header."""
    if "." in s["name"]:
        ns, name = s["name"].rsplit(".", 1)
        return {"name": name, "namespace": ns}
    return {"name": s["name"]}


def _schema_to_json(s: dict):
    """Parsed-schema dict back to canonical Avro JSON. Field defaults,
    enum defaults, and enum/fixed namespaces are carried (round-8
    review: dropping them made the header schema lose exactly the
    attributes reader-schema RESOLUTION depends on — a heterogeneous
    directory read then failed on 'reader field absent and has no
    default' despite the source schema carrying one)."""
    t = s["type"]
    extra = {k: s[k] for k in ("logicalType", "precision", "scale") if k in s}
    if t == "record":
        return {
            "type": "record", **_named(s),
            "fields": [
                {"name": f["name"], "type": _schema_to_json(f["type"]),
                 **({"default": f["default"]} if "default" in f else {})}
                for f in s["fields"]
            ],
        }
    if t == "union":
        return [_schema_to_json(b) for b in s["branches"]]
    if t == "array":
        return {"type": "array", "items": _schema_to_json(s["items"]), **extra}
    if t == "map":
        return {"type": "map", "values": _schema_to_json(s["values"]), **extra}
    if t == "enum":
        return {"type": "enum", **_named(s), "symbols": s["symbols"],
                **({"default": s["default"]} if "default" in s else {})}
    if t == "fixed":
        return {"type": "fixed", **_named(s), "size": s["size"], **extra}
    return {"type": t, **extra} if extra else t


def spark_to_avro(dtype, name: str = "topLevelRecord") -> dict:
    """Inverse of :func:`.avro.avro_to_spark`: map a Spark DataType to an
    Avro JSON schema (the spark-avro mapping: every field nullable via a
    union with null; timestamps -> timestamp-micros, dates -> date,
    decimals -> bytes+decimal)."""
    from pyspark.sql import types as T

    counter = [0]

    def rec_name():
        counter[0] += 1
        return f"{name}_{counter[0]}"

    def go(dt, nullable: bool, field_name: str):
        if isinstance(dt, T.StructType):
            base = {
                "type": "record",
                "name": field_name if field_name else rec_name(),
                "fields": [
                    {"name": f.name, "type": go(f.dataType, f.nullable, f"{field_name}_{f.name}")}
                    for f in dt.fields
                ],
            }
        elif isinstance(dt, T.ArrayType):
            base = {"type": "array",
                    "items": go(dt.elementType, dt.containsNull, f"{field_name}_item")}
        elif isinstance(dt, T.MapType):
            if not isinstance(dt.keyType, T.StringType):
                raise ValueError("Avro maps require string keys")
            base = {"type": "map",
                    "values": go(dt.valueType, dt.valueContainsNull, f"{field_name}_value")}
        elif isinstance(dt, T.DecimalType):
            base = {"type": "bytes", "logicalType": "decimal",
                    "precision": dt.precision, "scale": dt.scale}
        elif isinstance(dt, T.DateType):
            base = {"type": "int", "logicalType": "date"}
        elif isinstance(dt, T.TimestampType):
            base = {"type": "long", "logicalType": "timestamp-micros"}
        elif isinstance(dt, T.TimestampNTZType):
            base = {"type": "long", "logicalType": "local-timestamp-micros"}
        else:
            prim = {T.BooleanType: "boolean", T.IntegerType: "int",
                    T.ShortType: "int", T.ByteType: "int", T.LongType: "long",
                    T.FloatType: "float", T.DoubleType: "double",
                    T.BinaryType: "bytes", T.StringType: "string"}
            for cls, avro_t in prim.items():
                if isinstance(dt, cls):
                    base = avro_t
                    break
            else:
                raise ValueError(f"no Avro mapping for Spark type {dt}")
        return ["null", base] if nullable else base

    if not isinstance(dtype, T.StructType):
        raise ValueError("top-level schema must be a StructType")
    return {
        "type": "record", "name": name,
        "fields": [{"name": f.name, "type": go(f.dataType, f.nullable, f.name)}
                   for f in dtype.fields],
    }


# ---------------------------------------------------------------------------
# Python Data Source (PySpark 4)
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import (  # noqa: E402
    DataSource, DataSourceReader, DataSourceWriter, InputPartition,
    WriterCommitMessage,
)


def _read_header_of(path: str) -> tuple[dict, str, bytes, int]:
    """Parse one file's OCF header, reading only as much of the file as
    the header needs (headers are normally a few hundred bytes; a schema
    JSON larger than the initial 1 MiB read triggers a doubling re-read
    instead of an opaque truncated-parse error)."""
    size = os.path.getsize(path)
    want = min(size, 1 << 20)
    while True:
        with open(path, "rb") as f:
            head = f.read(want)
        try:
            return read_ocf_header(head)
        except (EOFError, IndexError):
            # truncation errors are the ONLY ones more bytes can cure;
            # bad magic / malformed schema JSON (ValueError/KeyError)
            # must raise immediately — doubling would re-read a possibly
            # multi-GB non-Avro file prefix by prefix before failing
            if want >= size:
                raise
            want = min(size, want * 2)


def _files_of(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(_glob.glob(os.path.join(path, "*.avro")))
    return sorted(_glob.glob(path)) if _glob.has_magic(path) else [path]


@dataclass
class _FilePartition(InputPartition):
    path: str


@dataclass
class _Written(WriterCommitMessage):
    tmp_path: str
    final_path: str
    rows: int


class _OCFReader(DataSourceReader):
    def __init__(self, path: str, schema, avro_schema_json: str):
        self.path = path
        self.spark_schema = schema
        self.avro_schema_json = avro_schema_json

    def partitions(self):
        files = _files_of(self.path)
        if not files:
            raise FileNotFoundError(f"no .avro files under {self.path}")
        return [_FilePartition(f) for f in files]

    def read(self, partition):
        fields = [f.name for f in self.spark_schema.fields]
        reader_sch = parse_schema(self.avro_schema_json)
        with open(partition.path, "rb") as f:
            data = f.read()
        for rec in read_ocf(data, reader_schema=reader_sch):
            yield tuple(rec.get(n) for n in fields)


class _OCFWriter(DataSourceWriter):
    def __init__(self, path: str, avro_schema_json: str, codec: str,
                 block_records: int):
        self.path = path
        self.avro_schema_json = avro_schema_json
        self.codec = codec
        self.block_records = block_records

    def write(self, iterator):
        # Tasks write to a dot-prefixed ``.tmp`` name that the reader's
        # ``*.avro`` glob never matches; only ``commit`` (driver-side,
        # exactly once, with only the messages of *successful* task
        # attempts) renames to the final name. A failed / speculative /
        # retried attempt therefore cannot leave a half-written or
        # duplicate part visible to readers — its orphan ``.tmp`` is
        # inert and removed by the next overwrite.
        from pyspark import TaskContext

        sch = parse_schema(self.avro_schema_json)
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        final = os.path.join(self.path, f"part-{pid:05d}-{uuid.uuid4().hex}.avro")
        tmp = os.path.join(self.path, "." + os.path.basename(final) + ".tmp")

        # Spark's TimestampType.fromInternal hands the writer naive
        # LOCAL-time datetimes, but the codec's convention is
        # naive == UTC — on a non-UTC host every written timestamp was
        # silently shifted by the host offset (round-8 review,
        # reproduced under TZ=America/New_York). astimezone() on a
        # naive value interprets it in the PLATFORM zone — exactly the
        # zone fromInternal rendered it in — so the round trip is an
        # identity on the epoch instant.
        def _utcify(o):
            if isinstance(o, _dt.datetime) and o.tzinfo is None:
                return o.astimezone(_dt.timezone.utc)
            if isinstance(o, dict):
                return {k: _utcify(x) for k, x in o.items()}
            if isinstance(o, list):
                return [_utcify(x) for x in o]
            return o

        with open(tmp, "wb") as f:
            n = write_ocf(
                (_utcify(row.asDict(recursive=True)) for row in iterator),
                sch, f, codec=self.codec, block_records=self.block_records,
            )
        return _Written(tmp_path=tmp, final_path=final, rows=n)

    def commit(self, messages):
        for m in messages:
            if m is not None:
                os.replace(m.tmp_path, m.final_path)
        with open(os.path.join(self.path, "_SUCCESS"), "w"):
            pass

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class AvroOCFDataSource(DataSource):
    """``format("kafi_avro")`` — Avro OCF read/write via the repo codec.

    Options: ``path`` (or ``load(path)``), ``avro_schema`` (writer JSON;
    derived from the DataFrame schema when omitted; on read it becomes
    the READER schema and spec resolution applies), ``codec``
    (null|deflate, default deflate), ``block_records``.
    """

    @classmethod
    def name(cls) -> str:
        return "kafi_avro"

    def _path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("path required (use .load(path)/.save(path))")
        return p

    def schema(self):
        """Result schema. When ``avro_schema`` isn't given it is inferred
        from the FIRST file's header (first-file-wins) and then acts as
        the READER schema for every file: each part is decoded with its
        own header schema under Avro spec resolution, so a divergent
        file either resolves (extra writer fields dropped, missing
        reader fields take their defaults) or fails loudly with a
        "reader field ... absent and has no default" error — never a
        silent null. Pass ``avro_schema`` explicitly to control
        resolution across heterogeneous directories."""
        avro_json = self.options.get("avro_schema")
        if not avro_json:
            files = _files_of(self._path())
            if not files:
                raise FileNotFoundError(f"no .avro files under {self._path()}")
            sch, _, _, _ = _read_header_of(files[0])
            avro_json = json.dumps(_schema_to_json(sch))
            self.options["avro_schema"] = avro_json
        return avro_to_spark(avro_json)

    def reader(self, schema):
        avro_json = self.options.get("avro_schema")
        if not avro_json:
            self.schema()  # populates the option from the first header
            avro_json = self.options["avro_schema"]
        return _OCFReader(self._path(), schema, avro_json)

    def writer(self, schema, overwrite: bool):
        path = self._path()
        if overwrite and os.path.isdir(path):
            orphan_tmps = _glob.glob(os.path.join(path, ".*.avro.tmp"))
            for f in _files_of(path) + orphan_tmps + [os.path.join(path, "_SUCCESS")]:
                if os.path.exists(f):
                    os.remove(f)
        os.makedirs(path, exist_ok=True)
        avro_json = self.options.get("avro_schema") or json.dumps(
            spark_to_avro(schema)
        )
        return _OCFWriter(
            path, avro_json,
            codec=self.options.get("codec", "deflate"),
            block_records=int(self.options.get("block_records",
                                               _DEFAULT_BLOCK_RECORDS)),
        )


def register(spark) -> None:
    """Idempotently register ``kafi_avro`` with this session.

    Always re-registers: PySpark's ``dataSource.register`` replaces an
    existing registration of the same name, so repeat calls are cheap
    and safe. (An earlier version deduped on ``id(spark)``, which can
    be *reused* by a new session after the old one is garbage-collected
    — silently skipping registration for the new session.)
    """
    spark.dataSource.register(AvroOCFDataSource)
