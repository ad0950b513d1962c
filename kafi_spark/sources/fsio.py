"""Metadata/group-state IO routed by path scheme.

The reference ships one admin implementation per backend — local FS
(kafi/fs/local/local_admin.py:13-73), S3 (kafi/fs/s3/s3_admin.py:19-87),
Azure Blob (kafi/fs/azureblob/azureblob_admin.py:19-96) — each re-doing
list/read/write/delete against its SDK. Spark already carries a unified
VFS: the Hadoop FileSystem API, which resolves ``file://``, ``s3a://``,
``abfss://``, ``hdfs://``… from the same call sites the parquet reader
uses. So the whole multi-backend matrix collapses to: plain local paths →
``os`` (no JVM round-trip), any URI → Hadoop ``FileSystem`` via the
session's JVM gateway.

Only the *metadata plane* flows through here (topic metadata.json, group
state, listings, parquet footers — a few KB per call); bulk data always
goes through Spark's own parquet reader/writer, which handles every
scheme natively.
"""

from __future__ import annotations

import os
import posixpath
import shutil


class LocalIO:
    """Plain-path backend: direct ``os`` calls, zero JVM overhead."""

    def join(self, *parts: str) -> str:
        return os.path.join(*parts)

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    def write_bytes(self, path: str, data: bytes) -> None:
        # temp + atomic rename (review r7): fs_topic routes topic
        # metadata, offset watermarks, and group commits through here;
        # a plain truncate-then-write torn by a crash left an
        # empty/partial metadata.json — the topic could neither be read
        # (JSONDecodeError) nor re-created ("exists")
        tmp = f"{path}.__tmp_{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)

    def delete(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)

    def move(self, src: str, dst: str) -> None:
        """Move a file or directory into place (dst absent): one
        rename(2) on the same filesystem — the directory-swap primitive
        fs_topic's durable partition rewrites use."""
        os.replace(src, dst)

    def listdir(self, path: str) -> list[str]:
        return os.listdir(path)


class HadoopIO:
    """URI backend over ``org.apache.hadoop.fs.FileSystem``.

    One FileSystem handle per storage root (Hadoop caches them by scheme +
    authority anyway). Works for any scheme the session's Hadoop conf can
    resolve — the S3/Azure support the reference implements by hand
    (kafi/fs/s3/s3_admin.py, kafi/fs/azureblob/azureblob_admin.py) is the
    s3a/abfss connector configuration here, not code.
    """

    def __init__(self, spark, root: str):
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        conf = spark._jsc.hadoopConfiguration()
        uri = self._jvm.java.net.URI.create(root)
        self._fs = self._jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
        # FileContext gives the ATOMIC overwrite rename (Options.Rename.
        # OVERWRITE) that FileSystem.rename lacks; some object-store
        # connectors don't implement AbstractFileSystem — fall back to
        # the non-atomic delete+rename there (flagged in write_bytes)
        try:
            self._fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                uri, conf
            )
        except Exception:  # noqa: BLE001 — connector-dependent
            self._fc = None

    def _p(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def join(self, *parts: str) -> str:
        return posixpath.join(*parts)

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._p(path))

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._p(path))

    def read_bytes(self, path: str) -> bytes:
        stream = self._fs.open(self._p(path))
        try:
            bos = self._jvm.java.io.ByteArrayOutputStream()
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, bos, 65536, False)
            return bytes(bos.toByteArray())
        finally:
            stream.close()

    def write_bytes(self, path: str, data: bytes) -> None:
        # temp write + ATOMIC overwrite rename (FileContext.rename with
        # Options.Rename.OVERWRITE — atomic on HDFS, metadata-op on
        # object stores). The earlier FileSystem.delete-then-rename had
        # a crash window with the target ABSENT, and a failed rename
        # destroyed the old content before stranding the new at the tmp
        # path — worse than torn for the metadata.json/offset watermarks
        # this guards (round-8 ADVICE fix).
        tmp = f"{path}.__tmp_{os.getpid()}"
        out = self._fs.create(self._p(tmp), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        if self._fc is not None:
            Rename = self._jvm.org.apache.hadoop.fs.Options.Rename
            opts = self._gw.new_array(Rename, 1)
            opts[0] = Rename.OVERWRITE
            # raises on failure; the target keeps its OLD content and the
            # new bytes stay at tmp — never a window with neither
            self._fc.rename(self._p(tmp), self._p(path), opts)
            return
        # fallback (no AbstractFileSystem for this scheme): NON-atomic —
        # the target is absent between delete and rename; on rename
        # failure say exactly where the new content is stranded
        self._fs.delete(self._p(path), False)
        if not self._fs.rename(self._p(tmp), self._p(path)):
            raise IOError(
                f"rename failed for {path}: old content deleted, new "
                f"content stranded at {tmp} — restore it manually"
            )

    def delete(self, path: str) -> None:
        self._fs.delete(self._p(path), True)

    def move(self, src: str, dst: str) -> None:
        """Move a file or directory into place (dst absent):
        FileSystem.rename — atomic on HDFS, metadata-op on stores."""
        if not self._fs.rename(self._p(src), self._p(dst)):
            raise IOError(f"rename failed: {src} -> {dst}")

    def listdir(self, path: str) -> list[str]:
        return [s.getPath().getName() for s in self._fs.listStatus(self._p(path))]


def io_for(spark, root: str):
    """Pick the IO backend by path shape: ``scheme://`` → Hadoop, else os."""
    return HadoopIO(spark, root) if "://" in root else LocalIO()


def spark_visible(name: str) -> bool:
    """Spark's rule for which listed names a file scan reads
    (``HadoopFSUtils.shouldFilterOutPathName``): ``_``-prefixed names
    without ``=`` and ``.``-prefixed names are hidden, and so are
    in-flight ``._COPYING_`` uploads. ``_SUCCESS``, ``_rewrite_tmp``,
    ``_kafi_skip_index`` and ``.crc`` checksums never reach a scan."""
    return not ((name.startswith("_") and "=" not in name)
                or name.startswith(".") or name.endswith("._COPYING_"))


def footer_range(path: str, col: str) -> tuple[object, object, int]:
    """(min, max, rows) of ``col`` over one local parquet file, from its
    footer alone (pyarrow metadata parse, no row data). A row group
    whose ``col`` is all null adds nothing, as in a min/max aggregate.
    min and max are None when the file holds no value of ``col``, or
    when a row group holding values has no statistics for it (the range
    is then unknown)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    lo = hi = None
    for i in range(md.num_row_groups):
        g = md.row_group(i)
        if g.num_rows == 0:
            continue
        st = next((g.column(c).statistics for c in range(g.num_columns)
                   if g.column(c).path_in_schema == col), None)
        if st is not None and st.has_min_max:
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        elif not (st is not None and st.null_count == g.num_rows):
            return None, None, md.num_rows
    return lo, hi, md.num_rows
