"""Multi-dimensional data layout (Z-order clustering) for scan pruning.

At 100 TB the fastest query is the one whose files are never opened:
parquet readers prune whole files/row-groups from footer min-max stats,
but a layout sorted on ONE column gives tight ranges only for that
column — a predicate on any other column overlaps every file. Z-order
(Morton-curve) clustering interleaves the bits of several columns'
rank-bucket indices so that files are simultaneously range-tight in ALL
clustered dimensions: a point predicate on any one of k clustered
columns prunes ~(1 - B^(-1/k)) of the data instead of nothing.

This is the OSS-Delta/Iceberg `OPTIMIZE ZORDER BY` technique rebuilt on
public primitives:

1. per column, B-1 quantile cut points from `approxQuantile` (a
   Greenwald-Khanna sketch — one pass, driver gets only the tiny cut
   array; strings rank via a stable 64-bit prefix so no text is
   compared driver-side),
2. bucket index = number of cut points below the value — a broadcast
   literal array + `F.size(F.filter(...))`, pure JVM expression,
3. Morton interleave of the bucket indices' bits — a loop-generated
   `shiftleft`/`bitwise OR` Column expression (whole-stage codegen,
   no UDF),
4. `repartitionByRange` on the z-value + `sortWithinPartitions` so
   every output file covers a compact Morton range.

Reference scope note: the reference engine has no storage-layout
optimizer; this is part of the beyond-reference LLM-pipeline layer
(SURVEY.md §2 extension). `sources/bucketed.py` solves the join-shuffle
problem; this module solves the scan-pruning problem — and
`zorder_write_bucketed` composes the two (bucket by join key, z-range
file splits within, so one table both joins shuffle-free and prunes).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import NumericType, StringType


def _rankable(df: DataFrame, col: str) -> tuple[str, object]:
    """Return (kind, Column) where Column is a double rank proxy."""
    field = df.schema[col]
    if isinstance(field.dataType, NumericType):
        return "num", F.col(col).cast("double")
    if isinstance(field.dataType, StringType):
        # stable 64-bit big-endian prefix: preserves lexicographic order
        # for the first 8 bytes, which is what quantile bucketing needs
        return "str", _str_rank(F.col(col))
    tn = field.dataType.typeName()
    # only TimestampType casts to double directly; DATE needs epoch-days
    # and TIMESTAMP_NTZ a timestamp hop first (both rejected by a bare
    # double cast on Spark 4)
    if tn == "timestamp":
        return "num", F.col(col).cast("double")
    if tn == "date":
        return "num", F.unix_date(F.col(col)).cast("double")
    if tn == "timestamp_ntz":
        return "num", F.col(col).cast("timestamp").cast("double")
    raise ValueError(
        f"zorder column {col!r} has unsupported type {field.dataType}"
    )


def _str_rank(c) -> object:
    """Order-preserving double from a string's first 8 UTF-8 BYTES.

    The prefix is taken from the hex of the encoded bytes (16 nibbles,
    zero-padded low) — not from the first 8 *characters*, whose UTF-8
    encoding can exceed 8 bytes and overflow conv's 64-bit range,
    corrupting the order for non-ASCII keys. Byte-wise order equals
    UTF-8 lexicographic order, and a uint64 in a double keeps ~53 bits
    of it — plenty for BUCKET boundaries, which only need coarse
    order."""
    hx = F.rpad(F.substring(F.hex(F.encode(c, "UTF-8")), 1, 16), 16, "0")
    return F.conv(hx, 16, 10).cast("double")


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
) -> DataFrame:
    """Append a Morton z-value column ``__z`` interleaving ``cols``.

    ``bits`` is the per-column bucket resolution (2^bits quantile
    buckets); total z-width is ``len(cols) * bits`` and must fit a
    signed long (≤ 62). Nulls sort first (bucket 0). The cut points are
    computed with ``approxQuantile(relativeError=1/2^bits)`` — one scan,
    sketch-merged, driver receives ≤ 2^bits doubles per column.
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if len(cols) * bits > 62:
        raise ValueError(
            f"{len(cols)} cols x {bits} bits = {len(cols) * bits} z-bits "
            "exceeds a signed long (max 62); lower bits"
        )
    n_buckets = 1 << bits
    ranked = df
    rank_cols = []
    for i, c in enumerate(cols):
        _, rc = _rankable(df, c)
        rank_cols.append(f"__r{i}")
        ranked = ranked.withColumn(f"__r{i}", rc)
    # B-1 interior cut points; relativeError matched to bucket width.
    # ONE approxQuantile call for every rank column — the list form
    # computes all sketches in a single input pass (per-column calls
    # would scan the input len(cols) times)
    qs = [j / n_buckets for j in range(1, n_buckets)]
    all_cuts = ranked.approxQuantile(rank_cols, qs, 1.0 / n_buckets)
    cuts = dict(enumerate(all_cuts))
    z = F.lit(0).cast("long")
    for i in range(len(cols)):
        # bucket index: count of cut points strictly below the value
        cut_arr = F.lit(cuts[i]).cast("array<double>")
        idx = F.when(
            F.col(f"__r{i}").isNull(), F.lit(0)
        ).otherwise(
            F.size(F.filter(cut_arr, lambda p: p < F.col(f"__r{i}")))
        ).cast("long")
        # Morton interleave: bit b of column i lands at position
        # b * n_cols + i
        for b in range(bits):
            bit = F.shiftright(idx, b).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(
                F.shiftleft(bit, b * len(cols) + i)
            )
    return ranked.withColumn("__z", z).drop(*rank_cols)


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 8,
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet clustered on the Z-order of ``cols``.

    ``repartitionByRange("__z")`` makes every output file own a compact
    Morton range (range exchange samples the z-values at runtime, so
    file sizes balance even under z-skew), ``sortWithinPartitions``
    tightens row-group stats inside each file. The ``__z`` key itself is
    dropped before writing — the layout IS the artifact.
    """
    keyed = zorder_key(df, cols, bits)
    (
        keyed.repartitionByRange(num_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def zorder_write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    zorder_cols: Sequence[str],
    bits: int = 8,
    num_z_ranges: int = 8,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a table that joins SHUFFLE-FREE on ``bucket_cols`` AND
    prunes scans on ``zorder_cols`` — the composition of
    ``sources/bucketed.py`` (join co-location) and :func:`zorder_write`
    (multi-dimensional scan pruning) in one layout.

    Mechanics: the frame is z-keyed, ``repartitionByRange`` splits it
    into ``num_z_ranges`` tasks each owning a compact Morton range, and
    the bucketed writer then hashes each task's rows into catalog
    buckets — so every output file is (z-range × bucket): its footer
    min/max on the z-ordered columns spans only its task's Morton slice
    (file-level pruning on ANY clustered dimension), while the catalog
    bucket metadata lets joins on ``bucket_cols`` plan with zero
    Exchange exactly as :func:`sources.bucketed.write_bucketed` does.
    ``sortBy`` on the persisted ``__z`` column additionally tightens
    ROW-GROUP stats inside large files. Total files ≈ num_z_ranges ×
    n_buckets — size num_z_ranges so files land near the rolled-up
    target (e.g. ~1 GiB) at your scale.

    The ``__z`` key is PERSISTED (8 bytes/row): the bucketed writer's
    ``sortBy`` must name a real table column, and keeping it lets
    readers range-filter on the Morton key directly. With multiple
    files per bucket Spark re-sorts for a SortMergeJoin but never
    re-shuffles — the Exchange elimination is the 100 TB win; the sort
    is local.
    """
    keyed = zorder_key(df, zorder_cols, bits)
    w = (
        keyed.repartitionByRange(num_z_ranges, F.col("__z"))
        .write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy("__z")
    )
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def pruning_stats(path: str, col: str) -> list[tuple]:
    """Per-file (min, max, rows) of ``col`` from parquet footers.

    Reads ONLY metadata (:func:`kafi_spark.sources.fsio.footer_range`,
    the footer parse FS-topic watermarks use), the same stats a Spark
    scan's file/row-group pruning consults. A file whose range is
    unknown (a row group holding values without statistics) reads as
    (None, None, rows), which :func:`pruned_fraction` never skips.
    Python-side by design: one tuple per file, used by tests and layout
    audits to measure what fraction of files a point/range predicate
    can skip.
    """
    import glob as _glob

    from kafi_spark.sources.fsio import footer_range

    return [footer_range(f, col)
            for f in sorted(_glob.glob(f"{path}/part-*.parquet"))]


def pruned_fraction(stats: list[tuple], value) -> float:
    """Fraction of files a point predicate ``col = value`` can skip."""
    if not stats:
        return 0.0
    skip = sum(
        1
        for lo, hi, _ in stats
        if lo is not None and hi is not None and not (lo <= value <= hi)
    )
    return skip / len(stats)
