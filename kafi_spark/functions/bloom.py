"""Bloom-filter membership for INCREMENTAL dedup at ingest time.

Batch dedup (:mod:`dedup`, :mod:`spans`) assumes the whole corpus is
re-scannable; a 100 TB pipeline ingesting daily cannot re-shuffle
history against every new batch. The standard fix is a Bloom filter
over historical fingerprints: build once (tiny, bit-packed), test each
incoming row with k hash probes — no false negatives, tunable false
positives (a "probably seen" row was CERTAINLY seen if the bits came
only from exact fingerprints… up to the configured FP rate).

Representation: a DataFrame ``(word_idx long, bits long)`` — the bit
array split into 64-bit words, ONLY non-zero words materialized. This
is joinable state (checkpoint it to parquet between batches, union+
``bit_or`` to merge daily filters) rather than driver-side memory, so
the filter can be arbitrarily large; when it fits (num_bits ≤ ~10⁹ →
≤ 125 MB) the probe join auto-broadcasts under AQE.

Hashing is the md5-prefix portable scheme shared with the
``*_portable`` sketch twins: ``conv(substr(md5(seed ':' value),1,15),
16,10) mod num_bits`` — bit-for-bit reproducible by the DuckDB oracle
(``('0x'||substr(md5(...),1,15))::BIGINT``), so membership results are
fully differential-testable: a Bloom "hit" is equivalent to "every
probe position collides with some historical position", which the
oracle states as a position-set anti-join, no bit array needed.

Sizing: FP rate ≈ (1 - e^(-k·n/m))^k; the helper :func:`bloom_params`
gives (m, k) for a target rate.

Reference scope: beyond-reference LLM-pipeline layer (the reference
engine has no dedup operators).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from .portable import md5_long
from .state import load_deltas, save_delta


def bloom_params(n_items: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """Optimal (num_bits, num_hashes) for ``n_items`` at ``fp_rate``:
    m = -n·ln(p)/ln(2)², k = (m/n)·ln(2), both rounded up/to ≥1."""
    if n_items < 1:
        raise ValueError(f"n_items must be >= 1, got {n_items}")
    if not (0.0 < fp_rate < 1.0):
        raise ValueError(f"fp_rate must be in (0, 1), got {fp_rate}")
    m = math.ceil(-n_items * math.log(fp_rate) / (math.log(2) ** 2))
    k = max(1, round(m / n_items * math.log(2)))
    return m, k


def _positions(value: Column, num_bits: int, num_hashes: int, seed: int) -> Column:
    """Array of k probe positions for one value (portable md5 scheme)."""
    return F.array(
        *[
            F.pmod(
                md5_long(F.concat_ws(":", F.lit(str(seed + i)), value)),
                F.lit(num_bits),
            )
            for i in range(num_hashes)
        ]
    )


def bloom_build(
    df: DataFrame,
    col: str,
    num_bits: int,
    num_hashes: int,
    seed: int = 0,
) -> DataFrame:
    """Aggregate a column into Bloom state ``(word_idx, bits)``.

    One explode (k rows per input) and one ``bit_or`` hash-aggregate —
    the shuffle carries at most ``min(k·n, num_bits/64)`` (word, bits)
    pairs after map-side combine, i.e. it is bounded by the FILTER size,
    not the corpus size. Merging two filters (same m, k, seed) is
    ``union → groupBy(word_idx) → bit_or``.
    """
    if num_bits < 64:
        raise ValueError(f"num_bits must be >= 64, got {num_bits}")
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    pos = df.select(
        F.explode(_positions(F.col(col), num_bits, num_hashes, seed)).alias("__pos")
    )
    return (
        pos.select(
            # integer div, LONG index: the old (/64).cast("int") clamped
            # for num_bits > 2^37, folding all high bit positions into
            # one saturated word (probes there always hit -> bloom_new
            # silently dropped genuinely-new rows); review r7
            F.expr("CAST(__pos DIV 64 AS LONG)").alias("word_idx"),
            # column-valued shift distances need expr(): the classic
            # F.shiftleft only takes a literal int
            F.expr("shiftleft(1L, CAST(__pos % 64 AS INT))").alias("__bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__bit").alias("bits"))
    )


def bloom_contains(
    df: DataFrame,
    bloom: DataFrame,
    col: str,
    num_bits: int,
    num_hashes: int,
    seed: int = 0,
    out_col: str = "probably_seen",
    compact_max_words: int = 65536,
) -> DataFrame:
    """Probe each row's k positions against Bloom state; append a
    boolean ``out_col`` (true ⇔ ALL k bits set ⇔ probably seen;
    false ⇔ definitely new).

    Two plans, picked by filter size (``compact_max_words``, default
    64 Ki words = filters ≤ 4 Mbit / 512 KB):

    * COMPACT (small filter, batch inputs): materialize the bit array
      as one dense binary literal (one bounded collect — at most
      ``num_bits/64`` rows, the same bounded-metadata class as the
      repo's vocab/centroid collects) and test each row's k probe
      positions with ``forall`` + ``bit_get`` over its bytes —
      fully narrow, ZERO exchanges, no surrogate ids. This is what any
      engine should do with an 8 KB filter: ship it in the plan, not
      through a shuffle (r12 diet: the generic path's per-row-id
      re-aggregation was a corpus-sized shuffle for a 1024-word
      filter).
    * GENERIC (large filter, or streaming input): attach a surrogate
      row id (``monotonically_increasing_id`` in ONE linear plan — the
      explode fans out the already-computed id, so there is no
      dual-branch id-reassignment hazard), posexplode the k probes,
      LEFT join the state on the word index (the state frame's columns
      are renamed first, so input columns named ``word_idx`` /
      ``bits`` cannot corrupt the probe join; no broadcast hint — AQE
      broadcasts automatically while the filter fits an executor and
      degrades to a partitioned join with fan-out exactly k beyond
      that; a forced hint would OOM on a huge filter instead of
      degrading), then ``min(bit set)`` per row id. Duplicate input
      rows each keep their own verdict row; the probe fan-out is a
      fixed k×, never corpus². Pass ``compact_max_words=0`` to force
      this path.
    """
    if num_hashes < 1:
        raise ValueError(f"num_hashes must be >= 1, got {num_hashes}")
    n_words = (num_bits + 63) // 64
    for reserved in ("__row_id", "__i", "__pos", "__word_idx", "__bit",
                     "__hit", out_col):
        if reserved in df.columns:
            raise ValueError(
                f"input column {reserved!r} collides with bloom_contains "
                f"internals — rename it (or pass a different out_col)"
            )
    if (
        compact_max_words
        and n_words <= compact_max_words
        and not df.isStreaming
        and not bloom.isStreaming
    ):
        # bounded collect: the state frame holds only non-zero words,
        # capped at n_words <= compact_max_words rows. The words pack
        # little-endian into ONE binary literal, so filter bit p is bit
        # p % 8 of byte p div 8 (a Python list literal costs one py4j
        # call per element: ~30 s to build at 64 Ki words)
        packed = bytearray(n_words * 8)
        for r in bloom.select("word_idx", "bits").collect():
            i = r["word_idx"] * 8
            packed[i:i + 8] = r["bits"].to_bytes(8, "little", signed=True)
        bits = F.lit(bytes(packed))
        pos = _positions(F.col(col), num_bits, num_hashes, seed)
        # the probe is < num_bits by construction, so the byte is always
        # in range; conv(hex(..)) is the byte's unsigned value (binary
        # does not cast to a number)
        byte = lambda p: F.conv(F.hex(F.substring(  # noqa: E731
            bits, F.floor(p / 8).cast("int") + 1, F.lit(1))), 16, 10)
        hit_all = F.forall(
            pos, lambda p: F.bit_get(byte(p).cast("int"), p % 8) == 1)
        return df.select(*df.columns, hit_all.alias(out_col))
    state = bloom.select(
        F.col("word_idx").alias("__bloom_word_idx"),
        F.col("bits").alias("__bloom_bits"),
    )
    keyed = df.withColumn("__row_id", F.monotonically_increasing_id())
    probes = keyed.select(
        *df.columns,
        "__row_id",
        F.posexplode(_positions(F.col(col), num_bits, num_hashes, seed)).alias(
            "__i", "__pos"
        ),
    ).select(
        *df.columns,
        "__row_id",
        F.expr("CAST(__pos DIV 64 AS LONG)").alias("__word_idx"),
        (F.col("__pos") % 64).cast("int").alias("__bit"),
    )
    joined = probes.join(
        state, probes["__word_idx"] == state["__bloom_word_idx"], "left"
    )
    hit = F.coalesce(
        F.expr("shiftright(__bloom_bits, __bit) & 1"), F.lit(0).cast("long")
    ).alias("__hit")
    per_probe = joined.select(*df.columns, "__row_id", hit)
    # verdict aggregates on __row_id ALONE with the payload riding as
    # first() (grouping on payload columns made any MapType column —
    # non-orderable — an AnalysisException); __row_id keeps duplicate
    # payload rows distinct
    return per_probe.groupBy("__row_id").agg(
        *[F.first(c).alias(c) for c in df.columns],
        (F.min("__hit") == 1).alias(out_col),
    ).drop("__row_id").select(*df.columns, out_col)


def bloom_new(
    df: DataFrame,
    bloom: DataFrame,
    col: str,
    num_bits: int,
    num_hashes: int,
    seed: int = 0,
) -> DataFrame:
    """Rows of ``df`` that are DEFINITELY not in the filter (the
    guaranteed-correct direction: Bloom filters have no false
    negatives, so nothing historical survives; a small FP-rate slice of
    genuinely-new rows is dropped — the standard ingest-dedup trade)."""
    return (
        bloom_contains(df, bloom, col, num_bits, num_hashes, seed)
        .filter(~F.col("probably_seen"))
        .drop("probably_seen")
    )


def bloom_save_delta(bloom: DataFrame, state_dir: str, version: int | str) -> None:
    """Persist one filter (a batch's delta) under
    ``state_dir/v=<version>``. Versioned deltas make saves IDEMPOTENT
    per version — a retried streaming epoch overwrites its own
    directory instead of double-merging — and loading stays a pure
    union+``bit_or`` (the filter algebra is an idempotent commutative
    monoid, so replay order never matters). Shared discipline:
    :mod:`kafi_spark.functions.state`."""
    save_delta(bloom, state_dir, version)


def bloom_load_state(spark, state_dir: str, exclude_version=None) -> DataFrame:
    """Merge every persisted delta into the current filter
    ``(word_idx, bits)``; an absent/empty state dir yields the empty
    filter (nothing seen). Delta count grows with epochs — fold
    occasionally via :func:`bloom_compact` if a stream runs for many
    thousands of batches.

    ``exclude_version`` drops one delta from the merge (the ``v=``
    partition directory name): a replaying streaming epoch passes its
    OWN version so the state it sees is exactly the pre-epoch state and
    the replayed emission is byte-identical to the first attempt."""
    # explicit read schema: state dirs persisted before the round-7
    # word_idx int→long widening hold int32 files next to int64 ones;
    # footer-sampled inference would mis-type or fail on the mix, the
    # pinned schema upcasts the old files instead (round-8 ADVICE fix)
    df = load_deltas(spark, state_dir, exclude_version,
                     empty_schema="word_idx long, bits long",
                     schema="word_idx long, bits long, v string")
    return df.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def bloom_compact(spark, state_dir: str, version: int | str) -> None:
    """Fold all persisted deltas into a single delta at ``version``
    (choose a version ≥ every existing one, e.g. the latest epoch id).
    Readers merging the compacted delta with any stale leftovers still
    get the correct filter — ``bit_or`` is idempotent — so compaction
    needs no coordination with concurrent loads; stale ``v=`` dirs can
    be deleted afterwards at leisure."""
    merged = bloom_load_state(spark, state_dir).localCheckpoint()
    bloom_save_delta(merged, state_dir, version)
