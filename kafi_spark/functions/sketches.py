"""Mergeable sketches — incremental distinct counts, set algebra, and
quantiles at scale.

``approx_count_distinct`` answers "how many distinct X" for ONE query
over ONE scan. At 100 TB the question recurs over shifting slices
("distinct users per day / per week / this quarter"), and rescanning a
quarter of raw events for every roll-up is the scale killer. The
standard fix is to persist MERGEABLE sketches at the finest grain
(day × dimension) and answer every coarser slice by unioning sketches —
bytes-sized reads instead of re-scans, and the union is exactly
associative (an HLL union is lossless over HLLs of the same precision;
the error bound of the merged sketch equals that of a sketch built
directly over the union of the inputs).

Four sketch families — HLL/theta/KLL on Spark's public Apache
DataSketches bindings (JVM-side aggregates with map-side partial
combine — no UDFs, no driver state), each a plain ``binary`` column
that survives parquet round-trips, plus a count-min counter TABLE
(plain rows, because Spark's ``count_min_sketch`` binary has no SQL
merge/query):

- **HLL** (`distinct_sketch` & co): distinct counts, union-only. The
  smallest state per group; use when only "how many distinct" roll-ups
  are needed.
- **Theta** (`theta_sketch` & co): distinct counts WITH set algebra —
  intersection and difference, which HLL fundamentally cannot express.
  Pays ~8 bytes/entry up to ``2^lgk`` entries, but answers "users
  active on day d AND day d+1" (retention), "in segment A but not B"
  (churn/exclusive reach) from per-grain sketches alone. Below
  ``2^lgk`` distinct keys a theta sketch is in EXACT mode: estimates
  are exact integers, and intersections/differences of exact sketches
  are exact — the basis of :func:`sketch_retention`'s oracle test.
- **KLL** (`quantile_sketch` & co): mergeable quantiles with a proven
  rank-error bound (~1.65% at k=200). Unlike HLL/theta union, KLL
  merge is ADDITIVE (a counting monoid, not an idempotent one):
  merging the same sketch twice double-counts. The persisted-state
  helpers below encode that difference — HLL/theta state tolerates
  re-merged leftovers, KLL state gets a watermark-manifest compaction
  (:func:`kll_compact`) that never relies on idempotence.
- **Count-min** (`cms_sketch` & co): mergeable per-key FREQUENCIES —
  "how often did key X appear", heavy hitters with a no-miss
  guarantee (est ≥ true always). Additive like KLL, so its persisted
  state reuses the same watermark discipline (:func:`cms_totals` /
  :func:`cms_compact`).

Reference scope note: the reference engine has no sketch layer; this is
part of the beyond-reference LLM-pipeline / analytics extension
(SURVEY.md §2 extension).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from kafi_spark.functions.state import (
    compact_fold, load_deltas, save_delta, watermark_paths)

# Spark's hll_sketch_agg supports lgConfigK in [4, 21]; 12 ≈ 1.6% RSE
# at 16 KiB max sketch size — the DataSketches default.
_DEFAULT_LGK = 12


def _agg(df: DataFrame, group_cols, agg):
    """groupBy-or-global aggregate tail shared by every sketch builder
    and merger (was copy-pasted seven times — round-9 review)."""
    if group_cols:
        return df.groupBy(*group_cols).agg(agg)
    return df.agg(agg)


def distinct_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    lgk: int = _DEFAULT_LGK,
    sketch_col: str = "sketch",
) -> DataFrame:
    """One HLL sketch of distinct ``key_col`` per ``group_cols`` group.

    The finest-grain build step: run once per ingest batch/day and
    persist the result (sketch is a ``binary`` column). One hash
    aggregation — partial sketches combine map-side, so the shuffle
    carries one ≤ 2^lgk-byte sketch per (partition, group), never keys.
    """
    if not 4 <= lgk <= 21:
        raise ValueError(f"lgk must be in [4, 21], got {lgk}")
    agg = F.hll_sketch_agg(F.col(key_col), lgk).alias(sketch_col)
    return _agg(df, group_cols, agg)


def merge_sketches(
    df: DataFrame,
    group_cols: Sequence[str] = (),
    sketch_col: str = "sketch",
    allow_different_lgk: bool = False,
) -> DataFrame:
    """Union persisted sketches up to a coarser grain.

    ``group_cols`` is the (possibly empty) subset of grouping columns to
    keep; everything else is merged away. Union is associative and
    idempotent, so daily → monthly → yearly roll-ups can themselves be
    persisted and re-merged. ``allow_different_lgk=True`` lets sketches
    of mixed precision merge (result degrades to the coarsest input).
    """
    agg = F.hll_union_agg(
        F.col(sketch_col), allow_different_lgk
    ).alias(sketch_col)
    return _agg(df, group_cols, agg)


def estimate(sketch_col: str = "sketch", name: str = "distinct_est"):
    """Column expression: estimated cardinality of an HLL sketch."""
    return F.hll_sketch_estimate(F.col(sketch_col)).alias(name)


def distinct_over_time(
    df: DataFrame,
    key_col: str,
    time_col: str,
    grain: str = "day",
    dims: Sequence[str] = (),
    lgk: int = _DEFAULT_LGK,
) -> DataFrame:
    """Convenience composition: per-``grain`` (+dims) distinct sketches.

    Returns ``(bucket, *dims, sketch, distinct_est)`` where ``bucket``
    is ``date_trunc(grain, time_col)``. Persist this frame; answer any
    date-range/dim slice later with :func:`merge_sketches` +
    :func:`estimate` over the selected rows.
    """
    bucketed = df.withColumn(
        "bucket", F.date_trunc(grain, F.col(time_col))
    )
    out = distinct_sketch(bucketed, key_col, ["bucket", *dims], lgk)
    return out.select("bucket", *dims, "sketch", estimate())


def sketch_save_delta(
    sketches: DataFrame, state_dir: str, version: int | str
) -> None:
    """Persist one batch's grouped sketches under ``state_dir/v=<version>``.

    Versioned deltas make saves idempotent per version (a retried
    streaming epoch overwrites its own directory), and because HLL
    union is register-wise max — an idempotent commutative monoid, the
    same algebra as :func:`bloom.bloom_save_delta`'s bit_or — merging a
    delta twice or in any order never changes the merged state."""
    save_delta(sketches, state_dir, version)


def _merge_for(kind: str, lgk: int | None = None):
    """(merge_fn, estimate_fn) for an idempotent-union sketch kind.

    ``lgk`` matters for theta only: the union operator has its OWN
    nominal-entries cap, and merging lgk=20 sketches through a default
    lgk=14 union silently downsamples state persisted at higher
    precision (and loses exact mode). HLL union preserves the inputs'
    precision by itself."""
    if kind == "hll":
        return merge_sketches, F.hll_sketch_estimate
    if kind == "theta":
        def _merge(df, group_cols=(), sketch_col="sketch"):
            return theta_merge(
                df, group_cols, sketch_col,
                lgk if lgk is not None else _DEFAULT_THETA_LGK)
        return _merge, F.theta_sketch_estimate
    raise ValueError(f"kind must be 'hll' or 'theta', got {kind!r}")


def sketch_totals(
    spark,
    state_dir: str,
    group_cols: Sequence[str] = (),
    sketch_col: str = "sketch",
    kind: str = "hll",
    lgk: int | None = None,
) -> DataFrame:
    """Merged estimates over every persisted delta: one row per
    ``group_cols`` group with ``(sketch, distinct_est)``. This is the
    read path of the persisted-sketch pattern — answering a roll-up
    means scanning only the delta rows (bytes per group per epoch),
    never the raw data. Works for the idempotent-union kinds (``hll``,
    ``theta``); KLL state goes through :func:`kll_totals`, whose read
    path must respect the compaction watermark. Pass the build-time
    ``lgk`` for theta state persisted above the default precision —
    the union cap otherwise downsamples it (see :func:`_merge_for`)."""
    merge_fn, est_fn = _merge_for(kind, lgk)
    merged = merge_fn(load_deltas(spark, state_dir), group_cols,
                      sketch_col=sketch_col)
    return merged.withColumn("distinct_est", est_fn(F.col(sketch_col)))


def sketch_compact(
    spark,
    state_dir: str,
    version: int | str,
    group_cols: Sequence[str] = (),
    sketch_col: str = "sketch",
    kind: str = "hll",
    lgk: int | None = None,
) -> None:
    """Fold all deltas into a single delta at ``v=compact-<version>``.

    The ``compact-`` prefix keeps compaction keys in a namespace
    DISJOINT from stream epoch ids — without it, a later epoch whose id
    equals ``version`` would idempotently OVERWRITE the compacted delta
    (which holds the entire folded history) with one batch's sketches,
    silently shrinking every total. Pick ``version`` monotonically
    across compactions (e.g. the epoch id at compaction time). Union
    idempotence makes readers merging the compacted delta with stale
    leftovers still correct, so compaction needs no coordination;
    delete old ``v=`` dirs at leisure."""
    merge_fn, _ = _merge_for(kind, lgk)
    merged = merge_fn(
        load_deltas(spark, state_dir), group_cols, sketch_col=sketch_col
    ).localCheckpoint()
    sketch_save_delta(merged, state_dir, f"compact-{version}")


# ---------------------------------------------------------------------------
# Theta sketches: distinct counts WITH set algebra (intersection/difference)
# ---------------------------------------------------------------------------

# Spark's theta_sketch_agg accepts lgNomEntries in [4, 26]; 14 → 16384
# nominal entries, i.e. EXACT results up to 16k distinct keys per group
# and ~1% RSE beyond, at ≤ 128 KiB per sketch.
_DEFAULT_THETA_LGK = 14


def theta_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    lgk: int = _DEFAULT_THETA_LGK,
    sketch_col: str = "sketch",
) -> DataFrame:
    """One theta sketch of distinct ``key_col`` per ``group_cols`` group.

    Same build shape as :func:`distinct_sketch` (one hash aggregation,
    partial sketches combine map-side), but the resulting binaries also
    support :func:`F.theta_intersection` / :func:`F.theta_difference` —
    the roll-ups HLL cannot answer. Below ``2^lgk`` distinct keys the
    sketch is in exact mode and every estimate is an exact integer.
    """
    if not 4 <= lgk <= 26:
        raise ValueError(f"lgk must be in [4, 26], got {lgk}")
    agg = F.theta_sketch_agg(F.col(key_col), lgk).alias(sketch_col)
    return _agg(df, group_cols, agg)


def theta_merge(
    df: DataFrame,
    group_cols: Sequence[str] = (),
    sketch_col: str = "sketch",
    lgk: int = _DEFAULT_THETA_LGK,
) -> DataFrame:
    """Union persisted theta sketches up to a coarser grain (the theta
    twin of :func:`merge_sketches`; union is associative and idempotent,
    so compaction and re-merged leftovers stay correct)."""
    agg = F.theta_union_agg(F.col(sketch_col), lgk).alias(sketch_col)
    return _agg(df, group_cols, agg)


def theta_intersect(
    df: DataFrame,
    group_cols: Sequence[str] = (),
    sketch_col: str = "sketch",
) -> DataFrame:
    """Intersect ALL sketches per group: "distinct keys present in
    EVERY slice" (e.g. users active on every one of N days). The
    aggregate form of :func:`F.theta_intersection`."""
    agg = F.theta_intersection_agg(F.col(sketch_col)).alias(sketch_col)
    return _agg(df, group_cols, agg)


def theta_estimate(sketch_col: str = "sketch", name: str = "distinct_est"):
    """Column expression: estimated cardinality of a theta sketch
    (exact — a long equal to the true distinct count — while the sketch
    is below its ``2^lgk`` exact-mode capacity)."""
    return F.theta_sketch_estimate(F.col(sketch_col)).alias(name)


def theta_over_time(
    df: DataFrame,
    key_col: str,
    time_col: str,
    grain: str = "day",
    dims: Sequence[str] = (),
    lgk: int = _DEFAULT_THETA_LGK,
) -> DataFrame:
    """Per-``grain`` (+dims) theta sketches — the finest-grain build of
    the set-algebra state (theta twin of :func:`distinct_over_time`).
    Persist this frame; any later range/dim slice merges it, and any
    overlap/retention question intersects it."""
    bucketed = df.withColumn(
        "bucket", F.date_trunc(grain, F.col(time_col))
    )
    out = theta_sketch(bucketed, key_col, ["bucket", *dims], lgk)
    return out.select("bucket", *dims, "sketch", theta_estimate())


def sketch_retention(
    daily: DataFrame,
    bucket_col: str = "bucket",
    sketch_col: str = "sketch",
    step: str = "1 day",
    dims: Sequence[str] = (),
) -> DataFrame:
    """Period-over-period retention from per-period theta sketches ALONE.

    For each bucket with a predecessor at ``bucket - step`` emits::

        (bucket[, dims...], active, prev_active, retained, churned, new_keys)

    where ``retained = |cur ∩ prev|``, ``churned = |prev \\ cur|``,
    ``new_keys = |cur \\ prev|`` — exact longs while the sketches are in
    exact mode. This is the 100 TB win of the theta layer: the classic
    retention query re-scans two days of raw events per output row
    (then can't be rolled up), while this joins two rows of bytes-sized
    state per output row. The join inputs are one row per period —
    trivially broadcast at runtime by AQE; no hint needed.

    ``dims`` MUST name the extra grouping columns when ``daily`` came
    from ``theta_over_time(..., dims=[...])`` (round-8 review: the
    self-join matched on the bucket alone, so a dimensioned frame
    cross-matched every dim value against every other — |dims|² rows
    per bucket of silently wrong cross-dimension "retention").
    """
    keys = ["bucket", *dims]
    cur = daily.select(
        F.col(bucket_col).alias("bucket"), *dims,
        F.col(sketch_col).alias("__cur"),
    )
    prev = daily.select(
        (F.col(bucket_col) + F.expr(f"interval {step}")).alias("bucket"),
        *dims,
        F.col(sketch_col).alias("__prev"),
    )
    # eqNullSafe on the group keys (round-9 review): a NULL dim value is
    # a real group — the same file's cms_estimate sets this standard —
    # and a plain name-equality join silently dropped the NULL segment's
    # retention rows (NULL != NULL)
    cond = None
    for k in keys:
        e = cur[k].eqNullSafe(prev[k])
        cond = e if cond is None else cond & e
    return (
        cur.join(prev, cond)
        .select(
            *[cur[k] for k in keys],
            F.theta_sketch_estimate("__cur").alias("active"),
            F.theta_sketch_estimate("__prev").alias("prev_active"),
            F.theta_sketch_estimate(
                F.theta_intersection("__cur", "__prev")
            ).alias("retained"),
            F.theta_sketch_estimate(
                F.theta_difference("__prev", "__cur")
            ).alias("churned"),
            F.theta_sketch_estimate(
                F.theta_difference("__cur", "__prev")
            ).alias("new_keys"),
        )
    )


# ---------------------------------------------------------------------------
# KLL quantile sketches: mergeable percentiles (additive, NOT idempotent)
# ---------------------------------------------------------------------------

# k=200 is the DataSketches default: ~1.65% worst-case rank error with
# 99% confidence, a few KiB per sketch.
_DEFAULT_KLL_K = 200

_KLL_SUFFIX = {"double": "double", "float": "float", "bigint": "bigint"}


def _kll_fns(dtype: str):
    """The typed KLL function family for ``dtype`` ∈ {bigint, float,
    double} (Spark ships one function set per input type; the sketch
    binaries are NOT cross-type mergeable, so the dtype is part of the
    state contract and callers pass it to every query helper)."""
    sfx = _KLL_SUFFIX.get(dtype)
    if sfx is None:
        raise ValueError(
            f"dtype must be one of {sorted(_KLL_SUFFIX)}, got {dtype!r}"
        )
    return {
        "agg": getattr(F, f"kll_sketch_agg_{sfx}"),
        "merge": getattr(F, f"kll_merge_agg_{sfx}"),
        "quantile": getattr(F, f"kll_sketch_get_quantile_{sfx}"),
        "rank": getattr(F, f"kll_sketch_get_rank_{sfx}"),
        "n": getattr(F, f"kll_sketch_get_n_{sfx}"),
    }


def _kll_dtype_of(df: DataFrame, value_col: str) -> str:
    t = df.schema[value_col].dataType.typeName()
    return {
        "double": "double", "float": "float",
        "long": "bigint", "integer": "bigint",
        "short": "bigint", "byte": "bigint",
    }.get(t, t)


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    k: int = _DEFAULT_KLL_K,
    dtype: str | None = None,
    sketch_col: str = "qsketch",
) -> DataFrame:
    """One KLL quantile sketch of ``value_col`` per ``group_cols`` group.

    One hash aggregation with map-side partial combine; the shuffle
    carries a few KiB per (partition, group). Narrow integer columns
    are widened to bigint automatically; anything else needs an
    explicit cast (the typed sketch families don't cross-merge).
    """
    dtype = dtype or _kll_dtype_of(df, value_col)
    fns = _kll_fns(dtype)
    val = F.col(value_col)
    if dtype == "bigint":
        val = val.cast("bigint")
    agg = fns["agg"](val, k).alias(sketch_col)
    return _agg(df, group_cols, agg)


def quantile_merge(
    df: DataFrame,
    group_cols: Sequence[str] = (),
    dtype: str = "double",
    k: int = _DEFAULT_KLL_K,
    sketch_col: str = "qsketch",
) -> DataFrame:
    """Merge persisted KLL sketches up to a coarser grain.

    ADDITIVE, not idempotent: the merged sketch behaves as if built
    over the CONCATENATION of the inputs' streams, so feeding the same
    sketch in twice double-weights its values. Persisted KLL state must
    therefore never re-merge a delta that a compacted delta already
    folded — that discipline is :func:`kll_totals`'s watermark read
    path, not something the algebra forgives."""
    agg = _kll_fns(dtype)["merge"](F.col(sketch_col), k).alias(sketch_col)
    return _agg(df, group_cols, agg)


def quantile_values(
    df: DataFrame,
    qs: Sequence[float],
    dtype: str = "double",
    sketch_col: str = "qsketch",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Query quantiles out of sketch rows: one ``q<percent>`` column per
    requested rank (e.g. ``q50``, ``q99``), plus ``n`` (the exact count
    of values the sketch absorbed — KLL tracks it losslessly)."""
    fns = _kll_fns(dtype)
    cols = [F.col(c) for c in keep_cols]
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile rank must be in [0, 1], got {q}")
        # float-tolerant percent naming (round-8 review: 0.55*100 is
        # 55.000000000000007, so `% 1 == 0` named it 'q0.55' — a dotted
        # column needing backticks — while 0.05 got 'q5'; round to 9
        # places before the integrality test so every whole percent
        # names uniformly)
        pct = round(q * 100, 9)
        # fractional percents name with an underscore decimal (q12_5 for
        # 0.125), never a dot: the round-8 fix covered whole percents
        # but the f'q{q}' fallback still minted dotted names needing
        # backticks in every downstream reference (round-9 review)
        name = (f"q{int(pct)}" if pct == int(pct)
                else "q" + str(pct).replace(".", "_").rstrip("0").rstrip("_"))
        cols.append(fns["quantile"](F.col(sketch_col), F.lit(q)).alias(name))
    cols.append(fns["n"](F.col(sketch_col)).alias("n"))
    return df.select(*cols)


def quantile_rank(
    sketch_col: str, value, dtype: str = "double", name: str = "rank"
):
    """Column expression: the (approximate) rank of ``value`` in the
    sketched distribution — the inverse of the quantile query, and the
    form KLL's error guarantee is stated in (±1.65% of rank at k=200)."""
    return _kll_fns(dtype)["rank"](F.col(sketch_col), F.lit(value)).alias(name)


def quantiles_over_time(
    df: DataFrame,
    value_col: str,
    time_col: str,
    grain: str = "day",
    dims: Sequence[str] = (),
    k: int = _DEFAULT_KLL_K,
    dtype: str | None = None,
) -> DataFrame:
    """Per-``grain`` (+dims) KLL sketches — the finest-grain build of
    the quantile state. Persist this frame; any later "p99 over this
    date range × dims" merges the selected rows instead of re-scanning
    raw data."""
    dtype = dtype or _kll_dtype_of(df, value_col)
    bucketed = df.withColumn(
        "bucket", F.date_trunc(grain, F.col(time_col))
    )
    return quantile_sketch(
        bucketed, value_col, ["bucket", *dims], k, dtype
    )


def kll_save_delta(
    sketches: DataFrame, state_dir: str, epoch: int
) -> None:
    """Persist one epoch's grouped KLL sketches at ``state_dir/v=<epoch>``.

    Epochs MUST be numeric and monotone — :func:`kll_totals` uses them
    as a fold watermark. The write is an idempotent per-epoch overwrite
    (a retried streaming epoch replaces its own directory), which is the
    ONLY idempotence KLL state gets: each input row lands in exactly one
    epoch directory, and every directory is merged exactly once."""
    # raise early on anything whose str() the watermark readers can't
    # parse back (round-8 review: int(2.5) passed this guard but wrote
    # v=2.5, permanently poisoning every later read/compaction of the
    # directory — int-VALUED is not int-RENDERED)
    if str(int(epoch)) != str(epoch) or int(epoch) < 0:
        # negative epochs additionally bypass save_delta's lineage fence
        # (str(-1).isdigit() is False) and collide with compact_fold's
        # -1 "no state" sentinel (round-9 review)
        raise ValueError(
            f"epoch must render as a plain non-negative integer, got "
            f"{epoch!r} (would write v={epoch}, unreadable by the "
            "watermark fence)"
        )
    save_delta(sketches, state_dir, epoch)


def kll_totals(
    spark,
    state_dir: str,
    group_cols: Sequence[str] = (),
    dtype: str = "double",
    k: int = _DEFAULT_KLL_K,
    sketch_col: str = "qsketch",
) -> DataFrame:
    """Merged KLL sketches over the persisted state, watermark-aware.

    Reads the NEWEST committed compacted delta (``v=compact-<N>``,
    which folds every epoch ≤ N) plus only the epoch deltas > N —
    never both a compacted fold and the epochs inside it, because KLL
    merge double-counts. Stale epoch dirs ≤ N are simply ignored (and
    can be deleted at leisure), so compaction needs no coordination
    with readers and a crash mid-compaction (no ``_SUCCESS``) leaves
    the previous watermark in force."""
    paths = watermark_paths(state_dir, spark=spark)
    if not paths:
        raise FileNotFoundError(f"no committed KLL deltas in {state_dir}")
    df = spark.read.parquet(*paths)
    return quantile_merge(df, group_cols, dtype, k, sketch_col)


def kll_compact(
    spark,
    state_dir: str,
    group_cols: Sequence[str] = (),
    dtype: str = "double",
    k: int = _DEFAULT_KLL_K,
    sketch_col: str = "qsketch",
    prune: bool = False,
) -> int:
    """Fold the current watermark-consistent state into one compacted
    delta ``v=compact-<N>`` where N is the newest live epoch.

    Crash-safe without relying on idempotence: ONE directory listing
    supplies both the watermark AND the exact delta paths folded (see
    :func:`~kafi_spark.functions.state.compact_fold` — re-listing
    inside the fold races a concurrent stream epoch), the fold is
    written with Spark's normal ``_SUCCESS`` commit, and becomes the
    read watermark only once committed. ``prune=True`` afterwards deletes the superseded epoch
    dirs and older compacts — safe at leisure because readers already
    ignore everything ≤ N. Returns N."""
    return compact_fold(
        spark, state_dir,
        lambda df: quantile_merge(df, group_cols, dtype, k, sketch_col),
        prune)


# ---------------------------------------------------------------------------
# Count-min frequency sketches: mergeable per-key counts (additive state)
# ---------------------------------------------------------------------------

# depth 5 / width 4096: overestimate ≤ e/4096 ≈ 0.07% of total weight
# with probability 1 - e^-5 ≈ 99.3%; 20480 counter rows per group.
_DEFAULT_CMS_DEPTH = 5
_DEFAULT_CMS_WIDTH = 4096


def _cms_cells(col: str, depth: int, width: int):
    """array of (d, w) cell coordinates for a key — row d hashes with
    seed d+1; the double-mod folds xxhash64's sign into [0, width)."""
    wl = F.lit(width).cast("long")
    return F.array(*[
        F.struct(
            F.lit(d).alias("d"),
            (((F.xxhash64(F.col(col), F.lit(d + 1)) % wl) + wl) % wl)
            .cast("int").alias("w"),
        )
        for d in range(depth)
    ])


def cms_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    depth: int = _DEFAULT_CMS_DEPTH,
    width: int = _DEFAULT_CMS_WIDTH,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min counter table of ``key_col`` occurrences per group:
    ``(*group_cols, d, w, cnt)`` rows, ``depth × width`` cells per group.

    Unlike Spark's ``count_min_sketch`` aggregate (an opaque binary with
    no SQL merge/query), the counter TABLE is the sketch: merge is a
    cell-wise SUM (plain groupBy — additive state, same watermark
    discipline as KLL), and point queries are a join (see
    :func:`cms_estimate`) — both distributed, nothing driver-side.
    One explode of ``depth`` cells per row, then a hash aggregation
    with map-side combine: the shuffle carries at most depth × width
    counter rows per (partition, group), never keys.
    """
    if weight_col:
        wt = dict(df.dtypes).get(weight_col, "")
        if wt not in ("bigint", "int", "smallint", "tinyint"):
            # a silent cast('long') TRUNCATED fractional weights (0.9 ->
            # 0), breaking the documented est >= true no-miss guarantee
            # for real-valued weights (round-9 review); refuse instead —
            # callers quantize explicitly when they mean it
            raise ValueError(
                f"weight_col {weight_col!r} must be an integral type, "
                f"got {wt!r}: fractional weights would truncate and "
                "break the no-underestimate guarantee; quantize "
                "explicitly (e.g. round(w * 1000)) if that is intended")
        # a NULL weight contributes 0, never a NULL cell
        w = F.coalesce(F.col(weight_col).cast("long"), F.lit(0))
    else:
        w = F.lit(1).cast("long")
    base = df.filter(F.col(key_col).isNotNull()).select(
        *group_cols, F.explode(_cms_cells(key_col, depth, width)).alias("__c"),
        w.alias("__w"),
    )
    return (
        base.select(*group_cols, "__c.d", "__c.w", "__w")
        .groupBy(*group_cols, "d", "w")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_merge(
    cms: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Merge counter tables up to a coarser grain: cell-wise sum.
    ADDITIVE like KLL — never feed the same delta in twice."""
    return cms.groupBy(*group_cols, "d", "w").agg(
        F.sum("cnt").alias("cnt"))


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    depth: int = _DEFAULT_CMS_DEPTH,
    width: int = _DEFAULT_CMS_WIDTH,
) -> DataFrame:
    """Estimated count of each key in ``keys`` (per remaining group):
    ``(*group_cols, key_col, est)`` with the count-min guarantee
    ``est ≥ true`` always, ``est ≤ true + e/width · total_weight`` with
    probability ``1 - e^-depth``.

    Distributed probe: keys explode into their depth cells, join the
    counter table on (group, d, w) — the join's build side is
    depth·|keys| rows, broadcast by AQE when small — and the min over
    depth rows is the estimate. A key absent from the data still gets
    its cells' collision mass (standard CMS behavior: absent ⇒ est is
    pure overcount, small by the same bound).
    """
    probes = keys.select(
        F.col(key_col),
        F.explode(_cms_cells(key_col, depth, width)).alias("__c"),
    ).select(key_col, "__c.d", "__c.w")
    if group_cols:
        # probe every (group × key × cell) explicitly: joining on
        # (d, w) alone drops a group's ZERO-count cells from the
        # depth-wise min (a left-join miss has no group value), which
        # both inflates estimates past the CMS bound and emits a
        # spurious all-null group row. The groups frame is one row per
        # group — tiny by construction. Group keys join NULL-SAFE: a
        # null grouping value (e.g. a null time bucket) is a real
        # group whose counts must still be found.
        groups = cms.select(*group_cols).distinct()
        p = groups.crossJoin(probes).alias("p")
        c = cms.alias("c")
        cond = [F.col(f"p.{g}").eqNullSafe(F.col(f"c.{g}"))
                for g in group_cols]
        cond += [F.col("p.d") == F.col("c.d"),
                 F.col("p.w") == F.col("c.w")]
        joined = p.join(c, cond, "left").select(
            *[F.col(f"p.{g}").alias(g) for g in group_cols],
            F.col(f"p.{key_col}").alias(key_col),
            F.col("c.cnt").alias("cnt"),
        )
    else:
        joined = probes.join(cms, ["d", "w"], "left")
    joined = joined.withColumn(
        "cnt", F.coalesce(F.col("cnt"), F.lit(0).cast("long"))
    )
    return joined.groupBy(*group_cols, key_col).agg(
        F.min("cnt").alias("est"))


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    threshold: int,
    depth: int = _DEFAULT_CMS_DEPTH,
    width: int = _DEFAULT_CMS_WIDTH,
) -> DataFrame:
    """Keys whose estimated frequency ≥ threshold: ``(key, est)``.

    The one-sided error means NO true heavy hitter is ever missed
    (est ≥ true); a light key can slip in only by collision overcount.
    Two aggregations over the data — one to build counters, one over
    distinct keys to probe them — instead of an exact
    groupBy-count-filter whose shuffle carries every distinct key with
    its full count. Here the counter build shuffles ≤ depth × width
    rows per partition and the probe shuffles distinct keys once with
    map-side distinct. (For small key spaces exact groupBy wins; this
    is the 10^9-distinct-URLs shape.)
    """
    cms = cms_sketch(df, key_col, depth=depth, width=width)
    keys = df.select(key_col).filter(
        F.col(key_col).isNotNull()).distinct()
    est = cms_estimate(cms, keys, key_col, depth=depth, width=width)
    return est.filter(F.col("est") >= threshold)


def cms_over_time(
    df: DataFrame,
    key_col: str,
    time_col: str,
    grain: str = "day",
    dims: Sequence[str] = (),
    depth: int = _DEFAULT_CMS_DEPTH,
    width: int = _DEFAULT_CMS_WIDTH,
) -> DataFrame:
    """Per-``grain`` (+dims) counter tables — the finest-grain build of
    the frequency state. Persist with :func:`kll_save_delta` (additive
    state shares the KLL watermark discipline); answer "how often did
    key X appear in this date range" later via :func:`cms_totals` +
    :func:`cms_estimate` without rescanning raw data."""
    bucketed = df.withColumn(
        "bucket", F.date_trunc(grain, F.col(time_col))
    )
    return cms_sketch(
        bucketed, key_col, ["bucket", *dims], depth, width)


def cms_totals(
    spark,
    state_dir: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Watermark-aware merged counter table over persisted CMS deltas
    (saved via :func:`kll_save_delta` — numeric epochs). Reads the
    newest committed ``v=compact-<N>`` plus epochs > N only; same
    crash-safety argument as :func:`kll_totals`."""
    paths = watermark_paths(state_dir, spark=spark)
    if not paths:
        raise FileNotFoundError(f"no committed CMS deltas in {state_dir}")
    return cms_merge(spark.read.parquet(*paths), group_cols)


def cms_compact(
    spark,
    state_dir: str,
    group_cols: Sequence[str] = (),
    prune: bool = False,
) -> int:
    """Fold CMS state into ``v=compact-<N>`` (N = newest live epoch);
    additive-state compaction with the same committed-watermark and
    single-listing crash/race safety as :func:`kll_compact`. Returns N."""
    return compact_fold(
        spark, state_dir, lambda df: cms_merge(df, group_cols), prune)
