"""Versioned-delta storage for persisted streaming state.

Every persisted state family in the repo stores itself here: Bloom
filters (:mod:`kafi_spark.functions.bloom`), HLL/theta and KLL/CMS
sketches (:mod:`kafi_spark.functions.sketches`), and the fingerprint,
band-key and document sets of the ``foreachBatch`` twins
(:mod:`kafi_spark.streaming.stateful`, whose module docstring states the
per-epoch protocol built on these helpers). A family is a directory of
``v=<version>`` deltas, each an idempotent per-version overwrite fenced
by Spark's ``_SUCCESS`` marker, optionally folded into
``v=compact-<N>``. :func:`_deltas` is the one parser of that layout.

Two disciplines, chosen by the state's MERGE ALGEBRA:

- **idempotent** state (Bloom ``bit_or``, fingerprint sets, band-key
  sets): re-merging a delta can never corrupt the result, so the
  reader simply unions every delta and excludes the current epoch's
  own delta BY COLUMN — arbitrary STRING versions are allowed (the
  streams prepend a ``version_prefix`` run id to keep fresh-checkpoint
  epoch sequences disjoint). Stale leftovers after compaction cost
  only IO, never correctness. Reader: :func:`load_deltas`.
- **additive** state (KLL, CMS): merging a delta twice double-counts,
  so epochs must be NUMERIC and monotone, reads are watermark-fenced —
  the newest committed ``v=compact-<N>`` fold plus only epochs > N —
  and compaction derives its fold set AND its watermark from ONE
  directory listing (re-listing inside the fold races a concurrently
  committing stream epoch into being both folded and live). Readers:
  :func:`committed_dirs` / :func:`watermark_paths`; compactor:
  :func:`compact_fold`.

Both disciplines write through :func:`save_delta`; a crashed write has
no ``_SUCCESS`` and stays invisible to the fenced readers.

At 100 TB these state directories are index-scale, not corpus-scale
(fingerprints, band keys, fixed-size sketch rows); every reader here
unions parquet DIRECTORIES — no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def save_delta(df: DataFrame, state_dir: str, version) -> None:
    """Persist one delta at ``state_dir/v=<version>`` — an idempotent
    per-version overwrite (a retried epoch replaces its own directory).
    ``version`` may be any string for idempotent-algebra state; additive
    state must pass numeric epochs (its readers enforce it).

    Numeric versions additionally pass the fresh-checkpoint lineage
    fence (:func:`assert_epoch_lineage`): epoch ids are scoped to the
    streaming query's CHECKPOINT, so a query restarted against the same
    state dir with a fresh checkpoint restarts at 0 and this overwrite
    would silently destroy committed history (round-9 review). Prefixed
    versions (``version_prefix`` twins) keep their keys disjoint by
    construction and skip the fence."""
    if str(version).isdigit():
        assert_epoch_lineage(state_dir, int(str(version)),
                             spark=df.sparkSession)
    df.write.mode("overwrite").parquet(f"{state_dir.rstrip('/')}/v={version}")


def load_deltas(
    spark,
    state_dir: str,
    exclude_version: str | int | None = None,
    empty_schema: str | None = None,
    schema: str | None = None,
) -> DataFrame:
    """Idempotent-algebra reader: every persisted delta as ONE frame
    (the ``v`` partition column rides along), minus the excluded
    version's rows. A missing/empty state dir yields an empty frame of
    ``empty_schema`` (required then). The caller applies its own merge
    (``bit_or``, ``distinct`` …) — safe for idempotent state only.

    ``schema`` (optional, includes ``v``) pins the READ schema instead
    of letting Spark sample one footer: a state dir whose deltas were
    written across a column-widening change (e.g. bloom's word_idx
    int→long, round 7) holds mixed int32/int64 files for the same
    column, and footer-sampled inference mis-types or fails depending
    on which file it lands on; an explicit schema upcasts the narrow
    files instead (round-8 ADVICE fix)."""
    from pyspark.errors import AnalysisException

    try:
        reader = spark.read.schema(schema) if schema else spark.read
        # a missing dir raises PATH_NOT_FOUND here (eagerly, in load())
        # with or without an explicit schema — empty_schema applies
        df = reader.parquet(state_dir)
    except AnalysisException:
        if empty_schema is None:
            raise
        return spark.createDataFrame([], empty_schema)
    if exclude_version is not None and "v" in df.columns:
        df = df.filter(F.col("v").cast("string") != str(exclude_version))
    return df


def _io(state_dir: str, spark=None):
    """Directory-plane backend for the additive-state readers: ``os``
    for plain paths, the session's Hadoop ``FileSystem`` for
    ``scheme://`` paths. Round-8 review: these readers were
    ``os.listdir``-only, so ``s3a://`` state that :func:`save_delta`
    wrote perfectly well read back as "no state" — the streaming
    incremental-dedup gate then saw empty history every epoch and
    near-dups silently passed, while kll/cms totals crashed.

    Dispatch itself delegates to :func:`kafi_spark.sources.fsio.io_for`
    — ONE scheme-routing rule repo-wide; this wrapper only adds the
    active-session fallback for scheme paths."""
    from kafi_spark.sources.fsio import io_for

    if "://" in state_dir and spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                f"listing {state_dir} needs an active SparkSession "
                "(Hadoop FileSystem) — none is active"
            )
    return io_for(spark, state_dir)


def _deltas(state_dir: str, spark=None, committed: bool = True):
    """Yield ``(path, tag, epoch, is_compact)`` for every ``v=<tag>``
    entry of ``state_dir`` — the one parser of the delta layout.
    ``epoch`` is the integer in ``<tag>`` or ``compact-<tag>``, or None
    when it does not parse (a ``version_prefix`` lineage, a stray
    float); each caller decides what None means. ``committed`` skips
    entries without ``_SUCCESS`` (a crashed write, or a stray file
    named ``v=…``). Raises FileNotFoundError when ``state_dir`` is
    absent."""
    io = _io(state_dir, spark)
    if not io.exists(state_dir):
        raise FileNotFoundError(f"no state at {state_dir}")
    for name in io.listdir(state_dir):
        if not name.startswith("v="):
            continue
        path = io.join(state_dir, name)
        if committed and not io.exists(io.join(path, "_SUCCESS")):
            continue
        tag = name[2:]
        is_compact = tag.startswith("compact-")
        try:
            epoch = int(tag[len("compact-"):] if is_compact else tag)
        except ValueError:
            epoch = None
        yield path, tag, epoch, is_compact


def committed_dirs(state_dir: str, spark=None):
    """(watermark_or_None, compact_path_or_None, live_epoch_paths) for
    additive state: the newest COMMITTED ``v=compact-<N>`` fold and the
    numeric epoch deltas NEWER than N. Uncommitted dirs are ignored — a
    crashed write/compaction is invisible rather than double-counted or
    half-read — and a non-numeric committed tag raises a ValueError
    naming it: additive reads are fenced on integer epochs. Raises
    FileNotFoundError when the state dir itself is absent (callers
    decide what "no state" means). ``spark`` is only needed for
    ``scheme://`` state dirs (Hadoop FileSystem listings); plain paths
    list through ``os``."""
    best_n, best_path, epochs = None, None, []
    for path, tag, n, is_compact in _deltas(state_dir, spark):
        if n is None:
            raise ValueError(
                f"additive state dir {state_dir} holds non-numeric epoch "
                f"delta 'v={tag}': additive reads are watermark-fenced on "
                "integer epochs — remove or rename that delta")
        if not is_compact:
            epochs.append((n, path))
        elif best_n is None or n > best_n:
            best_n, best_path = n, path
    live = [p for e, p in epochs if best_n is None or e > best_n]
    return best_n, best_path, live


def assert_epoch_lineage(state_dir: str, epoch: int, spark=None) -> None:
    """Refuse to write numeric epoch ``E`` when a committed epoch or
    compact watermark GREATER than ``E`` already exists in
    ``state_dir``.

    Epoch ids come from the streaming query's checkpoint; a query
    restarted with a FRESH checkpoint against the same state dir
    restarts at 0, and :func:`save_delta`'s idempotent overwrite would
    then silently replace committed deltas — additive state cannot
    recover a lost delta, and idempotent-set state silently un-sees
    history. A legitimate crash-replay rewrites its OWN epoch — never
    one below the committed frontier — so monotonicity is exactly the
    legal envelope. The escape hatches: keep the original checkpoint,
    start a new state_dir, or (idempotent families) pass a distinct
    ``version_prefix`` so keys stay disjoint.

    Only NUMERIC committed tags participate: prefixed versions are a
    disjoint lineage by construction and are skipped here, where
    :func:`committed_dirs` would raise on them."""
    try:
        newest = max((n for _, _, n, _ in _deltas(state_dir, spark)
                      if n is not None), default=-1)
    except FileNotFoundError:
        return
    if newest > int(epoch):
        raise ValueError(
            f"state dir {state_dir} already holds committed epoch "
            f"{newest} > {epoch}: this query's checkpoint restarted "
            "epoch ids (fresh checkpoint against existing state), and "
            "writing would silently overwrite committed deltas. Keep "
            "the original checkpoint, use a new state_dir, or pass a "
            "distinct version_prefix where the operator offers one."
        )


def watermark_paths(state_dir: str, exclude_epoch=None, spark=None) -> list[str]:
    """The committed read set for one additive/fenced state family: the
    newest compact fold (if any) plus live epochs, minus the CURRENT
    epoch's own delta (crash-replay exclusion). Empty list when the
    state dir does not exist yet."""
    try:
        _, compact_path, live = committed_dirs(state_dir, spark)
    except FileNotFoundError:
        return []
    paths = [compact_path] if compact_path else []
    if exclude_epoch is not None:
        live = [p for p in live
                if p.rstrip("/").rsplit("/", 1)[-1] != f"v={exclude_epoch}"]
    return paths + live


def compact_fold(spark, state_dir: str, merge_fn, prune: bool = False) -> int:
    """Fold the watermark-consistent state into ``v=compact-<N>`` where
    N is the newest live epoch. ONE directory listing supplies both the
    watermark and the exact delta paths folded — re-listing inside the
    fold would race a concurrently-committed stream epoch into being
    folded under a smaller N and then ALSO read live forever after
    (additive merge does not forgive double-counts). The fold commits
    through Spark's normal ``_SUCCESS`` marker and becomes the read
    watermark only once committed. ``prune=True`` deletes superseded
    epoch dirs and older compacts afterwards — safe at leisure, fenced
    readers already ignore them. Returns N (the existing watermark, or
    -1, when nothing live exists to fold)."""
    best_n, compact_path, live = committed_dirs(state_dir, spark)
    if not live:
        return best_n if best_n is not None else -1
    watermark = max(int(p.rsplit("v=", 1)[1]) for p in live)
    paths = ([compact_path] if compact_path else []) + live
    merged = merge_fn(spark.read.parquet(*paths)).localCheckpoint()
    merged.write.mode("overwrite").parquet(
        f"{state_dir.rstrip('/')}/v=compact-{watermark}")
    if prune:
        prune_folded(state_dir, watermark, spark)
    return watermark


def prune_folded(state_dir: str, watermark: int, spark=None) -> None:
    """Delete epoch dirs ≤ watermark and compacts < watermark — the
    state a committed ``v=compact-<watermark>`` fold supersedes,
    committed or not. Tags that don't parse as epochs are left in place
    (they never enter the fenced read set either)."""
    io = _io(state_dir, spark)
    for path, _, n, is_compact in _deltas(state_dir, spark, committed=False):
        if n is not None and (n < watermark if is_compact else n <= watermark):
            io.delete(path)
