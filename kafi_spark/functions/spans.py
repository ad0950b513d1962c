"""Span-level exact dedup — remove repeated text SPANS across a corpus.

Document-level dedup (:mod:`kafi_spark.functions.dedup`) drops whole
near-identical documents; this module removes the *shared boilerplate
inside otherwise-distinct documents* — the "exact substring / line
dedup" stage of large-scale training pipelines (MassiveText §A.2.3
removes repeated 50-token substrings; RefinedWeb/CCNet drop lines
duplicated across the crawl). A true suffix-array substring dedup is
driver-unfriendly at 100 TB (global sort of every suffix); the
industry-practical distributed form implemented here hashes fixed
TOKEN SPANS (or literal lines) and keeps one global occurrence of each.

Plan shape (2 shuffles, no joins, no subtree re-execution):

1. scan → split → non-overlapping span chunks via ``posexplode``
   (narrow; same bound-array trick as :func:`dedup.shingles`)
2. ONE window shuffle partitioned by the span's xxhash64 fingerprint:
   ``count(*)`` + ``row_number`` over (doc, position) decide, per
   occurrence, "is this span globally over-represented, and am I its
   first occurrence" — no self-join, so the tokenize subtree is planned
   exactly once (the round-2 LSH-verification incident this repo
   documents in PLANS.md is the hazard being avoided)
3. ONE groupBy(doc) shuffle reassembling surviving spans in order.

Shuffle volume is ~corpus-sized both times (reassembly must carry the
span text); that is inherent to any exact span dedup and both
exchanges are map-side-projected to (id, span_id, fp, span). (An
under-partitioned input — a single small file — picks up one extra
round-robin spread before the explode, a no-op at real scale; see
:func:`dedup._parallelize`.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .text import gram_concat, ws_tokens  # canonical dedup-family token framing


def text_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
) -> DataFrame:
    """Non-overlapping ``span_tokens``-token spans per document:
    ``(id, span_id, span)`` with span_id giving document order.

    JVM-side only: bind the split once (interpreted higher-order lambdas
    re-evaluate unbound expressions per element — see
    :func:`dedup.shingles`), then slice W-token windows. The last span
    of a document may be shorter than W; a document shorter than W
    tokens is its own single span. ZERO-token (null/empty/whitespace-
    only) documents emit NO rows (round-9 review: the old chunk floor
    emitted one phantom span — '' for empty docs, NULL for null docs —
    so every empty doc shared a fingerprint and all but the globally
    first silently disappeared under span_dedup defaults, while the
    stream twin's state was salted with md5('') forever; shingles got
    the same fix in r8).
    """
    from .dedup import _parallelize

    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    # ws_tokens framing (review r7): F.trim strips ASCII spaces only, so
    # a \n/\t-edged doc grew a phantom empty trailing token — a spurious
    # '' span shared by every newline-terminated doc corpus-wide, and
    # trailing-space span mutations that missed true duplicates. The
    # DuckDB oracle mirrors the regexp_extract_all framing in lockstep.
    bound = _parallelize(df).select(
        F.col(id_col), ws_tokens(text_col).alias("__words")
    )
    n_spans = F.ceil(F.size("__words") / F.lit(span_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_spans - 1, F.lit(0))),
        lambda i: gram_concat("__words", i * span_tokens, span_tokens),
    )
    # zero-token guard on the EXPLODED spans, not the doc rows (r12,
    # same move as dedup.shingles): a `size(__words) > 0` doc filter is
    # pushed below the projection binding __words, substituting the
    # full ws_tokens(text) expression — every document paid the regex
    # split twice. A null/zero-token doc's chunk array collapses to one
    # '' span (gram_concat over a null/empty array), while any doc with
    # ≥1 token only builds concat_ws spans over non-empty tokens (never
    # ''), so dropping '' spans post-explode keeps exactly the old
    # output; the filter tests a generated attribute, which nothing can
    # push below or substitute.
    return bound.select(
        F.col(id_col), F.posexplode(chunks).alias("span_id", "span")
    ).filter(F.col("span") != "")


def text_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Literal-separator variant of :func:`text_spans`: one row per LINE
    (RefinedWeb-style line dedup). ``sep`` is a literal, not a regex."""
    import re as _re

    from .dedup import _parallelize

    # the split stays INLINE in the generator (r12): bound to a column,
    # InferFiltersFromGenerate plants `size(__lines) > 0 AND
    # isnotnull(__lines)` below the binding projection, substituting
    # the split — every document paid the separator scan twice (the
    # rule skips complex generator children, verified on Spark 4.1).
    # No HOF references the array, so inlining has no re-evaluation
    # hazard (the shingles()-binding rule is about transform lambdas).
    return _parallelize(df).select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("span_id", "span"),
    )


def _null_doc_leg(
    df: DataFrame, text_col: str, id_col: str, count_col: str
) -> DataFrame:
    """Null-text rows as an unchanged ``(id, text=null, <count>=0)``
    pass-through leg — the span-family contract (null docs come back
    unchanged, never silently dropped)."""
    return df.filter(F.col(text_col).isNull()).select(
        F.col(id_col),
        F.lit(None).cast("string").alias("text"),
        F.lit(0).cast("long").alias(count_col),
    )



def _reassemble(kept: DataFrame, id_col: str, joiner: str,
                count_name: str) -> DataFrame:
    """Order-preserving reassembly without a sort shuffle: collect
    (span_id, span) structs, array_sort (struct order = field order),
    array_join — the repo's standard banded-digest pattern, shared by
    :func:`_dedup_spans`, :func:`boilerplate_filter`, and the span
    stream twin (was copy-pasted three times — round-9 review)."""
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_id", "span"))),
                lambda x: x["span"],
            ),
            joiner,
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias(count_name),
    )

def _dedup_spans(
    spans: DataFrame,
    id_col: str,
    joiner: str,
    max_occurrences: int,
    keep: str,
    min_chars: int = 0,
) -> DataFrame:
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    if max_occurrences < 1:
        raise ValueError(f"max_occurrences must be >= 1, got {max_occurrences}")
    # xxhash64 partition key: an 8-byte constant-width sort/shuffle key
    # regardless of span width (the span itself rides along only as a
    # carried column, never as a comparison key). md5 until r13 — the
    # hash is an equality proxy for the span text (the DuckDB oracle
    # groups by the text itself), so the switch trades the 128-bit
    # margin for one cheap codegen'd hash and a quarter of the key
    # bytes; a 2⁻⁶⁴ collision falsely merges two distinct spans'
    # occurrence counts (≈n²/2⁶⁵ expected events — ~27k wrongly-cut
    # spans per 10¹² at 100 TB, a 3e-8 corruption rate), the same
    # accepted class as dedup.py's r9 shingle fingerprints.
    fp = spans.withColumn("__fp", F.xxhash64("span"))
    # (doc, position) is unique per occurrence → row_number is
    # deterministic with no tie to break. The COUNT uses the same
    # ordered spec with an explicitly unbounded frame so Catalyst plans
    # ONE Window operator (one sort) instead of a second unordered
    # Window with its own re-sort. One window, not aggregate-then-join:
    # see PLANS.md "Span-dedup skew analysis" for the measured trade.
    wo = W.partitionBy("__fp").orderBy(F.col(id_col), F.col("span_id"))
    ranked = fp.select(
        F.col(id_col),
        "span_id",
        "span",
        F.count(F.lit(1))
        .over(wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("__n"),
        F.row_number().over(wo).alias("__rn"),
    )
    survives = F.col("__n") <= max_occurrences
    if keep == "first":
        survives = survives | (F.col("__rn") == 1)
    if min_chars > 0:
        # trivial lines (blanks) are structure, not boilerplate
        survives = survives | (F.length("span") < min_chars)
    kept = ranked.filter(survives)
    return _reassemble(kept, id_col, joiner, "n_spans_kept")


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 8,
    max_occurrences: int = 1,
    keep: str = "first",
) -> DataFrame:
    """Remove globally-duplicated token spans, keeping document order.

    A span survives in a document iff its corpus-wide occurrence count
    is ≤ ``max_occurrences``, or (``keep='first'``) this occurrence is
    the globally first one (ordered by ``(id, span_id)``).
    ``keep='none'`` drops EVERY occurrence of an over-represented span
    (RefinedWeb line-dedup semantics — boilerplate carries no signal,
    so no copy is worth keeping).

    Returns ``(id, text, n_spans_kept)`` — documents whose every span
    was removed disappear from the output (filter-then-groupBy; callers
    wanting empty-text rows can left-join against the input ids).

    Reference scope note: the reference engine has no dedup operators;
    this is part of the beyond-reference LLM-pipeline layer
    (SURVEY.md §2 extension).
    """
    # null texts come back unchanged (review r7: the NULL-span path used
    # to resurrect exactly ONE null doc per corpus as text='' and drop
    # the rest — substring_dedup's contract is the model); zero-token
    # texts pass through unchanged too (round-9 review — they have no
    # spans to dedup, and text_spans now emits no rows for them)
    nulls = _null_doc_leg(df, text_col, id_col, "n_spans_kept")
    # zero tokens ⇔ no \S character anywhere — the rlike find-first
    # test is value-identical to size(ws_tokens(text)) == 0 (ws_tokens
    # keeps exactly the \S+ runs) and replaces this leg's full
    # split+filter+size pass with an early-exit regex probe per doc
    # (r12; F.trim-based emptiness is NOT equivalent — ASCII spaces
    # only, the r7 lesson)
    empties = df.filter(
        F.col(text_col).isNotNull() & ~F.col(text_col).rlike(r"\S")
    ).select(
        F.col(id_col), F.col(text_col).alias("text"),
        F.lit(0).cast("long").alias("n_spans_kept"))
    spans = text_spans(
        df.filter(F.col(text_col).isNotNull()), text_col, id_col, span_tokens)
    out = _dedup_spans(spans, id_col, " ", max_occurrences, keep)
    return out.unionByName(nulls).unionByName(empties)


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    max_occurrences: int = 1,
    keep: str = "none",
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-wide duplicate-LINE removal (split on a literal separator).

    Defaults to ``keep='none'``: a line appearing more than
    ``max_occurrences`` times across the corpus is boilerplate
    (navigation chrome, cookie banners) and every copy is dropped.

    ``min_line_chars`` exempts TRIVIAL lines from dedup (always kept):
    the empty line is the most frequent "line" in any real corpus, so
    without the exemption the defaults stripped every blank line —
    i.e. the paragraph structure of every multi-paragraph document
    (review r7; RefinedWeb-style line dedup exempts such lines too).
    Pass 0 to dedup everything including blanks.

    Null texts come back unchanged — the family contract
    (:func:`span_dedup`, :func:`substring_dedup`); ``F.split(null)``
    explodes to nothing, so without the explicit leg null docs silently
    DISAPPEARED from the output while the sibling ops preserved them
    (round-8 session review)."""
    spans = text_lines(
        df.filter(F.col(text_col).isNotNull()), text_col, id_col, sep)
    out = _dedup_spans(spans, id_col, sep, max_occurrences, keep,
                       min_chars=min_line_chars)
    return out.unionByName(_null_doc_leg(df, text_col, id_col,
                                         "n_spans_kept"))


def _boilerplate_keys(
    lines: DataFrame, id_col: str, normalize: bool
) -> DataFrame:
    """(id, span_id, span, __fp) with the doc-frequency hash key applied
    (xxhash64 since r13 — equality proxy only, see _dedup_spans)."""
    # strip EVERY whitespace class (review r7: F.trim left \r/\t in
    # place, splitting a CRLF corpus's chrome line across '\r'-suffixed
    # fingerprint variants); oracle mirrors the regexp form
    norm = (
        F.regexp_replace(F.lower(F.col("span")), r"^\s+|\s+$", "")
        if normalize else F.col("span")
    )
    return lines.select(
        F.col(id_col), "span_id", "span", F.xxhash64(norm).alias("__fp")
    )


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_doc_frequency: int = 2,
    normalize: bool = True,
) -> DataFrame:
    """Corpus boilerplate report: lines ranked by DOCUMENT frequency.

    :func:`line_dedup` counts *occurrences* — a line repeated 5× inside
    one page already trips ``max_occurrences``. CCNet/RefinedWeb-style
    boilerplate detection counts *documents*: navigation chrome is a
    line that appears on MANY PAGES, however many times per page. This
    returns one row per over-represented line:
    ``(line, doc_frequency, occurrences)`` for every line whose distinct
    document count is ≥ ``min_doc_frequency``.

    ``normalize=True`` folds case and surrounding whitespace into the
    frequency key (``"  Home  "`` and ``"home"`` count as one line); the
    reported ``line`` is then the lexicographic min of the raw variants
    (deterministic representative).

    Plan: two hash aggregations, both with map-side partial combine —
    ``(fp, doc)`` first (collapses within-doc repeats locally), then
    ``fp`` (doc_frequency = count of surviving pairs). No window, no
    join, no countDistinct expand. The second shuffle's volume is the
    number of DISTINCT (line, doc) pairs, not corpus size.

    Reference scope note: beyond-reference LLM-pipeline layer
    (SURVEY.md §2 extension); the reference engine has no dedup ops.
    """
    if min_doc_frequency < 1:
        raise ValueError(
            f"min_doc_frequency must be >= 1, got {min_doc_frequency}"
        )
    keyed = _boilerplate_keys(
        text_lines(df, text_col, id_col, sep), id_col, normalize
    )
    per_doc = keyed.groupBy("__fp", id_col).agg(
        F.count(F.lit(1)).alias("__occ"), F.min("span").alias("__rep")
    )
    return (
        per_doc.groupBy("__fp")
        .agg(
            F.min("__rep").alias("line"),
            F.count(F.lit(1)).cast("long").alias("doc_frequency"),
            F.sum("__occ").cast("long").alias("occurrences"),
        )
        .filter(F.col("doc_frequency") >= min_doc_frequency)
        .select("line", "doc_frequency", "occurrences")
    )


def boilerplate_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_doc_frequency: int = 2,
    normalize: bool = True,
    min_line_chars: int = 1,
) -> DataFrame:
    """Remove corpus-frequent boilerplate lines from every document.

    Drops EVERY copy (including the first) of any line whose document
    frequency is ≥ ``min_doc_frequency`` — C4/RefinedWeb semantics:
    chrome that appears on many pages carries no signal, so no copy is
    worth keeping. Returns ``(id, text, n_lines_kept)``; documents whose
    every line was boilerplate disappear from the output (same
    filter-then-groupBy contract as :func:`span_dedup`).

    Plan: the boilerplate fingerprint set (aggregated exactly as in
    :func:`boilerplate_lines`, then projected to ``__fp`` only) is
    materialized through an eager ``localCheckpoint`` barrier — it is
    tiny by construction (the set of lines crossing the frequency
    threshold, not the corpus), the same post-aggregation-small-frame
    barrier class as :func:`dedup.lsh_dedup_ingest`'s matched-id set —
    then LEFT OUTER-joined (AQE broadcasts a checkpointed leaf it can
    size; deliberately NOT a compile-time ``F.broadcast`` hint: a
    pathological threshold on a duplicate-saturated corpus can make
    the set large, and the hint would force it onto the driver anyway;
    AQE degrades to shuffle join instead) against ONE pass over the
    exploded lines, with the keep verdict (not boilerplate, OR
    trivial) as a filter. r12 diet — this used to be an anti-join over
    a ``removable`` slice unioned with a separately re-planned
    ``trivial`` slice, so the scan→split→explode subtree planned
    three times (stats + removable + trivial) and the stats
    aggregation re-planned per consumer; the barrier makes the
    frequency side a leaf and the verdict-as-filter needs the probe
    subtree once. The only unconditionally corpus-sized shuffle is
    the final per-document reassembly groupBy.

    Null texts come back unchanged as ``(id, null, 0)`` — the family
    contract (round-8 session review; they also contribute nothing to
    document frequencies, matching :func:`boilerplate_lines`).

    ``min_line_chars`` exempts TRIVIAL lines from removal (always
    kept): the empty line is the most frequent "line" in any real
    corpus — split keeps the '' between consecutive separators and a
    trailing one, and normalize folds whitespace-only lines into the
    same key — so the defaults used to strip every blank line
    corpus-wide, silently destroying paragraph structure (round-9
    review; the exact r7 failure mode :func:`line_dedup` fixed with the
    same knob). Trivial lines still count toward document frequency
    (they are never removed, so their frequency is moot). Pass 0 to
    treat blanks as removable boilerplate.
    """
    if min_doc_frequency < 1:
        raise ValueError(
            f"min_doc_frequency must be >= 1, got {min_doc_frequency}"
        )
    keyed = _boilerplate_keys(
        text_lines(df.filter(F.col(text_col).isNotNull()),
                   text_col, id_col, sep), id_col, normalize
    )
    boiler = (
        keyed.groupBy("__fp", id_col)
        .agg(F.count(F.lit(1)).alias("__occ"))
        .groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_doc_frequency)
        .select("__fp", F.lit(True).alias("__boiler"))
        .localCheckpoint()
    )
    kept = (
        keyed.join(boiler, "__fp", "left")
        .filter(F.col("__boiler").isNull()
                | (F.length("span") < min_line_chars))
        .select(id_col, "span_id", "span")
    )
    out = _reassemble(kept, id_col, sep, "n_lines_kept")
    return out.unionByName(_null_doc_leg(df, text_col, id_col,
                                         "n_lines_kept"))


def substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 8,
    max_occurrences: int = 1,
    keep: str = "first",
) -> DataFrame:
    """Exact duplicated-SUBSTRING removal (suffix-array-spirit dedup,
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better"): cut every corpus-duplicated run of >= ``min_tokens``
    consecutive tokens OUT of each document, keeping the rest of the
    text intact — finer-grained than :func:`span_dedup`, whose fixed
    non-overlapping chunks miss duplicates that straddle a chunk
    boundary.

    The distributed form replaces the global suffix array (a corpus-wide
    suffix sort — driver-hostile at 100 TB) with SLIDING ``min_tokens``-
    gram fingerprints: any duplicated run of >= min_tokens tokens
    necessarily contains a duplicated min_tokens-gram at every start
    position inside it, so marking duplicated grams and merging their
    overlapping [start, start+k) token intervals recovers exactly the
    maximal duplicated regions (for regions made of grams duplicated at
    the same multiplicity — the standard industry approximation, e.g.
    SlimPajama / google-research/deduplicate-text-datasets' chunked
    mode).

    Semantics per gram occurrence, matching :func:`span_dedup`: a gram
    is over-represented iff its corpus count > ``max_occurrences``; with
    ``keep='first'`` the globally first occurrence (ordered by
    ``(id, start)``) of an over-represented gram survives, every other
    occurrence is marked for removal; ``keep='none'`` marks them all
    (boilerplate mode). Marked [start, start+min_tokens) intervals are
    unioned per document (:func:`..temporal.merge_intervals` — disjoint
    after merge) and covered tokens cut.

    Returns every input row as ``(id, text, n_tokens_removed)`` — a
    fully-duplicated document comes back with empty text rather than
    disappearing (callers filter), null/short texts come back unchanged.
    Documents with NOTHING removed return their original text verbatim,
    and so does every untouched REGION of a cut document: kept runs of
    tokens carry their original interior whitespace byte-for-byte
    (token/whitespace segment reconstruction — see
    :func:`_cut_marked_grams`); a single space marks the seam where a
    removed region separated two kept runs, and leading/trailing
    whitespace survives iff the first/last token does.

    Plan (3 shuffles, all on constant-width keys): narrow bound-split →
    sliding-gram explode (xxhash64 fingerprints only — the gram text
    never shuffles; 64-bit since r13, collision math at
    :func:`_dedup_spans`); ONE window on fingerprint (count +
    row_number share a single Window operator, same spec trick as
    :func:`_dedup_spans`; a boilerplate gram duplicated millions of
    times lands in one sort task, the trade PLANS.md "Span-dedup skew
    analysis" measures); interval merge = one window on id over
    REMOVAL MARKS ONLY (tiny relative to corpus);
    one doc-keyed broadcast-size join attaching the per-doc interval
    array back to the bound split. Reconstruction is an in-row
    ``F.filter`` over token positions testing membership in the merged
    (disjoint, sorted) intervals — O(tokens x intervals) interpreted,
    dwarfed by the gram shuffle at any scale.

    Reference scope note: the reference engine has no dedup operators;
    beyond-reference LLM-pipeline layer (SURVEY.md §2 extension).
    """
    from .dedup import _parallelize

    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    if max_occurrences < 1:
        raise ValueError(f"max_occurrences must be >= 1, got {max_occurrences}")
    if keep not in ("first", "none"):
        raise ValueError(f"keep must be 'first' or 'none', got {keep!r}")
    k = min_tokens
    for c in ("__words", "__iv", "__orig"):
        if c in df.columns:
            raise ValueError(f"input column {c!r} collides with an internal name")

    bound = _parallelize(df).select(
        F.col(id_col),
        F.col(text_col).alias("__orig"),
        ws_tokens(text_col).alias("__words"),
    )
    grams = _sliding_grams(bound, id_col, k)
    wo = W.partitionBy("__fp").orderBy(F.col(id_col), F.col("start"))
    ranked = grams.select(
        F.col(id_col),
        "start",
        F.count(F.lit(1))
        .over(wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("__n"),
        F.row_number().over(wo).alias("__rn"),
    )
    removed = F.col("__n") > max_occurrences
    if keep == "first":
        removed = removed & (F.col("__rn") > 1)
    marks = ranked.filter(removed).select(id_col, "start")
    return _cut_marked_grams(bound, marks, id_col, k)


def _sliding_grams(bound: DataFrame, id_col: str, k: int) -> DataFrame:
    """Sliding k-gram xxhash64 fingerprints with start positions from a
    (id, __words) frame: ``(id, start, __fp)``. md5 until r13 — see
    :func:`_dedup_spans` for the collision-rate trade; one codegen'd
    long hash per gram replaces a MessageDigest + 32-char hex encode,
    and the window shuffle key drops 32+ bytes → 8.

    Docs shorter than k tokens produce no grams. The >= k guard also
    protects F.sequence(0, n_grams - 1): Spark's sequence DESCENDS when
    start > stop, so an unguarded empty doc would emit [0, -1]. The
    guard is an in-projection when() (the importance.gram_expr shape),
    NOT a doc filter (r12): a `size(__words) >= k` filter gets pushed
    below the projection binding __words, substituting the full
    ws_tokens(text) expression — every document paid the regex split
    twice. posexplode of the when()'s empty-array branch emits nothing,
    which drops short docs identically."""
    guarded = F.when(
        F.size("__words") >= k,
        F.transform(
            F.sequence(F.lit(0), F.size("__words") - k),
            lambda i: F.xxhash64(gram_concat("__words", i, k)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return bound.select(
        F.col(id_col),
        F.posexplode(guarded).alias("start", "__fp"),
    )


def _cut_marked_grams(bound: DataFrame, marks: DataFrame, id_col: str,
                      k: int) -> DataFrame:
    """Shared cut stage of :func:`substring_dedup` and its streaming
    twin: union the marked [start, start+k) gram intervals per document
    and rebuild the text without the covered tokens. ``bound`` is the
    (id, __orig, __words) frame; ``marks`` the (id, start) removal
    marks. Untouched documents (no interval — null ``__iv``) return
    ``__orig`` verbatim.

    Cut documents preserve every untouched REGION verbatim too: the
    original text is split into alternating token/whitespace segments
    (a zero-width lookaround split — no bytes copied until
    reassembly), a kept token is emitted with its ORIGINAL preceding
    whitespace whenever the previous token also survived (so interior
    whitespace, newlines, tabs of an untouched run come back
    byte-for-byte), and a single space marks the seam where a cut
    region separated two kept runs. Leading/trailing whitespace
    survives iff the first/last token does. All in-row higher-order
    expressions — the round-5 documented whitespace-collapse caveat is
    gone without touching the marking plan's single window."""
    from .temporal import merge_intervals

    intervals = merge_intervals(
        marks.select(
            F.col(id_col),
            F.col("start").alias("__lo"),
            (F.col("start") + F.lit(k)).alias("__hi"),
        ),
        on=id_col,
        start_col="__lo",
        end_col="__hi",
    )
    per_doc = intervals.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("__lo", "__hi"))).alias("__iv"),
        F.sum(F.col("__hi") - F.col("__lo")).cast("long").alias("__removed"),
    )
    out = bound.join(per_doc, on=id_col, how="left")
    covered = lambda i: F.exists(  # noqa: E731
        F.col("__iv"), lambda iv: (iv["__lo"] <= i) & (i < iv["__hi"])
    )
    kept = lambda t: ~covered(t)  # noqa: E731
    # chunk the ORIGINAL text as token-plus-its-FOLLOWING-whitespace
    # (regexp_extract_all — Spark's split() deletes zero-width
    # lookaround separators, so a segment split can't carry the ws);
    # the \S+ runs equal __words elementwise (same \s token framing),
    # so chunk t is token t's original bytes through to token t+1.
    out = out.withColumn(
        "__chunks",
        F.regexp_extract_all("__orig", F.lit(r"\S+\s*"), 0),
    )
    n = F.size("__words")
    seq = F.sequence(F.lit(0), n - 1)
    first_kept = F.try_element_at(F.filter(seq, kept), F.lit(1))
    chunk = lambda t: F.element_at(  # noqa: E731
        "__chunks", (t + 1).cast("int"))

    def piece(t):
        # prefix: the run containing the doc START keeps its leading
        # whitespace; later runs open with the single seam space iff a
        # cut region ended just before them
        prefix = F.when(
            t == first_kept,
            F.when(t == 0, F.regexp_extract("__orig", r"^\s*", 0))
            .otherwise(F.lit("")),
        ).otherwise(
            F.when(kept(t - 1), F.lit("")).otherwise(F.lit(" "))
        )
        # body: the chunk's trailing whitespace belongs BETWEEN t and
        # t+1 — verbatim iff t+1 survives too (covered() is false past
        # the last token, so the final token keeps the doc's trailing
        # whitespace); dropped at a cut boundary
        body = F.when(kept(t + 1), chunk(t)).otherwise(
            F.regexp_replace(chunk(t), r"\s+$", "")
        )
        return F.when(kept(t), F.concat(prefix, body)).otherwise(F.lit(""))

    rebuilt = F.array_join(F.transform(seq, piece), "")
    return out.select(
        F.col(id_col),
        F.when(F.col("__iv").isNull(), F.col("__orig"))
        .otherwise(rebuilt)
        .alias("text"),
        F.coalesce(F.col("__removed"), F.lit(0)).cast("long").alias(
            "n_tokens_removed"
        ),
    )


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_tokens: int = 128,
    stride: int | None = None,
) -> DataFrame:
    """Split documents into token-window CHUNKS for embedding/RAG
    pipelines: ``(id, chunk_id, chunk, n_tokens, start_token)``.

    ``stride`` defaults to ``max_tokens`` (non-overlapping — exactly
    :func:`text_spans` plus provenance columns); a smaller stride
    yields overlapping windows (the standard retrieval-chunking trick
    so no answer straddles a boundary unseen). Chunk starts step by
    ``stride``; every chunk except possibly the last has ``max_tokens``
    tokens; trailing starts that would duplicate a full suffix already
    emitted are kept only while they add new tokens (start < n_words).

    Same JVM-only shape as :func:`text_spans`: one bound split, one
    posexplode — no shuffle at all (chunking is embarrassingly
    parallel); provenance (id, chunk_id, start_token) supports joining
    chunk-level results back to documents.
    """
    from .dedup import _parallelize

    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    stride = max_tokens if stride is None else stride
    if not (1 <= stride <= max_tokens):
        raise ValueError(
            f"stride must be in [1, max_tokens], got {stride} (max_tokens={max_tokens})"
        )
    # null/empty documents produce NO chunk rows — without this filter
    # the NULL words array slips through the chunk-count arithmetic
    # (least()/greatest() skip NULL operands) and emits a phantom
    # (chunk=NULL, n_tokens=max_tokens) row that corrupts downstream
    # token accounting
    # ws_tokens framing (empty array for null/empty/whitespace-only
    # text, one regex scan) — filtering on the BOUND array's size both
    # drops those docs and avoids the round-7 extra strip pass; F.trim-
    # based guards let '\n\n' docs through (phantom chunk of 2 empty
    # tokens, review r7). size(null array) is null → filtered.
    bound = _parallelize(df).select(
        F.col(id_col), ws_tokens(text_col).alias("__words")
    ).filter(F.size("__words") > 0)
    n_words = F.size("__words")
    # number of chunk starts: ceil(max(n_words - max_tokens, 0) / stride) + 1
    n_chunks = (
        F.ceil(F.greatest(n_words - max_tokens, F.lit(0)) / F.lit(stride)).cast("int")
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            (i * stride).alias("start"),
            F.array_join(
                F.slice("__words", i * stride + 1, max_tokens), " "
            ).alias("chunk"),
            F.least(n_words - i * stride, F.lit(max_tokens)).alias("n"),
        ),
    )
    return bound.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "c")
    ).select(
        F.col(id_col),
        "chunk_id",
        F.col("c.chunk").alias("chunk"),
        F.col("c.n").cast("long").alias("n_tokens"),
        F.col("c.start").cast("long").alias("start_token"),
    )
