"""Scale probe: operators at ~100× the unit-test corpus, generated
entirely executor-side (spark.range + column expressions — no driver
data, no collect of inputs). Not a benchmark — a correctness-shaped
check that the plans hold up when the data is 50k documents instead of
500: counts come back exact, dedup math stays consistent, and nothing
driver-side blows up. Runtime is bounded to keep the suite fast."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def big_corpus(spark):
    """50k documents: ~16 words each from a 50-word vocabulary, with a
    planted EXACT-duplicate cohort (every 100th doc repeats doc 0's
    text) — generated as pure column expressions."""
    n = 50_000
    words = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(50))
        ),
    )
    base = spark.range(n).select(
        F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
    )
    dup_text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: F.concat(
                F.lit("w"), F.pmod(F.xxhash64(F.lit(0).cast("long"), i), F.lit(50))
            ),
        ),
        " ",
    )
    return base.select(
        "doc_id",
        F.when(F.col("doc_id") % 100 == 0, dup_text).otherwise(F.col("text"))
        .alias("text"),
    )


def test_exact_dedup_at_50k(big_corpus):
    from kafi_spark.functions.dedup import dedup_exact

    out = dedup_exact(big_corpus, "text", "doc_id")
    stats = out.agg(
        F.count(F.lit(1)).alias("groups"),
        F.sum("n_copies").alias("total"),
        F.max("n_copies").alias("biggest"),
    ).first()
    assert stats.total == 50_000
    # the planted cohort: 500 copies of doc 0's text collapse to one
    assert stats.biggest >= 500
    keeper = out.orderBy(F.col("n_copies").desc()).first()
    assert keeper.doc_id == 0


def test_span_dedup_at_50k(big_corpus):
    from kafi_spark.functions.spans import span_dedup

    out = span_dedup(big_corpus, span_tokens=8, keep="first")
    # survivors never exceed input docs; the duplicate cohort's spans
    # survive only in their first occurrence
    n = out.count()
    assert 0 < n <= 50_000
    # reassembled text of the planted keeper retains both its spans
    k = out.filter("doc_id = 0").first()
    assert k is not None and k.n_spans_kept == 2


def test_bloom_at_50k(spark, big_corpus):
    from kafi_spark.functions.bloom import bloom_build, bloom_new, bloom_params

    m, k = bloom_params(25_000, 0.001)
    hist = big_corpus.filter("doc_id % 2 = 0").select("text")
    batch = big_corpus.filter("doc_id % 2 = 1")
    filt = bloom_build(hist, "text", m, k)
    survivors = bloom_new(batch, filt, "text", m, k).count()
    # odd ids are distinct from even-id texts except hash luck: nearly
    # all pass; the 0.1% FP budget bounds the loss
    assert survivors >= 24_000


def _shuffle_delta(spark, action):
    """Shuffle-write bytes of one action, from the AppStatusStore
    (bench.py's deterministic plan metric) — the probe's bound is on
    DATA MOVED, not wall time."""
    from bench import _shuffle_bytes_total

    pre = _shuffle_bytes_total(spark)
    result = action()
    post = _shuffle_bytes_total(spark)
    if pre is None or post is None:
        return result, None  # metrics unavailable — bound check skipped
    return result, post - pre


@pytest.fixture(scope="module")
def skewed_corpus(spark):
    """50k documents with ONE HOT near-dup cluster: every 100th doc
    (500 docs) repeats doc 0's 16 words except one per-doc unique word
    (Jaccard ≈ 0.88 to the anchor) — the skew shape a uniform sf0.1
    corpus never exercises, where every LSH band bucket for the hot
    signature collects the whole cohort."""
    n = 50_000
    words = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(50))
        ),
    )
    anchor_words = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.lit(0).cast("long"), i), F.lit(50))
        ),
    )
    hot = F.concat(
        F.array_join(F.slice(anchor_words, 1, 15), " "),
        F.lit(" u"), F.col("id").cast("string"),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 100 == 0, hot)
        .otherwise(F.array_join(words, " ")).alias("text"),
    )


def test_minhash_lsh_bounded_under_hot_cluster(spark, skewed_corpus):
    """The max_bucket guard must keep the hot cluster's candidate
    fan-out (and therefore the shuffle) bounded: C(max_bucket, 2) pairs
    per band bucket instead of C(500, 2), while still surfacing plenty
    of true near-dup pairs for the keep policy to act on."""
    from kafi_spark.functions.dedup import minhash_lsh_pairs

    pairs, moved = _shuffle_delta(spark, lambda: (
        minhash_lsh_pairs(
            skewed_corpus, "text", "doc_id",
            k=3, num_hashes=32, bands=8, threshold=0.5, max_bucket=100,
        )
        .filter((F.col("id_1") % 100 == 0) & (F.col("id_2") % 100 == 0))
        .count()
    ))
    # truncated buckets still yield thousands of true hot pairs
    assert pairs >= 1_000
    # bound on data moved: signatures + bounded buckets + verification,
    # far under what untruncated C(500,2)×8-band fan-out would shuffle
    if moved is not None:
        assert moved < 300 * 1024 * 1024


@pytest.fixture(scope="module")
def skewed_embeddings(spark):
    """50k 8-dim vectors with one hot semantic cluster: every 100th
    vector is the anchor plus a ~1e-3 perturbation (cosine ≈ 1), the
    rest quasi-random — the one-hot-cell shape for semantic dedup."""
    base = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: (
            (F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000)) / 1000.0)
            - 0.5
        ).cast("float"),
    )
    anchor = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: (
            (F.pmod(F.xxhash64(F.lit(0).cast("long"), i), F.lit(1000))
             / 1000.0) - 0.5
            + (F.pmod(F.xxhash64(F.col("id"), i), F.lit(100)) / 100_000.0)
        ).cast("float"),
    )
    return spark.range(50_000).select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") % 100 == 0, anchor).otherwise(base)
        .alias("embedding"),
    )


def test_semantic_dedup_bounded_under_hot_cell(spark, skewed_embeddings):
    """The hot cluster lands in ONE k-means cell; within-cell exact
    pairs must recover ~all planted duplicates while the blocked matmul
    keeps shuffle bounded (Σ cluster²·d FLOPs spread over B² tasks, the
    corpus itself never shuffled as a self-join)."""
    from kafi_spark.functions.similarity import semantic_dedup_pairs

    hot_pairs, moved = _shuffle_delta(spark, lambda: (
        semantic_dedup_pairs(
            skewed_embeddings, threshold=0.99, n_clusters=8,
        )
        .filter((F.col("id_1") % 100 == 0) & (F.col("id_2") % 100 == 0))
        .count()
    ))
    expect = 500 * 499 // 2
    assert hot_pairs >= int(0.9 * expect)
    if moved is not None:
        assert moved < 300 * 1024 * 1024


def test_substring_dedup_at_50k_hot_gram(spark, big_corpus):
    """substring_dedup on 50k docs where every doc ends with the SAME
    8-token boilerplate suffix — a hot fingerprint that lands all its
    occurrences in one window partition. Every document must shed at
    least the 8 boilerplate tokens (except the global first occurrence),
    and the shuffle stays proportional to the corpus (marks + grams),
    not to hot-gram-count squared."""
    from kafi_spark.functions.spans import substring_dedup

    boiler = "b0 b1 b2 b3 b4 b5 b6 b7"
    docs = big_corpus.filter(F.col("doc_id") % 100 != 0).select(
        "doc_id", F.concat_ws(" ", "text", F.lit(boiler)).alias("text")
    )
    out, moved = _shuffle_delta(spark, lambda: (
        substring_dedup(docs, min_tokens=8)
        .agg(F.sum("n_tokens_removed").alias("gone"),
             F.count(F.lit(1)).alias("docs"))
        .first()
    ))
    n_docs = 49_500
    assert out.docs == n_docs
    # every doc loses >= the 8 boilerplate tokens except the keeper;
    # random 16-word bodies from a 50-word vocab collide too, so >= is
    # the exact-floor assertion
    assert out.gone >= 8 * (n_docs - 1)
    if moved is not None:
        # grams ≈ 17/doc × ~45 B fingerprint rows; marks ≈ grams.
        # A quadratic hot-gram blow-up would be GBs; bound at ~12×
        # the linear estimate.
        assert moved < 500_000_000


def test_theta_retention_shuffle_carries_sketches_not_keys(spark):
    """500k events / 10k users / 30 days: the daily theta build +
    retention join must move SKETCHES (≤ 8·2^lgk bytes per partition ×
    bucket), never user ids — the property that makes the state table
    KiB-sized while raw events are TB-sized at 100 TB. Totals stay
    exact (exact-mode sketches) so the probe is correctness-shaped,
    not just a byte bound."""
    from kafi_spark.functions.sketches import (
        sketch_retention, theta_over_time)

    n, users, days = 500_000, 10_000, 30
    events = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(users)).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000)
            + (F.col("id") % days) * 86_400
        ).alias("ts"),
    )
    def run():
        daily = theta_over_time(
            events, "user_id", "ts", grain="day", lgk=14
        ).localCheckpoint()
        return sketch_retention(daily).agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("retained").alias("min_ret"),
            F.max("active").alias("max_act"),
        ).first()

    stats, moved = _shuffle_delta(spark, run)
    assert stats.rows == days - 1
    # id % days stripes every user over every day ⇒ full retention
    assert stats.max_act <= users
    if moved is not None:
        # 30 buckets × 32 partitions × ≤128 KiB/sketch ≈ ≤ 120 MB hard
        # ceiling; actual is far less (exact-mode sketches are n·8 B).
        # 500k raw (user_id, ts) rows would be ~8 MB ALONE if shuffled —
        # the bound proves only per-partition partial sketches moved.
        assert moved < 120 * 1024 * 1024
