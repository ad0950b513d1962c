"""DSIR-style importance sampling (kafi_spark.functions.importance)."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from kafi_spark.functions import importance as imp
from tools.plans import formatted_plan


@pytest.fixture(scope="module")
def corpora(spark):
    raw_rows = [
        (i, "spark shuffle partition join query plan catalyst stage task executor")
        for i in range(50)
    ]
    raw_rows += [
        (100 + i, "flour butter sugar oven bake whisk dough cream salt recipe")
        for i in range(50)
    ]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(
        [(0, "spark query plan shuffle executor stage"),
         (1, "catalyst join partition task")],
        "doc_id long, text string")
    return raw, tgt


def test_hashed_ngram_features_counts(spark):
    df = spark.createDataFrame([(1, "a b a")], "doc_id long, text string")
    feats = imp.hashed_ngram_features(df, n_buckets=1 << 20, ns=(1, 2))
    # grams: a, b, a, "a b", "b a" -> 'a' twice, others once
    counts = sorted(r.cnt for r in feats.collect())
    assert counts == [1, 1, 1, 2]
    assert feats.agg(F.sum("cnt")).first()[0] == 5


def test_bucket_non_nullable_kills_inferred_md5_filters(spark):
    """r12: `bucket` is declared non-nullable (coalesce wrapper — gram
    is non-null by construction, so values are untouched) so joins on
    bucket stop inferring `isnotnull(<md5 chain>)` filters that
    re-evaluated the per-gram hash a second time per occurrence. Pin
    both facts: the schema says non-nullable, and a join on bucket
    plans no md5-bearing Filter condition."""
    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b c d e")], "doc_id long, text string")
    feats = imp.hashed_ngram_features(df, n_buckets=100, ns=(1, 2))
    assert not feats.schema["bucket"].nullable
    ratios = spark.range(100).select(
        F.col("id").cast("int").alias("bucket"),
        F.lit(0.5).alias("prob"))
    joined = feats.join(F.broadcast(ratios), "bucket")
    bad = [ln for ln in formatted_plan(joined).splitlines()
           if "Condition" in ln and "md5" in ln]
    assert not bad, f"inferred not-null filter re-hashes grams: {bad}"
    # and the counts are the plain-expression counts (coalesce inert)
    counts = sorted(r.cnt for r in feats.collect())
    assert sum(counts) == 4 + 3 + 4 + 3  # unigrams + bigrams per doc


def test_under_width_grams_emit_nothing(spark):
    """Documents shorter than n words emit ZERO n-grams for that n
    (round-8 fix: the earlier greatest() floor emitted one under-width
    gram, so a 1-word doc's word counted twice under ns=(1, 2))."""
    df = spark.createDataFrame(
        [(1, "solo"), (2, "two words"), (3, "a b c"), (4, "   ")],
        "doc_id long, text string")
    feats = imp.hashed_ngram_features(df, n_buckets=1 << 20, ns=(1, 2))
    per_doc = {r.doc_id: r.total for r in
               feats.groupBy("doc_id")
                    .agg(F.sum("cnt").alias("total")).collect()}
    # doc1: 1 unigram + 0 bigrams; doc2: 2 + 1; doc3: 3 + 2;
    # doc4 (whitespace-only): no tokens at all -> absent from features
    assert per_doc == {1: 1, 2: 3, 3: 5}


def test_bucket_distribution_sums_to_one(spark):
    df = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    feats = imp.hashed_ngram_features(df, n_buckets=64, ns=(1,))
    dist = imp.bucket_distribution(feats, 64)
    assert dist.count() == 64
    assert dist.agg(F.sum("prob")).first()[0] == pytest.approx(1.0)
    # laplace floor: every bucket strictly positive
    assert dist.filter(F.col("prob") <= 0).count() == 0


def test_weights_separate_domains(corpora):
    raw, tgt = corpora
    w = imp.importance_weights(raw, tgt, n_buckets=2048)
    rows = {r.doc_id: r.log_weight for r in w.collect()}
    sp = [v for k, v in rows.items() if k < 100]
    ck = [v for k, v in rows.items() if k >= 100]
    # every target-like doc outweighs every off-domain doc
    assert min(sp) > max(ck)


def test_sample_prefers_target_domain_and_is_deterministic(corpora):
    raw, tgt = corpora
    w = imp.importance_weights(raw, tgt, n_buckets=2048)
    sel = imp.importance_sample(raw, w, k=30, seed=1)
    ids = sorted(r.doc_id for r in sel.collect())
    assert len(ids) == 30
    # the ~7.6-nat weight gap makes off-domain picks vanishingly rare
    assert all(i < 100 for i in ids)
    ids2 = sorted(r.doc_id for r in imp.importance_sample(raw, w, k=30, seed=1).collect())
    assert ids == ids2
    # another seed is equally deterministic (and, with 50 candidate docs
    # for 30 slots, virtually certain to pick a different subset)
    ids3 = sorted(r.doc_id for r in imp.importance_sample(raw, w, k=30, seed=2).collect())
    ids4 = sorted(r.doc_id for r in imp.importance_sample(raw, w, k=30, seed=2).collect())
    assert ids3 == ids4
    assert ids3 != ids


def test_high_temperature_flattens_selection(corpora):
    raw, tgt = corpora
    w = imp.importance_weights(raw, tgt, n_buckets=2048)
    sel = imp.importance_sample(raw, w, k=40, seed=3, temperature=1e6)
    n_off = sum(1 for r in sel.collect() if r.doc_id >= 100)
    # near-uniform sampling: expect a healthy share of off-domain docs
    assert n_off >= 8


def test_validation(corpora):
    raw, tgt = corpora
    with pytest.raises(ValueError):
        imp.hashed_ngram_features(raw, n_buckets=0)
    with pytest.raises(ValueError):
        imp.hashed_ngram_features(raw, ns=())
    with pytest.raises(ValueError):
        imp.importance_sample(raw, raw.select("doc_id"), k=0)


def test_weights_match_duckdb_oracle(spark, sf_dir):
    """Full differential on the real documents table: raw = all docs,
    target = the first 50, unigram features (the bigram path is covered
    by the hand-count test; unigrams keep the oracle readable)."""
    B = 4096
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tgt = df.filter("doc_id < 50")
    got = {r.doc_id: r.log_weight
           for r in imp.importance_weights(df, tgt, n_buckets=B, ns=(1,)).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = {r[0]: r[1] for r in con.sql(f"""
        WITH grams AS (
          SELECT doc_id,
                 CAST(('0x'||substring(md5(u.g),1,15))::BIGINT % {B} AS INT) AS bucket
          FROM documents, UNNEST(regexp_extract_all(text, '\\S+')) AS u(g)),
        feats AS (SELECT doc_id, bucket, COUNT(*) AS cnt
                  FROM grams GROUP BY doc_id, bucket),
        raw_c AS (SELECT bucket, SUM(cnt) AS c FROM feats GROUP BY bucket),
        tgt_c AS (SELECT bucket, SUM(cnt) AS c FROM feats
                  WHERE doc_id < 50 GROUP BY bucket),
        raw_t AS (SELECT SUM(cnt) + {B} AS t FROM feats),
        tgt_t AS (SELECT SUM(cnt) + {B} AS t FROM feats WHERE doc_id < 50),
        ratios AS (
          SELECT b.range AS bucket,
                 ln((COALESCE(tc.c, 0) + 1) / (SELECT t FROM tgt_t))
               - ln((COALESCE(rc.c, 0) + 1) / (SELECT t FROM raw_t)) AS lr
          FROM range({B}) b
          LEFT JOIN raw_c rc ON rc.bucket = b.range
          LEFT JOIN tgt_c tc ON tc.bucket = b.range)
        SELECT f.doc_id, SUM(f.cnt * r.lr)
        FROM feats f JOIN ratios r ON r.bucket = f.bucket
        GROUP BY f.doc_id
    """).fetchall()}
    assert set(got) == set(want)
    for d in got:
        assert got[d] == pytest.approx(want[d], rel=1e-9), d


def test_weights_match_duckdb_oracle_bigrams(spark, sf_dir):
    """ns=(1, 2) differential on the real documents table — locks the
    round-8 gram convention END-TO-END: a document shorter than n words
    contributes zero n-grams for that n (the oracle's CASE guard), and
    the combined unigram+bigram feature stream produces bit-compatible
    DSIR weights."""
    B = 4096
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tgt = df.filter("doc_id < 50")
    got = {r.doc_id: r.log_weight
           for r in imp.importance_weights(
               df, tgt, n_buckets=B, ns=(1, 2)).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = {r[0]: r[1] for r in con.sql(f"""
        WITH ws AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w
                    FROM documents),
        g AS (
          SELECT doc_id, u.g FROM ws, UNNEST(w) AS u(g)
          UNION ALL
          SELECT doc_id, u.g FROM ws, UNNEST(
            CASE WHEN len(w) >= 2
                 THEN list_transform(range(0, len(w) - 1),
                                     i -> array_to_string(w[i+1:i+2], ' '))
                 ELSE [] END) AS u(g)),
        grams AS (
          SELECT doc_id,
                 CAST(('0x'||substring(md5(g),1,15))::BIGINT % {B} AS INT) AS bucket
          FROM g),
        feats AS (SELECT doc_id, bucket, COUNT(*) AS cnt
                  FROM grams GROUP BY doc_id, bucket),
        raw_c AS (SELECT bucket, SUM(cnt) AS c FROM feats GROUP BY bucket),
        tgt_c AS (SELECT bucket, SUM(cnt) AS c FROM feats
                  WHERE doc_id < 50 GROUP BY bucket),
        raw_t AS (SELECT SUM(cnt) + {B} AS t FROM feats),
        tgt_t AS (SELECT SUM(cnt) + {B} AS t FROM feats WHERE doc_id < 50),
        ratios AS (
          SELECT b.range AS bucket,
                 ln((COALESCE(tc.c, 0) + 1) / (SELECT t FROM tgt_t))
               - ln((COALESCE(rc.c, 0) + 1) / (SELECT t FROM raw_t)) AS lr
          FROM range({B}) b
          LEFT JOIN raw_c rc ON rc.bucket = b.range
          LEFT JOIN tgt_c tc ON tc.bucket = b.range)
        SELECT f.doc_id, SUM(f.cnt * r.lr)
        FROM feats f JOIN ratios r ON r.bucket = f.bucket
        GROUP BY f.doc_id
    """).fetchall()}
    assert set(got) == set(want)
    for d in got:
        assert got[d] == pytest.approx(want[d], rel=1e-9), d


def test_lm_quality_score_separates_reference_like_text(spark):
    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)],
        "doc_id long, text string")
    mixed = spark.createDataFrame(
        [(1, "the quick brown fox"),          # reference-like
         (2, "zxqv wvut qqqq plmk")],         # out-of-model gibberish
        "doc_id long, text string")
    got = {r.doc_id: r.lm_score
           for r in imp.lm_quality_score(mixed, ref, n_buckets=4096).collect()}
    assert got[1] > got[2]
    # mean-normalized: score of doc 1 equals the mean ref-token logprob
    assert got[1] < 0


def test_lm_quality_score_matches_duckdb_oracle(spark, sf_dir):
    B = 4096
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ref = df.filter("doc_id < 100")
    got = {r.doc_id: r.lm_score
           for r in imp.lm_quality_score(df, ref, n_buckets=B).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = {r[0]: r[1] for r in con.sql(f"""
        WITH grams AS (
          SELECT doc_id,
                 CAST(('0x'||substring(md5(u.g),1,15))::BIGINT % {B} AS INT) AS bucket
          FROM documents, UNNEST(regexp_extract_all(text, '\\S+')) AS u(g)),
        feats AS (SELECT doc_id, bucket, COUNT(*) AS cnt
                  FROM grams GROUP BY doc_id, bucket),
        ref_c AS (SELECT bucket, SUM(cnt) AS c FROM feats
                  WHERE doc_id < 100 GROUP BY bucket),
        ref_t AS (SELECT SUM(cnt) + {B} AS t FROM feats WHERE doc_id < 100),
        p AS (SELECT b.range AS bucket,
                     (COALESCE(rc.c, 0) + 1) / (SELECT t FROM ref_t) AS prob
              FROM range({B}) b LEFT JOIN ref_c rc ON rc.bucket = b.range)
        SELECT f.doc_id, SUM(f.cnt * ln(p.prob)) / SUM(f.cnt)
        FROM feats f JOIN p ON p.bucket = f.bucket
        GROUP BY f.doc_id
    """).fetchall()}
    assert set(got) == set(want)
    for d in got:
        assert got[d] == pytest.approx(want[d], rel=1e-9), d


# ---------------------------------------------------------------- buckets


@pytest.fixture(scope="module")
def bucketed_corpus(spark):
    """Two 'languages': lang a draws from a clean vocab its reference
    also uses (with a graded amount of off-model junk so scores spread);
    lang b is a separate vocabulary with its own reference."""
    va = "the quick brown fox jumps over lazy dog".split()
    vb = "der schnelle braune fuchs springt hund katze haus".split()

    def doc(vocab, i, junk):
        words = [vocab[(i * 7 + j) % len(vocab)] for j in range(12)]
        words += [f"zzq{i}x{j}" for j in range(junk)]
        return " ".join(words)

    rows = [(i, "a", doc(va, i, junk=i % 10)) for i in range(120)]
    rows += [(1000 + i, "b", doc(vb, i, junk=i % 10)) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    ref = spark.createDataFrame(
        [(i, "a", " ".join(va)) for i in range(10)]
        + [(100 + i, "b", " ".join(vb)) for i in range(10)],
        "doc_id long, lang string, text string")
    return df, ref


def test_perplexity_buckets_band_order_and_proportions(spark, bucketed_corpus):
    df, ref = bucketed_corpus
    out = imp.perplexity_buckets(df, ref, n_buckets=4096).collect()
    assert len(out) == df.count()
    by_band = {}
    for r in out:
        by_band.setdefault(r.ppl_bucket, []).append(r.lm_score)
    assert set(by_band) == {"head", "middle", "tail"}
    # bands are ordered by score: every head score >= every tail score
    assert min(by_band["head"]) >= max(by_band["tail"])
    assert min(by_band["head"]) >= min(by_band["middle"]) 
    # default thirds: no band grabs everything
    for band, scores in by_band.items():
        assert 20 <= len(scores) <= 160, (band, len(scores))


def test_perplexity_buckets_per_language_cuts(spark, bucketed_corpus):
    df, ref = bucketed_corpus
    out = imp.perplexity_buckets(df, ref, by="lang", n_buckets=4096)
    # each language gets its own head band (global cuts would let one
    # language's fluency dominate)
    heads = out.filter("ppl_bucket = 'head'").groupBy("lang").count().collect()
    assert {r.lang for r in heads} == {"a", "b"}
    for r in heads:
        assert r["count"] >= 20
    # schema: original columns + score + band
    assert out.columns == ["doc_id", "lang", "text", "lm_score", "ppl_bucket"]


def test_perplexity_buckets_null_text_and_validation(spark, bucketed_corpus):
    df, ref = bucketed_corpus
    extra = df.limit(5).unionByName(spark.createDataFrame(
        [(9999, "a", None)], "doc_id long, lang string, text string"))
    rows = {r.doc_id: r for r in
            imp.perplexity_buckets(extra, ref, n_buckets=4096).collect()}
    assert rows[9999].lm_score is None and rows[9999].ppl_bucket is None
    with pytest.raises(ValueError):
        imp.perplexity_buckets(df, ref, cuts=(0.5,), labels=("a", "b", "c"))
    with pytest.raises(ValueError):
        imp.perplexity_buckets(df, ref, cuts=(0.7, 0.3), labels=("a", "b", "c"))


def test_perplexity_buckets_null_group_value(spark, bucketed_corpus):
    """A row whose `by` value is null never joins a cuts row — it must
    band NULL, not fall through the CASE chain to 'head'."""
    df, ref = bucketed_corpus
    worst = spark.createDataFrame(
        [(7777, None, "zzqq wwxx vvkk ppll mmnn zzqq wwxx vvkk")],
        "doc_id long, lang string, text string")
    out = {r.doc_id: r for r in imp.perplexity_buckets(
        df.unionByName(worst), ref, by="lang", n_buckets=4096).collect()}
    assert out[7777].ppl_bucket is None
    assert out[7777].lm_score is not None      # scored, just unbandable
