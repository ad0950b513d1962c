"""Trainable quality classifier (kafi_spark.functions.quality)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kafi_spark.functions import quality as Q


def _corpora(spark, n=300, seed=7):
    """Separable synthetic classes: 'curated' docs draw from a clean
    vocabulary with connectives; 'crawl' docs are keyboard-mash token
    soup. Deterministic via xxhash64(id, seed)."""
    clean_vocab = ("the quick brown fox jumps over lazy dog science "
                   "history method result evidence chapter").split()
    junk_vocab = ("zxqv kpwj mmnb qqrt wvxz jjkl pzzt xkcd vvbn "
                  "hjkl asdf qwer").split()

    def corpus(vocab, tag):
        arr = F.array(*[F.lit(w) for w in vocab])
        words = F.transform(
            F.sequence(F.lit(0), F.lit(19)),
            lambda i: arr[
                F.pmod(F.xxhash64(F.col("id"), i, F.lit(tag)),
                       F.lit(len(vocab))).cast("int")
            ],
        )
        return spark.range(n).select(
            (F.col("id") + (0 if tag == 1 else 10_000)).alias("doc_id"),
            F.array_join(words, " ").alias("text"),
        )

    return corpus(clean_vocab, 1), corpus(junk_vocab, 2)


@pytest.fixture(scope="module")
def fitted(spark):
    pos, neg = _corpora(spark)
    model = Q.quality_fit(pos, neg, max_iter=20)
    return model, pos, neg


def test_separates_classes(spark, fitted):
    model, pos, neg = fitted
    p = Q.quality_score(model, pos).agg(
        F.avg("quality_prob")).first()[0]
    q = Q.quality_score(model, neg).agg(
        F.avg("quality_prob")).first()[0]
    assert p > 0.9 and q < 0.1


def test_keep_filters_and_preserves_schema(spark, fitted):
    model, pos, neg = fitted
    mixed = pos.limit(50).unionByName(neg.limit(50))
    kept = Q.quality_keep(model, mixed, threshold=0.5)
    assert kept.columns == mixed.columns
    ids = [r["doc_id"] for r in kept.collect()]
    assert all(i < 10_000 for i in ids)       # only curated survives
    assert len(ids) >= 45                     # ~all of them


def test_null_and_empty_text_score_null(spark, fitted):
    model, _, _ = fitted
    df = spark.createDataFrame(
        [(1, "the quick brown fox history"), (2, None), (3, "  ")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in Q.quality_score(model, df).collect()}
    assert rows[1]["quality_prob"] is not None
    assert rows[2]["quality_prob"] is None
    assert rows[3]["quality_prob"] is None
    assert rows[2]["text"] is None            # original text restored
    # and the conservative keep policy drops them
    assert Q.quality_keep(model, df).count() == 1


def test_save_load_roundtrip(spark, fitted, tmp_path):
    model, pos, _ = fitted
    path = str(tmp_path / "qmodel")
    model.write().overwrite().save(path)
    back = Q.quality_load(path)
    a = Q.quality_score(model, pos.limit(20)).select(
        "doc_id", F.round("quality_prob", 6).alias("p")).collect()
    b = Q.quality_score(back, pos.limit(20)).select(
        "doc_id", F.round("quality_prob", 6).alias("p")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_train_partitions_from_stats(spark):
    """r12: the train-partition count derives from the sample's size
    statistics and is recorded in kafi_fit_stats."""
    from pyspark.sql import functions as F

    from kafi_spark.functions import quality as Q

    pos = spark.range(40).select(
        F.concat(F.lit("the quick brown fox jumps over the lazy dog "),
                 F.col("id").cast("string")).alias("text"))
    neg = spark.range(40).select(
        F.concat(F.lit("zzz qqq xxx vvv kkk jjj www uuu ttt "),
                 F.col("id").cast("string")).alias("text"))
    model = Q.quality_fit(pos, neg, max_iter=3)
    assert model.kafi_fit_stats["train_partitions"] >= 1
