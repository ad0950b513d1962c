"""Dedup operators on a corpus with planted exact and near duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafi_spark.functions import dedup
from tests.conftest import rows
from tools.plans import formatted_plan

BASE = "the quick brown fox jumps over the lazy dog and runs far away today"
NEAR = "the quick brown fox jumps over the lazy dog and runs far away tonight"
OTHER = "completely different content about spark query engines and parquet files"


@pytest.fixture(scope="module")
def docs(spark):
    data = [
        (1, BASE),
        (2, BASE),          # exact dup of 1
        (3, NEAR),          # near dup of 1 (one word differs)
        (4, OTHER),
        (5, "tiny"),
    ]
    return spark.createDataFrame(data, "doc_id long, text string")


def test_dedup_exact(docs):
    out = dedup.dedup_exact(docs, "text", "doc_id")
    got = {r.doc_id: r.n_copies for r in out.collect()}
    assert got == {1: 2, 3: 1, 4: 1, 5: 1}


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    out = rows(dedup.shingles(df, "text", "doc_id", k=3), "shingle")
    assert out == [("a b c",), ("b c d",)]


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5)
    got = {(r.id_1, r.id_2) for r in pairs.collect()}
    assert (1, 2) in got      # identical -> jaccard 1.0
    assert (1, 3) in got and (2, 3) in got
    assert all(4 not in p and 5 not in p for p in got)


def test_minhash_identical_signatures(docs):
    sig = dedup.minhash_signatures(docs, "text", "doc_id", num_hashes=16)
    r = {x["doc_id"]: [x[f"mh_{i}"] for i in range(16)] for x in sig.collect()}
    assert r[1] == r[2]          # identical docs -> identical signatures
    assert r[1] != r[4]
    # near-dup shares most minima
    shared = sum(a == b for a, b in zip(r[1], r[3]))
    assert shared >= 10


def test_minhash_lsh_pairs(docs):
    pairs = dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=32, bands=8, threshold=0.5
    )
    got = {(r.id_1, r.id_2): r.jaccard for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got


def test_simhash_near_dup_small_hamming(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "text", "doc_id").collect()}
    assert sh[1] == sh[2]
    ham = bin((sh[1] ^ sh[3]) & ((1 << 64) - 1)).count("1")
    assert ham <= 16
    ham_other = bin((sh[1] ^ sh[4]) & ((1 << 64) - 1)).count("1")
    assert ham_other > ham


def test_simhash_pairs(docs):
    pairs = dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=16)
    got = {(r.id_1, r.id_2) for r in pairs.collect()}
    assert (1, 2) in got


def test_tokenize_runs_once_no_split_in_filter_conditions(docs):
    """r12: the zero-token guards of the gram/span family must not plan
    as doc filters over the bound words array — Catalyst pushes those
    below the binding projection, substituting the full ws_tokens
    split, so every document pays the regex tokenize TWICE (the same
    two-scan class the round-8 ws_tokens rework removed). Pin: no
    Filter condition in these plans contains a split(). Covers the
    shingles post-explode guard, _sliding_grams' when() guard, and
    text_lines' inline-generator shape (a bound generator attribute
    gets an inferred size>0 filter; a complex child does not)."""
    from kafi_spark.functions.spans import (
        boilerplate_filter, span_dedup, substring_dedup)

    frames = {
        "shingles": dedup.shingles(docs, "text", "doc_id", 3),
        "substring": substring_dedup(docs, "text", "doc_id", min_tokens=2),
        "span_dedup": span_dedup(docs, "text", "doc_id", span_tokens=2),
        "boiler": boilerplate_filter(docs, "text", "doc_id", sep=" "),
    }
    for name, frame in frames.items():
        bad = [ln.strip()[:120] for ln in formatted_plan(frame).splitlines()
               if ln.strip().startswith("Condition") and "split(" in ln]
        assert not bad, f"{name} re-tokenizes in a filter: {bad}"


def test_shingles_zero_token_guard_equivalence(spark):
    """The post-explode '' guard drops exactly what the old doc-level
    size(__words) > 0 filter dropped: null/empty/whitespace-only docs
    emit nothing; 1-token docs still emit their full text."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, " \n\t "), (4, "one"), (5, "a b c d")],
        "doc_id long, text string")
    got = sorted((r.doc_id, r.shingle)
                 for r in dedup.shingles(df, "text", "doc_id", 3).collect())
    assert got == [(4, "one"), (5, "a b c"), (5, "b c d")]


def test_verify_jaccard_stays_out_of_join_condition(docs):
    """r12 (guide §4.4 analog): the jaccard threshold must be a Filter
    over the MATERIALIZED jaccard column, not a join-condition residual
    — pushed into the join, the array_intersect runs interpreted and is
    evaluated 2–4× per candidate (measured −40% verify-stage CPU after
    pinning it out). Pin the plan shape for BOTH verify paths: no
    array_intersect inside any 'Join condition', and the _fence column
    that blocks the pushdown survives optimization (if a future Spark
    version prunes it, the condition reappears in the join and this
    fails)."""
    plans = {
        "capped": formatted_plan(dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5, max_df=100)),
        "minhash": formatted_plan(dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", threshold=0.5)),
    }
    for name, plan in plans.items():
        bad = [ln for ln in plan.splitlines()
               if "Join condition" in ln and "array_intersect" in ln]
        assert not bad, f"{name}: jaccard pushed into join condition: {bad}"
        assert "__fence" in plan, f"{name}: pushdown fence was optimized away"
    # and the fence must not change results: pairs equal a plain
    # re-filter of the scored frame at threshold 0 (superset) — the
    # planted exact dup (1, 2) verifies at jaccard 1.0 through the
    # materialized-filter path
    got = {(r.id_1, r.id_2): r.jaccard
           for r in dedup.ngram_jaccard_pairs(
               docs, "text", "doc_id", threshold=0.5, max_df=100).collect()}
    assert got[(1, 2)] == 1.0


@pytest.mark.parametrize("hasher", ["xxhash64", "portable"])
def test_simhash_distinct_token_counts_match_per_occurrence(spark, hasher):
    """r12: simhash aggregates (doc, token-hash) -> count BEFORE the
    64-bit explode (sign-sums are linear in occurrences). Pin the
    algebra against a per-occurrence reference plan on a corpus whose
    bits are DECIDED by token multiplicity: ignoring counts (distinct
    tokens at ±1) would flip every bit where the 3x token outvotes the
    two 1x tokens."""
    from kafi_spark.functions.text import ws_tokens

    df = spark.createDataFrame(
        [(1, "dup dup dup one two"), (2, "dup one two"), (3, "solo")],
        "doc_id long, text string",
    )

    # per-occurrence reference: the pre-r12 shape (explode every token
    # occurrence, ±1 per (occurrence, bit))
    tokens = df.select(F.col("doc_id"), F.explode(ws_tokens("text")).alias("tok"))
    bits = F.lit(list(range(64)))
    if hasher == "xxhash64":
        hashed = tokens.withColumn("hv", F.xxhash64("tok"))
        bit_expr = F.expr("shiftright(hv, b) & 1")
        carry = ["hv"]
    else:
        hashed = tokens.select(F.col("doc_id"), F.md5("tok").alias("h")).select(
            F.col("doc_id"),
            F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("w1"),
            F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("w2"),
        )
        bit_expr = F.expr(
            "CASE WHEN b < 32 THEN shiftright(w1, 31 - b)"
            " ELSE shiftright(w2, 63 - b) END & 1"
        )
        carry = ["w1", "w2"]
    contrib = hashed.select(F.col("doc_id"), *carry, F.explode(bits).alias("b")).select(
        F.col("doc_id"), "b",
        F.when(bit_expr.cast("long") == 1, F.lit(1)).otherwise(F.lit(-1)).alias("c"),
    )
    ref = (
        contrib.groupBy("doc_id", "b").agg(F.sum("c").alias("s"))
        .groupBy("doc_id")
        .agg(F.bit_or(
            F.when(F.col("s") > 0, F.expr("shiftleft(1L, b)"))
            .otherwise(F.lit(0).cast("long"))).alias("simhash"))
    )
    expected = {r.doc_id: r.simhash for r in ref.collect()}
    got = {r.doc_id: r.simhash
           for r in dedup.simhash(df, "text", "doc_id", hasher=hasher).collect()}
    assert got == expected
    # multiplicity must matter: doc 1's 3x 'dup' dominates where doc 2's
    # 1x 'dup' is outvoted by 'one'+'two' on bits where they agree
    # against it — a distinct-tokens-at-±1 implementation would make
    # doc 1 and doc 2 identical
    assert got[1] != got[2]


def test_simhash_chunks_derivation():
    """Exactly max_hamming+1 chunks, widths within one of each other,
    covering all 64 bits without overlap."""
    for h in range(0, 64):
        spec = dedup._simhash_chunks(h)
        assert len(spec) == h + 1
        widths = [w for _, w in spec]
        assert max(widths) - min(widths) <= 1
        assert sum(widths) == 64
        off = 0
        for o, w in spec:
            assert o == off and w >= 1
            off += w
    assert dedup._simhash_chunks(0) == [(0, 64)]   # exact-signature bucket
    assert dedup._simhash_chunks(3) == [(0, 16), (16, 16), (32, 16), (48, 16)]
    assert [w for _, w in dedup._simhash_chunks(6)] == [10, 9, 9, 9, 9, 9, 9]
    with pytest.raises(ValueError):
        dedup._simhash_chunks(64)
    with pytest.raises(ValueError):
        dedup._simhash_chunks(-1)


@pytest.mark.parametrize("max_hamming,max_bucket", [(3, 10_000), (6, 10_000), (6, None), (10, 10_000)])
def test_simhash_pairs_complete_vs_brute_force(spark, sf_dir, max_hamming, max_bucket):
    """Completeness differential for the fast path's adaptive banding:
    over the SAME xxhash64 signatures, the banded candidate generation
    must return EXACTLY the pairs a brute-force all-pairs
    bit_count(xor) <= max_hamming scan finds — the pigeonhole guarantee
    (n_chunks >= max_hamming + 1) makes banding lossless, and the
    verify step makes it precise. Guards the round-2 regression where a
    fixed 4-chunk banding silently dropped hamming-4..6 pairs."""
    from kafi_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    sh = dedup.simhash(docs, "text", "doc_id")
    a = sh.select(F.col("doc_id").alias("id_1"), F.col("simhash").alias("h1"))
    b = sh.select(F.col("doc_id").alias("id_2"), F.col("simhash").alias("h2"))
    brute = {
        (r.id_1, r.id_2)
        for r in a.crossJoin(b)
        .filter(F.col("id_1") < F.col("id_2"))
        .filter(F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))) <= max_hamming)
        .collect()
    }
    fast = {
        (r.id_1, r.id_2)
        for r in dedup.simhash_pairs(
            docs, "text", "doc_id", max_hamming=max_hamming,
            max_bucket=max_bucket,
        ).collect()
    }
    assert fast == brute
    if max_hamming >= 6:
        assert brute, "corpus should contain simhash near-duplicates"


def test_keep_representatives(docs, spark):
    pairs = spark.createDataFrame([(1, 2, 1.0), (1, 3, 0.9)],
                                  "id_1 long, id_2 long, jaccard double")
    kept = dedup.keep_representatives(pairs, docs.select("doc_id"), "doc_id")
    assert rows(kept) == [(1,), (4,), (5,)]


def test_jaccard_verify_fingerprints_match_string_sets(spark, sf_dir):
    """r12: _jaccard_verify intersects xxhash64 LONG fingerprints instead
    of shingle strings (the string intersect ran interpreted inside the
    verify join's condition). The jaccard VALUES must stay bit-identical
    to string-set jaccard — set sizes and intersection counts are
    preserved exactly unless xxhash64 collides inside a document's
    shingle set, which this corpus must not exhibit."""
    from kafi_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.7)
    got = {(r.id_1, r.id_2): r.jaccard for r in pairs.collect()}
    assert got, "corpus should contain planted near-duplicates"
    texts = {r.doc_id: r.text for r in docs.collect()}

    def sset(t):
        w = [x for x in t.split() if x]
        if len(w) <= 3:
            return {" ".join(w)}
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    for (a, b), j in got.items():
        sa, sb = sset(texts[a]), sset(texts[b])
        inter = len(sa & sb)
        assert j == inter / (len(sa) + len(sb) - inter), (a, b)


def test_lsh_precision_and_recall_vs_exact(spark, sf_dir):
    """LSH outputs verify candidates with exact Jaccard, so precision is 1
    by construction (subset of the exact pairs); recall on the real
    documents corpus must be high."""
    from kafi_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    exact = {
        (r.id_1, r.id_2)
        for r in dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", k=3, threshold=0.7, max_df=None
        ).collect()
    }
    assert exact, "corpus should contain planted near-duplicates"
    for fn in (
        lambda: dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.7),
        lambda: dedup.minhash_lsh_pairs_portable(docs, "text", "doc_id", threshold=0.7),
    ):
        got = {(r.id_1, r.id_2) for r in fn().collect()}
        assert got <= exact  # exact verification => no false positives
        assert len(got) / len(exact) >= 0.9  # banding recall


def test_pipeline_curate(spark, sf_dir):
    from kafi_spark.functions.pipeline import curate_documents
    from kafi_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    out = curate_documents(docs).collect()
    assert out, "pipeline should keep some documents"
    ids = [r.doc_id for r in out]
    assert len(ids) == len(set(ids))
    assert len(ids) < docs.count()  # something was filtered or deduped
    # the minhash path can only MISS near-dup pairs (lower recall), so it
    # keeps a superset of the exact path's survivors
    out_mh = curate_documents(docs, near_dup="minhash").collect()
    assert set(ids) <= {r.doc_id for r in out_mh}


def test_degenerate_inputs_null_empty_text(spark):
    """Null/empty texts and empty corpora flow through every dedup
    family without errors; nulls never form pairs."""
    from kafi_spark.functions.dedup import (
        dedup_exact,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs_portable,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c d"), (4, "a b c d")],
        "doc_id long, text string",
    )
    assert dedup_exact(df, "text", "doc_id").count() == 3
    for fn in (ngram_jaccard_pairs, minhash_lsh_pairs):
        pairs = fn(df, "text", "doc_id").collect()
        assert [(r["id_1"], r["id_2"]) for r in pairs] == [(3, 4)]
    sim = simhash_pairs_portable(df, "text", "doc_id").collect()
    assert [(r["id_1"], r["id_2"], r["hamming"]) for r in sim] == [(3, 4, 0)]

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert ngram_jaccard_pairs(empty, "text", "doc_id").count() == 0
    assert minhash_lsh_pairs(empty, "text", "doc_id").count() == 0


def test_zero_token_docs_never_pair_and_bands_validated(spark):
    """Round-8 review: every empty/whitespace-only doc shared the ['']
    shingle signature — identical minhash minima, colliding in the same
    bucket of EVERY band, 'verified' at jaccard 1.0 for raw texts that
    differ. They now produce NO shingles and never pair (consistent
    with simhash, which always dropped zero-token docs). And bands must
    divide num_hashes: bands > num_hashes used to divide by zero (or
    null-band every row with ANSI off — all near-dups silently lost),
    non-dividing bands silently added a weak partial band."""
    df = spark.createDataFrame(
        [(1, "   "), (2, "\n\n"), (3, ""), (4, "x y z w"), (5, "x y z w")],
        "doc_id long, text string")
    assert dedup.shingles(df, "text", "doc_id") \
        .filter(F.col("doc_id") <= 3).count() == 0
    got = {(r.id_1, r.id_2) for r in
           dedup.minhash_lsh_pairs(df, "text", "doc_id").collect()}
    assert got == {(4, 5)}
    assert {(r.id_1, r.id_2) for r in
            dedup.ngram_jaccard_pairs(df, "text", "doc_id").collect()} == \
        {(4, 5)}
    for bad in (0, 17, 3):  # zero, > num_hashes, non-dividing
        with pytest.raises(ValueError, match="bands"):
            dedup.minhash_lsh_pairs(df, "text", "doc_id",
                                    num_hashes=16, bands=bad)


def test_curate_documents_extended_stage_composition(spark, sf_dir):
    """The full-menu pipeline: no-optional == base; each optional stage
    only removes or rewrites, never invents rows; final schema carries
    the LM score when a reference corpus is supplied."""
    from kafi_spark.functions.pipeline import (
        curate_documents, curate_documents_extended)

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base_ids = {r.doc_id for r in curate_documents(df).collect()}
    assert {r.doc_id for r in curate_documents_extended(df).collect()} == base_ids

    ev = df.filter("doc_id < 5").select("doc_id", "text")
    decon_ids = {r.doc_id
                 for r in curate_documents_extended(df, eval_df=ev).collect()}
    assert decon_ids <= base_ids

    ref = df.filter("doc_id < 100")
    full = curate_documents_extended(
        df, span_tokens=8, eval_df=ev, ref_df=ref, min_lm_score=-20.0)
    rows = full.collect()
    assert full.columns == ["doc_id", "n_tokens", "quality", "lm_score"]
    assert 0 < len(rows) <= len(base_ids) + len(base_ids)  # sane bound
    assert all(r.lm_score >= -20.0 for r in rows)


def test_curate_documents_extended_classifier_gate(spark, sf_dir):
    """Stage 6: a fitted quality classifier prunes the corpus before
    stats/dedup — survivors are a subset of the base pipeline's, and a
    permissive threshold reproduces the base output exactly."""
    from kafi_spark.functions.pipeline import (
        curate_documents, curate_documents_extended)
    from kafi_spark.functions.quality import quality_fit

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pos = df.filter("doc_id % 3 = 0").select("doc_id", "text")
    neg = pos.select(
        "doc_id",
        F.concat_ws(" ", *[F.lit(f"zxqv{i}kpwj") for i in range(12)]
                    ).alias("text"))
    model = quality_fit(pos, neg, max_iter=10, n_features=1 << 14)

    base_ids = {r.doc_id for r in curate_documents(df).collect()}
    gated = {r.doc_id for r in curate_documents_extended(
        df, clf_model=model, min_clf_prob=0.5).collect()}
    assert gated <= base_ids
    # real documents look like the positive class: the gate keeps most
    assert len(gated) >= len(base_ids) * 0.5
    # threshold 0 keeps everything scoreable -> base output exactly
    all_kept = {r.doc_id for r in curate_documents_extended(
        df, clf_model=model, min_clf_prob=0.0).collect()}
    assert all_kept == base_ids


def test_minhash_lsh_join_cross_corpus(spark):
    """Left batch vs right corpus: planted near-matches found, unrelated
    docs silent, and results agree with a brute-force Jaccard oracle."""
    corpus = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog every day"),
         (101, "completely different content about cooking pasta dishes"),
         (102, "a third document describing spark shuffle partitions")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog every day"),   # verbatim of 100
         (2, "the quick brown fox jumps over the lazy cat every day"),   # near-dup of 100
         (3, "totally novel text that matches nothing in the corpus")],
        "doc_id long, text string")
    got = {(r.left_id, r.right_id): r.jaccard
           for r in dedup.minhash_lsh_join(
               batch, corpus, threshold=0.5).collect()}
    assert (1, 100) in got and got[(1, 100)] == 1.0
    assert (2, 100) in got and 0.5 <= got[(2, 100)] < 1.0
    assert all(l != 3 for (l, _r) in got)

    # brute-force oracle at threshold 0.5: same pair set
    def sh(t, k=3):
        w = t.split()
        return {" ".join(w[i:i + k]) for i in range(max(len(w) - k + 1, 1))}
    want = set()
    for l_id, lt in [(1, batch.collect()), ]:
        pass
    brows = {r.doc_id: r.text for r in batch.collect()}
    crows = {r.doc_id: r.text for r in corpus.collect()}
    for bi, bt in brows.items():
        for ci, ct in crows.items():
            a, b = sh(bt), sh(ct)
            j = len(a & b) / len(a | b)
            if j >= 0.5:
                want.add((bi, ci))
    assert set(got) == want


def test_dedup_against_incremental_gate(spark, sf_dir):
    """New batch vs existing corpus: survivors are exactly the docs with
    no near-match in the reference; within-batch dups survive (the gate
    is cross-corpus only, as documented)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    reference = docs.filter("doc_id % 2 = 0")
    # batch: verbatim copies of reference docs (new ids) + docs the
    # reference has never seen (odd ids are disjoint from reference);
    # selections are PREDICATES, not limit() — a limit re-evaluates
    # per plan branch and would leak different rows into each subtree
    leaked = reference.filter("doc_id < 60").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    fresh = docs.filter("doc_id % 2 = 1 and doc_id < 60")
    batch = leaked.unionByName(fresh)
    kept = {r.doc_id for r in dedup.dedup_against(
        batch, reference, threshold=0.7).collect()}
    assert not any(i >= 1_000_000 for i in kept)        # all leaks dropped
    # fresh docs survive unless they genuinely near-match an even doc
    hits = dedup.minhash_lsh_join(
        fresh, reference, threshold=0.7)
    fresh_hit = {r.left_id for r in hits.collect()}
    assert kept == {r.doc_id for r in fresh.collect()} - fresh_hit


def test_minhash_lsh_join_self_consistent_with_pairs(spark, sf_dir):
    """Joining a corpus against ITSELF must reproduce the self-join
    dedup's pair set exactly (same banding kernel, same verification)
    — the differential pinning the two code paths together."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").filter("doc_id < 300")
    pairs = {(r.id_1, r.id_2): r.jaccard
             for r in dedup.minhash_lsh_pairs(
                 docs, "text", "doc_id", threshold=0.5).collect()}
    joined = {(r.left_id, r.right_id): r.jaccard
              for r in dedup.minhash_lsh_join(
                  docs, docs, threshold=0.5).filter(
                  "left_id < right_id").collect()}
    assert joined == pairs


def test_hasher_param_portable_equals_twin_and_validates(spark, sf_dir):
    """hasher="portable" runs the SAME banding/bucket-cap/verify plan code
    as the xxhash64 default (the dedup_fast_pairs oracle closure); the
    7-chunk minimal pigeonhole banding under portable hashing must emit
    the same pairs as the 8-byte-chunk portable twin (both bandings are
    complete for hamming <= 6 and verification is exact), and unknown
    hasher names fail fast."""
    import pytest
    from kafi_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    fast7 = {(r.id_1, r.id_2, r.hamming)
             for r in dedup.simhash_pairs(
                 docs, "text", "doc_id", max_hamming=6, hasher="portable"
             ).collect()}
    twin8 = {(r.id_1, r.id_2, r.hamming)
             for r in dedup.simhash_pairs_portable(
                 docs, "text", "doc_id", max_hamming=6, chunks=8
             ).collect()}
    assert fast7 == twin8 and fast7

    mh = {(r.id_1, r.id_2) for r in dedup.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=24, bands=6, threshold=0.7,
        hasher="portable").collect()}
    tw = {(r.id_1, r.id_2) for r in dedup.minhash_lsh_pairs_portable(
        docs, "text", "doc_id", num_hashes=24, bands=6, threshold=0.7).collect()}
    assert mh == tw and mh

    with pytest.raises(ValueError, match="hasher"):
        dedup.minhash_lsh_pairs(docs, "text", "doc_id", hasher="sha9000").collect()
    with pytest.raises(ValueError, match="hasher"):
        dedup.simhash(docs, "text", "doc_id", hasher="sha9000").collect()
    sigs = dedup.simhash(docs, "text", "doc_id")
    with pytest.raises(ValueError, match="divide"):
        dedup.hamming_pairs(sigs, "doc_id", "simhash", 3, n_chunks=5)
    with pytest.raises(ValueError, match="completeness"):
        dedup.hamming_pairs(sigs, "doc_id", "simhash", 8, n_chunks=8)


def test_trailing_newline_does_not_break_near_dup_recall(spark):
    """Round-6 review finding: F.trim strips only ASCII spaces, so a
    trailing newline used to grow a phantom empty token — an extra
    shingle / simhash token that pushed near-identical docs under the
    Jaccard threshold. The whole dedup family now frames tokens through
    ws_tokens; docs differing ONLY in edge whitespace must pair at
    jaccard 1.0 / hamming 0."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta epsilon\n"),
         (3, "\t alpha beta gamma delta epsilon \n")],
        "doc_id long, text string",
    )
    want = {(1, 2), (1, 3), (2, 3)}
    ng = {(r.id_1, r.id_2): r.jaccard
          for r in dedup.ngram_jaccard_pairs(df, "text", "doc_id").collect()}
    assert set(ng) == want and all(j == 1.0 for j in ng.values())
    mh = {(r.id_1, r.id_2) for r in dedup.minhash_lsh_pairs(
        df, "text", "doc_id", threshold=0.99).collect()}
    assert mh == want
    sh = {(r.id_1, r.id_2): r.hamming
          for r in dedup.simhash_pairs(df, "text", "doc_id",
                                       max_hamming=0).collect()}
    assert set(sh) == want and all(h == 0 for h in sh.values())


class TestParallelizeProbe:
    """Round-9 rebuild of the _parallelize gate (judge items #1/#3).

    The r8 gate matched optimized-LOGICAL class names and classified any
    Join as "already parallel" — a broadcast semi-join over a
    1-partition scan then serialized the whole shingle explode
    (pipeline_dupheavy_exact +25% at sf0.1); and the set listed the
    physical name FlatMapGroupsWithStateExec, which can never appear in
    a logical plan, so stateful-pandas frames fell through to the
    df.rdd probe (the double-execution class the gate exists to
    prevent). The gate now reads the INITIAL physical plan — static,
    never launches a job."""

    @staticmethod
    def _jobs_during(spark, fn):
        group = "pz-probe-test"
        spark.sparkContext.setJobGroup(group, "probe isolation")
        try:
            out = fn()
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
        return out, list(jobs)

    def test_narrow_small_scan_spreads(self, spark, tmp_path):
        p = str(tmp_path / "tiny.parquet")
        spark.createDataFrame(
            [(i, "alpha beta gamma") for i in range(50)],
            "doc_id long, text string",
        ).coalesce(1).write.parquet(p)
        df = spark.read.parquet(p)
        out = dedup._parallelize(df)
        assert (out.rdd.getNumPartitions()
                == spark.sparkContext.defaultParallelism)

    def test_shuffle_rooted_frame_returned_as_is_without_jobs(self, spark):
        df = (spark.range(100).withColumn("k", F.col("id") % 7)
              .groupBy("k").agg(F.count(F.lit(1)).alias("c")))
        out, jobs = self._jobs_during(spark, lambda: dedup._parallelize(df))
        assert out is df and jobs == []

    def test_stateful_pandas_frame_not_probed(self, spark):
        # FlatMapGroupsInPandas plans contain a shuffle exchange; the
        # gate must classify them statically — a df.rdd probe here would
        # EXECUTE the grouping shuffle just to read a partition count
        def fn(key, pdf):
            return pdf

        df = (spark.range(100).withColumn("k", F.col("id") % 7)
              .groupBy("k").applyInPandas(fn, "id long, k long"))
        out, jobs = self._jobs_during(spark, lambda: dedup._parallelize(df))
        assert out is df and jobs == []

    def test_broadcast_semi_join_over_small_scan_spreads(self, spark, tmp_path):
        # the r8 regression shape: small scan ⋈ broadcast semi → the
        # join output inherits the scan's 1-partition parallelism and
        # MUST be spread before an explode-heavy stage; the decision is
        # static (no jobs — Catalyst stats, not a df.rdd probe)
        p = str(tmp_path / "corpus.parquet")
        spark.createDataFrame(
            [(i, "alpha beta gamma delta") for i in range(200)],
            "doc_id long, text string",
        ).coalesce(1).write.parquet(p)
        corpus = spark.read.parquet(p)
        keep = spark.range(150).select(F.col("id").alias("doc_id"))
        joined = corpus.join(F.broadcast(keep), "doc_id", "left_semi")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan  # shape under test
        out, jobs = self._jobs_during(
            spark, lambda: dedup._parallelize(joined))
        assert jobs == []
        out_plan = out._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" in out_plan

    def test_inner_broadcast_join_over_small_scan_spreads(self, spark, tmp_path):
        # round-9 self-review: Catalyst's sizeInBytes-only join stats
        # MULTIPLY child sizes for inner joins, so a root-stats estimate
        # read a small inner broadcast-join frame as huge and skipped
        # the spread; the leaf-sum estimate must not
        p = str(tmp_path / "corpus2.parquet")
        spark.createDataFrame(
            [(i, "alpha beta gamma delta") for i in range(200)],
            "doc_id long, text string",
        ).coalesce(1).write.parquet(p)
        corpus = spark.read.parquet(p)
        dim = spark.range(150).select(F.col("id").alias("doc_id"),
                                      F.lit("d").alias("tag"))
        joined = corpus.join(F.broadcast(dim), "doc_id", "inner")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan
        out, jobs = self._jobs_during(
            spark, lambda: dedup._parallelize(joined))
        assert jobs == []
        out_plan = out._jdf.queryExecution().executedPlan().toString()
        assert "RoundRobinPartitioning" in out_plan


def _brute_jaccard_pairs(data, k, threshold, max_df):
    """Python reference for ngram_jaccard_pairs' capped semantics:
    shingle universe = distinct k-word shingles with document frequency
    <= max_df; all-pairs Jaccard over the capped sets."""
    import itertools
    from collections import Counter

    sets = {}
    for i, t in data:
        if t is None:
            continue
        w = t.split()
        if not w:
            continue
        sets[i] = {" ".join(w[j:j + k]) for j in range(max(len(w) - k, 0) + 1)}
    if max_df is not None:
        freq = Counter(s for ss in sets.values() for s in ss)
        sets = {i: {s for s in ss if freq[s] <= max_df}
                for i, ss in sets.items()}
    out = set()
    for (i1, s1), (i2, s2) in itertools.combinations(sorted(sets.items()), 2):
        inter = len(s1 & s2)
        if inter and s1 | s2 and inter / len(s1 | s2) >= threshold:
            out.add((i1, i2, round(inter / len(s1 | s2), 9)))
    return out


@pytest.mark.parametrize("threshold", [0.0, 0.3, 0.5, 0.7, 0.9, 1.0])
def test_ngram_capped_prefix_filter_equals_exact(spark, threshold):
    """The prefix-filtered AllPairs plan (max_df set) is EXACT: on a
    dup-heavy corpus where the cap never bites it must emit the same
    pairs and the same jaccard values as the classic self-join path, at
    every threshold (the prefix lemma's boundary cases included)."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(50)]
    data = []
    did = 0
    # 8 groups of near-copies (suffix-perturbed) + unique background
    for g in range(8):
        base = [rng.choice(vocab) for _ in range(rng.randint(6, 30))]
        for j in range(rng.randint(2, 6)):
            doc = base + ([f"u{g}_{j}"] if j else [])
            data.append((did, " ".join(doc)))
            did += 1
    for _ in range(20):
        data.append((did, " ".join(rng.choice(vocab)
                                   for _ in range(rng.randint(4, 20)))))
        did += 1
    df = spark.createDataFrame(data, "doc_id long, text string")
    capped = {(r.id_1, r.id_2, round(r.jaccard, 9))
              for r in dedup.ngram_jaccard_pairs(
                  df, "text", "doc_id", k=3, threshold=threshold,
                  max_df=10_000).collect()}
    exact = {(r.id_1, r.id_2, round(r.jaccard, 9))
             for r in dedup.ngram_jaccard_pairs(
                 df, "text", "doc_id", k=3, threshold=threshold,
                 max_df=None).collect()}
    assert capped == exact
    assert capped == _brute_jaccard_pairs(data, 3, threshold, None)


def test_ngram_capped_prefix_filter_cap_bites(spark):
    """When max_df actually removes shingles, the capped path must match
    the capped-universe brute force (sizes AND intersections both see
    the reduced universe) — and the planted boilerplate shingle must not
    manufacture pairs."""
    # 6 docs sharing a boilerplate header (df=6 > max_df=4); pairs must
    # come only from the genuinely-shared body shingles
    data = [(i, "copyright header boilerplate line "
             + ("alpha beta gamma delta epsilon" if i % 2 == 0
                else f"body{i} beta gamma delta zeta{i}"))
            for i in range(6)]
    data.append((6, None))
    data.append((7, ""))
    df = spark.createDataFrame(data, "doc_id long, text string")
    for t in (0.2, 0.5, 0.8):
        got = {(r.id_1, r.id_2, round(r.jaccard, 9))
               for r in dedup.ngram_jaccard_pairs(
                   df, "text", "doc_id", k=3, threshold=t,
                   max_df=4).collect()}
        assert got == _brute_jaccard_pairs(data, 3, t, 4)


def test_ngram_capped_threshold_above_one_is_empty(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c d")],
                               "doc_id long, text string")
    assert dedup.ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=1.5, max_df=100).count() == 0


def test_ngram_capped_equals_exact_on_real_corpus(spark, sf_dir):
    """Prefix-filtered capped path vs classic exact self-join on the
    REAL documents corpus (planted near-duplicates, realistic text
    shapes) — the synthetic-corpus equivalence tests can't cover its
    shingle-frequency distribution. max_df high enough not to bite, so
    the two modes must agree exactly."""
    from kafi_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents")
    capped = {(r.id_1, r.id_2, round(r.jaccard, 9))
              for r in dedup.ngram_jaccard_pairs(
                  docs, "text", "doc_id", k=3, threshold=0.7,
                  max_df=10**9).collect()}
    exact = {(r.id_1, r.id_2, round(r.jaccard, 9))
             for r in dedup.ngram_jaccard_pairs(
                 docs, "text", "doc_id", k=3, threshold=0.7,
                 max_df=None).collect()}
    assert capped == exact
    assert capped, "corpus should contain planted near-duplicates"


def test_ngram_aqe_off_reapplies_protective_hints(spark):
    """Review r10: the hint-free join plans rely on AQE re-planning from
    runtime stage sizes; a caller session with adaptive planning OFF
    must get the protective SHUFFLE_HASH plan back (the static planner
    would otherwise broadcast the corpus-scale pair-counts aggregate it
    mis-estimates as tiny). Results must be identical either way."""
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")],
        "doc_id long, text string")

    on = dedup.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5,
                                   max_df=None)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        off = dedup.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5,
                                        max_df=None)
        assert "ShuffledHashJoin" in formatted_plan(off)
        got_off = {(r.id_1, r.id_2) for r in off.collect()}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert got_off == {(r.id_1, r.id_2) for r in on.collect()} == {(1, 2)}


def test_dedup_against_union_batch_plans_verify_once(spark):
    """r11 plan diet: Catalyst pushes the final left-anti join below a
    UNION-shaped batch (PushdownLeftSemiOrAntiJoin) and re-embeds the
    whole right side per branch — before the matched-id barrier, the
    LSH verify subtree executed once per union branch (plan audit read
    20 exchanges / 32 scans for an 8/8 query). The barrier makes the
    duplicated right side a checkpoint leaf; pin the final plan's
    operator counts so a refactor can't silently reintroduce the
    re-execution."""
    import re

    base = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon w{i}") for i in range(8)],
        "doc_id long, text string")
    reference = base.filter("doc_id >= 4")
    # union-shaped batch: the exact trigger for the pushdown duplication
    batch = base.filter("doc_id < 4").unionByName(
        reference.filter("doc_id = 4").select(
            (F.col("doc_id") + 100).alias("doc_id"), "text"))
    out = dedup.dedup_against(batch, reference, threshold=0.9)

    plan = formatted_plan(out)
    scans = len(re.findall(r"Scan parquet|Scan ExistingRDD", plan))
    exchanges = len(re.findall(r"\bExchange\b", plan))
    # pre-barrier the same query planned 4x these numbers; the verify
    # subtree must be absent (it ran once, eagerly, at construction)
    assert scans <= 10, plan
    assert exchanges <= 12, plan
    # and the result is still the gate's semantics: the verbatim leak
    # (doc 104 == doc 4's text) drops, the fresh docs survive
    kept = {r.doc_id for r in out.collect()}
    assert 104 not in kept and kept == {0, 1, 2, 3}


def test_ngram_tight_prefix_bound_prunes_candidates(spark):
    """The r11 tight two-sided prefix bound must prune single-shared-
    shingle candidates BEFORE verification (not merely let the exact
    verify reject them): docs sharing exactly one mid-rank shingle at a
    high threshold are provably non-pairs by the rank bound, so the
    candidate frame itself must be empty. Near-identical docs must
    still emit their candidate. Counted through the dedup.DIAG hook —
    the same counter tools/scale_probe.py commits per tier."""
    rows = []
    # 6 docs sharing ONE common shingle ("q q q"), otherwise disjoint:
    # every pair shares exactly that shingle; at t=0.9 the rank bound
    # alpha ~ 0.9/1.9 * (n1+n2) makes them impossible
    for i in range(6):
        uniq = " ".join(f"u{i}_{j}" for j in range(12))
        rows.append((i, f"{uniq} q q q"))
    # plus one true near-dup pair
    rows.append((100, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((101, "alpha beta gamma delta epsilon zeta eta theta"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    dedup.DIAG = diag = {}
    try:
        out = dedup.ngram_jaccard_pairs(
            df, "text", "doc_id", k=3, threshold=0.9, max_df=1000)
        pairs = {(r.id_1, r.id_2) for r in out.collect()}
        n_cand = diag["capped_candidates"].count()
    finally:
        dedup.DIAG = None
    assert pairs == {(100, 101)}
    # the only candidate surviving the emission filters is the true pair
    assert n_cand == 1, n_cand


def test_verify_spread_adds_one_round_robin(spark):
    """_verify_spread widens the candidate verify stage to cluster width
    with exactly one round-robin exchange (r13 JIT-threshold trade,
    PLANS.md dupheavy_exact adjudication), and the verify path through
    it still finds pairs."""
    from kafi_spark.functions.dedup import _verify_spread, minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i % 7}")
         for i in range(40)],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_1 long, id_2 long")

    def rr_count(df):
        return df._jdf.queryExecution().executedPlan().toString().count(
            "RoundRobinPartitioning")

    assert rr_count(_verify_spread(cand)) == rr_count(cand) + 1
    pairs = minhash_lsh_pairs(
        docs, "text", "doc_id", k=2, threshold=0.5).collect()
    assert len(pairs) > 0
