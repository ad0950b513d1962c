"""Deduplication operators for training-data pipelines.

Five families, all expressed as declarative DataFrame plans that scale by
partition parallelism (no driver-side collection anywhere):

* exact          — hash-groupBy on the text (or its md5)
* n-gram Jaccard — exact near-dup pairs via shingle inverted-index join
* MinHash + LSH  — sketch + banding for approximate near-dup at scale
* SimHash        — 64-bit bitwise sketch + Hamming banding
* embedding      — cosine-threshold pairs over a vector column (see
                   :mod:`kafi_spark.functions.similarity`)

Scale notes (the 100 TB story): the shingle inverted index is the classic
"join on shared token" plan — its cost is Σ bucket² over shingle buckets,
so ultra-common shingles are capped via document frequency (``max_df``)
before the self-join; MinHash/LSH replaces the shingle join with a
fixed-width signature (H hashes) and a band join whose buckets are tiny by
construction. Both are one-shuffle-per-stage plans with map-side partial
aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .text import gram_concat, ws_tokens

# a large 61-bit Mersenne prime: (a*h + b) mod P stays in int64*-safe range
# when computed in decimal; we use Spark's 64-bit xxhash64 then mix.
_P = (1 << 61) - 1


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: keep the smallest id per identical text.

    Output: keeper id, n_copies, fingerprint (md5). One hash-aggregate
    shuffle on the md5 of the text (shuffling a 32-char hash, not the
    document body — at 100 TB the map-side projection discards the payload
    before the exchange).
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


#: shuffle-exchange markers in a physical plan string. The lookbehind keeps
#: ``BroadcastExchange`` out; ``ShuffleQueryStage``/``AQEShuffleRead`` cover
#: frames whose adaptive plan was already (partially) finalized by a prior
#: action on the same DataFrame.
_SHUFFLE_RE = None


def _plan_has_shuffle(plan: str) -> bool:
    global _SHUFFLE_RE
    if _SHUFFLE_RE is None:
        import re

        _SHUFFLE_RE = re.compile(
            r"(?<!Broadcast)Exchange (hashpartitioning|rangepartitioning|"
            r"RoundRobinPartitioning|SinglePartition)"
        )
    return (
        _SHUFFLE_RE.search(plan) is not None
        or "ShuffleQueryStage" in plan
        or "AQEShuffleRead" in plan
    )


def _parallelize(df: DataFrame) -> DataFrame:
    """Spread an under-partitioned input before an explode-heavy stage.

    A small parquet file scans as ONE partition (maxPartitionBytes), which
    serializes everything downstream of the explode; round-robin to the
    cluster's parallelism first. No-op (and no shuffle) for inputs that are
    already parallel — the 100 TB case.

    The decision is STATIC — reading the initial physical plan never
    launches a job, while ``df.rdd`` under AQE finalizes the adaptive
    plan, which EXECUTES every upstream shuffle/broadcast stage just to
    read a partition count, and exchange reuse is per-QueryExecution so
    the real query re-runs them all (measured: a 2-exchange frame ran 5
    stages for the probe, then ran them again — the dedup hot path
    doubled, round-8 review). Three plan shapes:

    * **contains a shuffle exchange** — output parallelism is
      ``spark.sql.shuffle.partitions`` modulo AQE coalescing → return
      as-is. AQE's size-balanced coalescing is deliberately trusted
      here: flooring it (minPartitionSize=64k, round-9 experiment) made
      the posting-list pair aggregate 9× more task CPU across 32
      concurrent partial hash maps than across AQE's 8 size-balanced
      ones — see session.py. (``Exchange SinglePartition`` — global
      agg / limit tops — is grouped here: its one partition is by
      construction, and probing it would execute the plan.)
    * **broadcast joins but no shuffle** — output inherits the PROBE
      side's scan parallelism. Round 8 classified any Join as "already
      parallel"; a broadcast semi-join over a one-partition scan then
      serialized the whole shingle explode (pipeline_dupheavy_exact
      +25% at sf0.1, round-9 re-diagnosis: BroadcastHashJoin, 2-task
      explode stage). Probing would execute the broadcast builds early,
      so estimate statically from the SUM OF LEAF relation stats —
      NOT the root's stats: Catalyst's sizeInBytes-only join estimate
      MULTIPLIES child sizes for inner joins, so a small inner
      broadcast-join frame would read as huge and silently skip the
      spread (round-9 self-review; semi/anti joins pass the left size
      through, which is why the flagship path didn't show it).
      Repartition when the leaf total fits in fewer than ``target``
      scan partitions. Unknown leaves (LogicalRDD) estimate as
      Long.MaxValue → conservatively treated as already parallel.
    * **fully narrow (no exchange at all)** — ``df.rdd`` builds the DAG
      without materializing any stage; the exact partition count is
      free (scan-rooted frames, checkpoint RDDs, streaming
      micro-batches).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        if _plan_has_shuffle(plan):
            return df
        if "BroadcastExchange" in plan or "BroadcastQueryStage" in plan:
            leaves = qe.optimizedPlan().collectLeaves()
            est_bytes = 0
            for i in range(leaves.size()):
                est_bytes += int(leaves.apply(i).stats().sizeInBytes())
                if est_bytes >= (1 << 62):
                    break  # unknown-stats leaf — treat as huge
            max_pb = int(
                df.sparkSession._jsparkSession.sessionState()
                .conf().filesMaxPartitionBytes()
            )
            if est_bytes < target * max_pb:
                return df.repartition(target)
            return df
    except Exception:  # noqa: BLE001 — probe is an optimization only
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _verify_spread(candidates: DataFrame) -> DataFrame:
    """Round-robin the candidate pairs ahead of per-pair verification.

    Candidate rows are ~16 bytes but each costs two ~doc-length set
    intersects, so AQE's SIZE-based coalescing packs the whole
    CPU-heavy verify stage into one task at any scale (~64 MB advisory
    ≈ millions of pairs ≈ tens of CPU-seconds serialized). One
    round-robin of the (id, id) pairs to cluster width is linear in
    candidate bytes and scales with the cluster.

    At small candidate counts the spread is a latency/CPU trade (r13
    adjudication, PLANS.md): splitting ~250k pairs 32 ways left every
    task under the JIT's compile threshold in fresh-session runs —
    wall improved while total task CPU rose up to +30%. At production
    candidate volumes each task holds millions of pairs, the generated
    loop compiles everywhere, and the spread is pure win.
    """
    return candidates.repartition(
        candidates.sparkSession.sparkContext.defaultParallelism)


def _filter_materialized(scored: DataFrame, pred: Column,
                         keep: list[str]) -> DataFrame:
    """``scored.filter(pred).select(*keep)``, with the guarantee that
    the columns ``pred`` reads are evaluated ONCE, in ``scored``'s own
    projection — never inlined into a join condition below it.

    Catalyst substitutes a filtered column's defining expression into
    the predicate and pushes it through projections and into joins, so
    a threshold test over an expensive projected expression (the
    per-pair ``array_intersect`` jaccard) lands in the verify join's
    CONDITION — evaluated via interpreted ``nullSafeEval`` with no
    subexpression elimination (the division references the intersect
    TWICE) and evaluated AGAIN in the projection above for survivors:
    2–4 evaluations per candidate for one logical test (r12
    measurement on the capped-ngram verify stage). Guide §4.4
    documents the same optimizer duplication for UDFs, fixed with
    ``asNondeterministic``; this is the built-in-expression analog.

    Mechanics (each piece is necessary, measured on Spark 4.1):
    a nondeterministic ``spark_partition_id()`` fence column is ADDED
    TO THE PROJECTION — predicate-level fences are not enough
    (``rand() < -1`` is bounds-folded away, and a nondeterministic
    predicate alone still pushes through a fully-deterministic
    projection by alias substitution; pushing through a projection
    requires every projected field be deterministic, so the fence
    field blocks it) — and the fence is REFERENCED by the returned
    filter (``OR __fence < 0``, always false: partition ids are
    nonnegative — so the predicate VALUE is bit-identical) so column
    pruning cannot drop the fence and unblock the push. The filter
    then reads the materialized column; whole-stage codegen
    subexpression elimination collapses the intersect's two uses
    inside the projection to one evaluation."""
    fenced = scored.withColumn("__fence", F.spark_partition_id())
    return fenced.filter(pred | (F.col("__fence") < F.lit(0))).select(*keep)


def shingles(df: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Distinct k-word shingles per document: (id, shingle).

    JVM-side: split → transform over positions → array_distinct → explode.

    The split is BOUND to a column before the position transform runs:
    higher-order functions are interpreted, and an unbound ``split(text)``
    referenced inside the lambda is re-evaluated once per position —
    O(W²) per document (measured 24s → 6s on 5k docs just from binding;
    the effect compounds ~6× more under a second downstream explode).
    """
    bound = _parallelize(df).select(
        F.col(id_col), ws_tokens(text_col).alias("__words")
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("__words") - k, F.lit(0))),
        lambda i: gram_concat("__words", i, k),
    )
    # documents shorter than k words produce their full text as one
    # shingle — but ZERO-token (null/empty/whitespace-only) documents
    # produce NO shingles (round-8 review: they all shared the ['']
    # signature, colliding in the same bucket of EVERY band — the
    # degenerate mass-bucket max_bucket guards against — and "verified"
    # at jaccard 1.0 for raw texts that differ; simhash already drops
    # zero-token docs, so the family is now consistent).
    #
    # The zero-token guard filters the EXPLODED shingles, not the doc
    # rows (r12): a `size(__words) > 0` doc filter gets pushed BELOW
    # the projection that binds __words, substituting the full
    # ws_tokens(text) expression — so every document paid the regex
    # split TWICE (once in the pushed filter, once in the projection),
    # re-acquiring across the whole shingle family exactly the
    # two-scan-per-document regression the round-8 ws_tokens rework
    # removed (guide §4.4 optimizer-duplication class; audited in every
    # benched plan as `Condition : size(filter(split(text...))) > 0`).
    # Equivalence: a null/zero-token doc's gram array is null/[''] —
    # explode emits nothing/one '' — while a doc with ≥1 token only
    # builds concat_ws grams over non-empty ws_tokens elements, which
    # are never '' — so dropping '' shingles after the explode keeps
    # exactly the old output. The filter tests a GENERATED attribute,
    # which nothing can push below or substitute.
    return bound.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle")
    ).filter(F.col("shingle") != "")


def _minhash_long(df: DataFrame, text_col: str, id_col: str, k: int,
                  num_hashes: int, seed: int,
                  hasher: str = "xxhash64") -> DataFrame:
    """Long-format minima: (id, i, mh) for i in [0, num_hashes).

    Shape matters for codegen here, twice over:

    * H separate ``min(xxhash64(lit(i), col))`` aggregates inline H copies
      of the string-hash body, blow past the JIT method limit, and run
      interpreted (measured 18s vs <1s at H=64 on 260k shingles);
    * ``posexplode(transform(seq, s -> xxhash64(s, shingle)))`` re-
      evaluates the whole H-element array per OUTPUT element (H² hashes
      per shingle — measured 16s for the explode alone).

    So: explode a constant seed array (foldable, re-eval is free), then
    hash once per (shingle, seed) row. One explode, one hash per output
    row, one map-side-partial groupBy whose shuffle carries ≤ docs×H rows.

    Hash-family substitution — h_i = xxhash64(s, xxhash64(shingle)), the
    string hashed ONCE per (doc, shingle) and the H family members over
    a fixed 16 bytes — was measured in r13 (verdict #5 follow-up):
    every benched consumer's OUTPUT is bit-identical at sf0.001/0.01/0.1
    (the sf0.1 raw candidate set differs by one pair, rejected by
    verification), but the signature stage's task CPU is at PARITY
    (interleaved same-session best-of-4 at sf0.1: 4.4–5.7 s old vs
    4.4–6.6 s new) — the cost is the H× row volume through the
    Generate + partial-min aggregate, not the string re-hash, so the
    substitution buys nothing at any scale and the r12 family is kept.
    The remaining signature cost is algorithm-inherent row volume:
    every cheaper shape (in-row H-array: 25–400× worse via Catalyst
    re-evaluation; H separate min aggregates: JIT method-limit cliff)
    is documented above and in OPTIMIZATION_r12/r13.md.

    ``hasher``: ``"xxhash64"`` (fast, engine-internal) or ``"portable"``
    — h_i(x) = the first 15 hex chars of md5(i || ':' || x). Fixed-width
    hex orders lexicographically = numerically, so the per-seed MIN is a
    plain string min and any SQL engine with md5 reproduces the sketch
    bit-for-bit. The portable hash family is indexed by ``i`` alone
    (``seed`` is ignored) so an oracle needs no seed arithmetic.
    """
    sh = shingles(df, text_col, id_col, k)
    if hasher == "xxhash64":
        seeds = F.lit([seed + i for i in range(num_hashes)])
        pairs = (
            sh.select(F.col(id_col), "shingle", F.posexplode(seeds).alias("i", "s"))
            .select(F.col(id_col), "i", F.xxhash64("s", "shingle").alias("hv"))
        )
    elif hasher == "portable":
        seeds = F.lit(list(range(num_hashes)))
        pairs = (
            sh.select(F.col(id_col), "shingle", F.explode(seeds).alias("i"))
            .select(
                F.col(id_col),
                "i",
                F.substring(
                    F.md5(F.concat_ws(":", F.col("i"), F.col("shingle"))), 1, 15
                ).alias("hv"),
            )
        )
    else:
        raise ValueError(f"hasher must be 'xxhash64' or 'portable', got {hasher!r}")
    return pairs.groupBy(id_col, "i").agg(F.min("hv").alias("mh"))


#: Probe hook (tools/scale_probe.py): when set to a dict,
#: ngram_jaccard_pairs deposits its intermediate frames here —
#: 'capped_candidates' (the post-length-filter candidate pairs of the
#: prefix-filter path) and 'exact_pair_agg' (the exact path's
#: shared-shingle pair aggregate). The frames are lazy; the probe
#: decides whether to pay the count action. Never set in production
#: paths; a plain module attribute so the hook costs one `is not None`
#: check per call. SINGLE-THREAD assumption (advisor, r11): this is a
#: process-wide mutable global — while a probe/test has it set, any
#: concurrent ngram_jaccard_pairs/bm25_topk call from another thread
#: would deposit (and retain) its frames in the probe's dict. The only
#: setters are the single-threaded probe/pytest drivers; switch to a
#: contextvar before ever sharing a session across threads.
DIAG: dict | None = None


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.7,
    max_df: int | None = 1000,
) -> DataFrame:
    """EXACT near-duplicate pairs: Jaccard similarity over k-shingle sets,
    computed with an inverted-index self-join (candidates = pairs sharing
    ≥1 shingle — a superset of any pair with jaccard>0).

    ``max_df`` drops shingles appearing in more than that many documents
    from the shingle universe (a stop-shingle cap — both the
    intersection AND the set sizes see the reduced universe). Pass
    ``None`` for fully uncapped behavior at any threshold.

    With ``max_df`` set (the 100 TB configuration), candidates come
    from PREFIX FILTERING (Bayardo et al. "Scaling Up All Pairs
    Similarity Search" WWW'07; Xiao et al. PPJoin WWW'08): under any
    global total order over shingles, two sets with Jaccard ≥ t must
    share an element inside each one's first ``n - ceil(t·n) + 1``
    shingles. Ordering each document's shingle set by ascending
    document frequency makes those prefixes its RAREST shingles, so
    only prefix shingles build posting lists and a corpus-frequent
    shingle almost never generates a candidate. Candidate emissions
    additionally pass the PPJoin length filter and a tight two-sided
    prefix bound (r11: a true pair's first common shingle must sit at
    rank ≤ n − α + 1 in BOTH documents, α = t/(1+t)·(n₁+n₂) — measured
    62% exact candidate reduction on the sf1 probe corpus, where the
    classic PPJoin positional filter removed only 3%). Candidates are
    then verified EXACTLY with one in-row ``array_intersect`` over the
    two documents' fingerprint sets — same output as the naive plan. This
    replaced a full posting-list pair explode whose shuffle grew
    superlinearly (a shingle at document frequency f emits C(f,2) pair
    rows, and mid-frequency shingles grow their f with corpus size:
    ×92 shuffle bytes for ×10 rows in the round-9 sf1 probe); every
    stage here is linear in corpus shingle mass except the candidate
    explode, which prefix filtering keeps near the true-pair count.
    Shingles travel as xxhash64 LONG fingerprints — a primitive type,
    so the per-candidate ``array_intersect`` takes Spark's OpenHashSet
    fast path (BinaryType md5 lacks "proper equals" and fell to the
    O(n·m) comparator path: 30 s vs ~2 s for the same 200k candidates
    at sf0.1). 64 bits is enough HERE because a collision only
    perturbs one candidate pair's intersection count by ±1 (expected
    colliding shingle pairs ~D²/2⁶⁵: ~10⁻⁷ at bench scale, ~10⁻⁸
    relative error per pair at a 10¹² -shingle corpus) — unlike a
    bucket key, it can never manufacture an unverified pair. Posting
    lists stay bounded: a prefix posting list is a subset of the full
    one, so the ``max_df`` cap bounds the combos fan-out per shingle
    too.

    With ``max_df=None`` (exact mode) the classic shingle self-join
    runs instead: no frequency cap means a hot shingle's posting list
    is unbounded, where the join streams its pairs as spillable rows —
    quadratic in that shingle's frequency, but safe at any skew.

    Side effect (``max_df`` set only): merely BUILDING the returned
    frame runs a multi-stage Spark job — the per-document fingerprint
    sets are materialized through an eager ``localCheckpoint`` (three
    consumers over a scan+explode+join+agg subtree; the barrier
    executes it once instead of three times) and the blocks stay
    pinned on executors until the frame is garbage-collected. Callers
    composing plans lazily (or in plan-only/explain contexts) should
    expect that execution at construction time; ``max_df=None`` stays
    a purely lazy plan. The minhash path's candidate set documents the
    same pattern.

    Output: (id_1, id_2, jaccard) with id_1 < id_2, jaccard ≥ threshold.
    """
    sh = shingles(df, text_col, id_col, k)
    # the hint-free join plans below are probe-measured WINS only
    # because AQE re-plans every join from real stage sizes (all join
    # inputs here are aggregates over shuffles); on an AQE-OFF session
    # the static planner re-acquires the r7 catastrophe — it estimates
    # the pair-counts aggregate as tiny (it cannot see through the
    # shingle explode) and BROADCASTS it, 2.2 GB at a mere 10x bench
    # scale. kafi_spark sessions always enable AQE, but this is a
    # public library function: re-apply the protective SHUFFLE_HASH
    # hints when the caller's session has adaptive planning disabled.
    aqe_on = str(
        df.sparkSession.conf.get("spark.sql.adaptive.enabled", "true")
    ).lower() == "true"
    guard = (lambda f: f) if aqe_on else (lambda f: f.hint("shuffle_hash"))
    if max_df is not None:
        occ = sh.select(id_col, F.xxhash64("shingle").alias("__fp"))
        dfreq = (
            occ.groupBy("__fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
        )
        # per-document fingerprint set, rarest-first (global order =
        # (document frequency, fingerprint) — any total order is sound,
        # rarest-first minimizes candidates). The join keys both sides
        # by __fp; occurrence rows are (id, 16B) — linear shuffle.
        docs = (
            occ.join(guard(dfreq), "__fp")
            .groupBy(id_col)
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__df", "__fp"))),
                    lambda s: s["__fp"],
                ).alias("__set")
            )
            # three consumers (prefix explode + both verification
            # sides) and the subtree holds a scan + explode + frequency
            # join + wide agg: the barrier executes it ONCE instead of
            # three times (ReuseExchange never fires — AQE replans each
            # instance independently). Constant width: fingerprint
            # arrays are 8 B/shingle, smaller than the text they stand
            # for, so the checkpoint is at most corpus-scale on
            # executor local disk. Same sanctioned barrier as
            # minhash_lsh_join's candidate set.
            .localCheckpoint()
        )
        # Jaccard prefix length ⌊(1−t)·n⌋+1 = n − ⌈t·n⌉ + 1; the 1e-9
        # slack keeps binary-float noise in t·n from SHORTENING the
        # prefix past the lemma's bound (a longer prefix only adds
        # candidates, never loses one)
        n = F.size("__set")
        prefix_len = F.greatest(
            n - F.ceil(F.lit(float(threshold)) * n - F.lit(1e-9)) + 1,
            F.lit(0),  # threshold > 1: provably no pairs — empty prefix
        )
        prefix = docs.select(
            id_col,
            n.alias("__n"),
            F.posexplode(F.slice("__set", 1, prefix_len)).alias(
                "__pos", "__fp"),
        )
        # near-duplicate clusters make REDUNDANT posting lists: a group
        # of c near-copies shares ~its whole prefix, so ~prefix_len
        # nearly identical lists each emit the same C(c,2) pairs (the
        # r10 sf1 probe priced this at ~87x redundant pair emissions on
        # the dup-heavy corpus). Collapsing identical (id, size)-arrays
        # first costs one linear shuffle of the lists and cuts the
        # combos explode to ~one emission per distinct pair. Carrying
        # the set SIZE in the list keeps the collapse intact (near-
        # copies share n) while enabling the length filter below.
        posts = (
            prefix.groupBy("__fp")
            .agg(
                F.array_sort(
                    F.collect_set(
                        F.struct(F.col(id_col), F.col("__n"), F.col("__pos"))
                    )
                ).alias("ids")
            )
            # singleton lists emit no pairs; on natural text MOST prefix
            # shingles are singletons (df-ascending order front-loads
            # them), so dropping them before the list-dedup shuffle cuts
            # that exchange's input to the multi-doc minority
            .filter(F.size("ids") >= 2)
        )
        # collapse on the (id, n) projection — prefix RANKS (__pos)
        # differ per collapsed shingle, so the class keeps the
        # per-id elementwise MIN rank across its shingles (array_sort
        # orders every member list by id, so zip_with aligns). The min
        # keeps the tight-prefix filter below sound under collapse: a
        # pair is kept if ANY shared shingle passes, and min-rank can
        # only pass where some member shingle passes on that side.
        key = F.transform(
            "ids", lambda s: F.struct(s[id_col], s["__n"]))
        posts = (
            posts.groupBy(key.alias("__key"))
            .agg(F.collect_list("ids").alias("__occs"))
            .select(
                F.aggregate(
                    F.slice("__occs", 2, F.size("__occs")),
                    F.element_at("__occs", 1),
                    lambda acc, o: F.zip_with(
                        acc,
                        o,
                        lambda a, b: F.struct(
                            a[id_col].alias(id_col),
                            a["__n"].alias("__n"),
                            F.least(a["__pos"], b["__pos"]).alias("__pos"),
                        ),
                    ),
                ).alias("ids")
            )
        )
        combos = F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(
                        x[id_col].alias("id_1"),
                        y[id_col].alias("id_2"),
                        x["__n"].alias("n_1"),
                        y["__n"].alias("n_2"),
                        x["__pos"].alias("p_1"),
                        y["__pos"].alias("p_2"),
                    ),
                ),
            )
        )
        # Two exact per-emission filters BEFORE the candidate shuffle
        # (narrow explode+filter stage; 1e-9 slacks keep binary-float
        # noise from pruning boundary-true pairs):
        #
        # 1. PPJoin length filter: J ≥ t ⇒ |S∩| ≥ t·max(n1,n2) and
        #    |S∩| ≤ min(n1,n2), so min ≥ t·max or the pair is
        #    impossible.
        # 2. Tight two-sided prefix bound (r11): J ≥ t needs overlap
        #    O ≥ α = t/(1+t)·(n1+n2), and the pair's FIRST common
        #    shingle (global df-order) must leave α−1 more common
        #    shingles after it on BOTH sides — rank ≤ n − α + 1 in each
        #    document (0-based: pos ≤ n − α). Keep-if-any-emission-
        #    passes is sound because the first common shingle is in
        #    both standard prefixes (n − α + 1 ≤ the prefix length) and
        #    therefore always generates a passing emission for a true
        #    pair; collapsed classes pass via the per-id min rank.
        #    Measured on the sf1 probe corpus: 14.2M → 5.3M candidates
        #    (62% pruned, exactly) where the classic PPJoin positional
        #    filter pruned only 3% — mid-df shingles there sit at
        #    similar ranks in both documents, which defeats a
        #    min-position bound but not a both-sides-late bound.
        alpha = (
            F.lit(float(threshold) / (1.0 + float(threshold)))
            * (F.col("p.n_1") + F.col("p.n_2")).cast("double")
        )
        cand = (
            posts.select(F.explode(combos).alias("p"))
            .filter(
                F.least("p.n_1", "p.n_2").cast("double")
                >= F.lit(float(threshold))
                * F.greatest("p.n_1", "p.n_2").cast("double")
                - F.lit(1e-9)
            )
            .filter(
                (F.col("p.p_1").cast("double")
                 <= F.col("p.n_1").cast("double") - alpha + F.lit(1e-9))
                & (F.col("p.p_2").cast("double")
                   <= F.col("p.n_2").cast("double") - alpha + F.lit(1e-9))
            )
            .select("p.id_1", "p.id_2")
            .distinct()
        )
        # spread the verification (r12 — see _verify_spread for the
        # JIT-threshold CPU trade this makes)
        cand = _verify_spread(cand)
        if DIAG is not None:
            DIAG["capped_candidates"] = cand
        # exact verification: one in-row set intersection per candidate.
        # NO join hints here, deliberately (r10 probe-measured): the
        # docs side is a CHECKPOINTED frame whose runtime size AQE can
        # see — when the fingerprint arrays fit the broadcast threshold
        # (25 MB at the sf1 probe) AQE converts both joins to broadcast
        # and the candidate frame (which can dwarf the corpus: 14.2M
        # candidates vs 50k docs) never shuffles at all; forcing
        # SHUFFLE_HASH on either side forbade that conversion and
        # re-shuffled 6+ GB of candidate rows (the docs-build variant),
        # or built ~200 MB hash maps per task from the candidate side
        # (the cand-build variant, 2.6x slower verify). At true scale
        # docs outgrows the threshold and AQE degrades to a shuffled
        # join on its own — the right plan at every tier without a
        # static guess.
        d1 = docs.select(F.col(id_col).alias("id_1"), F.col("__set").alias("__s1"))
        d2 = docs.select(F.col(id_col).alias("id_2"), F.col("__set").alias("__s2"))
        n_inter = F.size(F.array_intersect("__s1", "__s2"))
        # the threshold filter reads the MATERIALIZED jaccard column —
        # _filter_materialized keeps the optimizer from inlining the
        # intersect into the join condition (2–4 interpreted
        # evaluations per candidate; one codegen'd evaluation here —
        # r12, guide §4.4)
        scored = (
            cand.join(guard(d1), "id_1")
            .join(guard(d2), "id_2")
            .select(
                "id_1",
                "id_2",
                (n_inter.cast("double")
                 / (F.size("__s1") + F.size("__s2") - n_inter)
                 .cast("double")).alias("jaccard"),
            )
        )
        return _filter_materialized(
            scored, F.col("jaccard") >= threshold,
            ["id_1", "id_2", "jaccard"],
        )
    # the self-join travels on xxhash64 LONG fingerprints, not shingle
    # strings (r12): the join keys both sides by the shingle, so the
    # string form shuffled every ~30-byte shingle twice and hash/compared
    # UTF8 bytes throughout the join and the pair aggregate — the
    # fingerprint halves-to-quarters the exchange bytes and keys every
    # downstream operator on a primitive. Identical pairs and counts
    # modulo the documented 2⁻⁶⁴ fingerprint collisions (same argument
    # as the capped branch's __fp, which has shipped since r9); the
    # string-equality DuckDB oracle re-verifies the rows bit-exact.
    occ = sh.select(F.col(id_col), F.xxhash64("shingle").alias("__fp"))
    # ONE keyed repartition shares the shingle pipeline across all three
    # consumers (r12): the self-join's two sides and the sizes aggregate
    # each replanned the scan→split→distinct→explode subtree, so the
    # corpus was shingled THREE times per execution (canonicalization
    # never unified the differently-aliased ENSURE exchanges, so AQE
    # stage reuse had nothing to reuse). Keying the exchange explicitly
    # by __fp BELOW the aliases makes the a/b exchange subtrees
    # byte-identical — AQE executes the map side once and both join
    # inputs (and the sizes aggregate) read the same shuffle output.
    # Measured (sf0.1, 3 iterations, same session): 59.2 → 28.1 s task
    # CPU, −53%. REPARTITION_BY_COL stays AQE-coalescable, and the
    # fp-keyed skew exposure is identical to what the join's own
    # ENSURE_REQUIREMENTS exchange had.
    occ = occ.repartition("__fp")
    # set sizes count rows of the SAME shared exchange output (one row
    # per distinct (doc, shingle) — the count is identical whether it
    # reads strings or fingerprints), so the sizes aggregate is the
    # third consumer of the single shingle execution
    sizes = occ.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = occ.select(F.col(id_col).alias("id_1"), "__fp")
    b = occ.select(F.col(id_col).alias("id_2"), "__fp")
    inter = (
        a.join(b, "__fp")
        .filter(F.col("id_1") < F.col("id_2"))
        .groupBy("id_1", "id_2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    if DIAG is not None:
        DIAG["exact_pair_agg"] = inter
    na = sizes.select(F.col(id_col).alias("id_1"), F.col("n_sh").alias("n_1"))
    nb = sizes.select(F.col(id_col).alias("id_2"), F.col("n_sh").alias("n_2"))
    # NO join hints (r10, probe-measured): every input here is an
    # aggregate over a shuffle, so AQE re-plans the joins from REAL
    # stage sizes — it broadcasts the per-doc size frames (|docs| rows
    # of two longs) while they fit the threshold (pipeline_curate sf1:
    # 22.4 s / 1.42 GB shuffle with forced SHUFFLE_HASH hints → 17.4 s /
    # 445 MB without) and degrades to a shuffled join on its own once
    # docs outgrows it. The r7-era hints guarded against the STATIC
    # planner broadcasting the pair-counts aggregate (2.2 GB at 10x —
    # its estimate can't see through the shingle explode), but that
    # mistake can't survive AQE's runtime re-plan: inter's true size is
    # known from its shuffle stage before the join strategy is chosen.
    return (
        inter.join(guard(na), "id_1")
        .join(guard(nb), "id_2")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_1") + F.col("n_2") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, num_hashes: int = 64, seed: int = 42
) -> DataFrame:
    """MinHash signatures: per document, ``num_hashes`` column-wise minima
    of independently-seeded shingle hashes, h_i(x) = xxhash64(seed+i, x).

    Computed in long format (see :func:`_minhash_long`), then pivoted to
    the wide ``mh_0..mh_{H-1}`` layout — the pivot aggregates are trivial
    ``min(when(i=k, mh))`` longs, JIT-friendly at any H.
    """
    long_ = _minhash_long(df, text_col, id_col, k, num_hashes, seed)
    wide = long_.groupBy(id_col).pivot("i", list(range(num_hashes))).agg(F.min("mh"))
    return wide.select(
        F.col(id_col), *[F.col(str(i)).alias(f"mh_{i}") for i in range(num_hashes)]
    )


def _shingle_set_col(k: int) -> Column:
    """Shingle-set Column over a pre-bound ``__words`` array column —
    same k-gram definition as :func:`shingles`, as one in-row array."""
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("__words") - k, F.lit(0))),
        lambda i: gram_concat("__words", i, k),
    )
    return F.array_distinct(grams)


def _jaccard_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    threshold: float,
    df2: DataFrame | None = None,
    id1: str = "id_1",
    id2: str = "id_2",
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs as per-pair set
    arithmetic: join each pair to its two texts, build both shingle sets
    in-row, and take ``array_intersect`` sizes — no explode, no groupBy,
    and the (expensive) candidate subtree appears in the plan exactly
    ONCE.

    An earlier shape re-shingled the corpus into long format and joined
    per shingle; that embedded the candidate/signature subtree several
    times over (the plan grew combinatorially) and shuffled corpus-scale
    shingle rows to verify a handful of pairs. Here verification work is
    O(candidates): two joins against the corpus scan (broadcast-able —
    candidates are few by LSH construction) and a per-row set op over
    ~doc-length arrays.

    ``df2``/``id1``/``id2`` generalize to TWO-SIDED verification (the
    cross-corpus join path): the left side of each candidate pair binds
    against ``df``, the right against ``df2`` (defaults to ``df`` — the
    self-join case). Output: (``id1``, ``id2``, jaccard) with
    jaccard >= threshold.

    The sets travel as xxhash64 LONG fingerprints, not shingle strings
    (r12): the per-pair ``array_intersect`` lands in the verify join's
    CONDITION, where a StringType intersect runs ``nullSafeEval`` —
    interpreted, one fresh hash set per evaluation, every element's
    UTF8 bytes re-hashed per pair (thread dumps showed the verify task
    pinned in ``ArrayIntersect.nullSafeEval``; whether the JIT rescued
    it was run-to-run luck — the same dupheavy verify stage measured
    anywhere from 1.5 s to 330 s task CPU on identical plans). LongType
    arrays take the primitive fast path, and the fingerprints are
    hashed ONCE per document on the build side, not once per pair.
    Same 2⁻⁶⁴-collision argument as ngram_jaccard_pairs' fingerprint
    sets (a collision perturbs one pair's intersection by ±1 with
    probability ~D²/2⁶⁵); the driver's oracle gate re-verifies the
    minhash leg bit-exact against DuckDB's string-equality jaccard.
    """
    # bind the split ONCE as its own projected column: a raw split(text)
    # referenced inside the transform lambda is re-evaluated per output
    # element (the O(W²) hazard documented on shingles())
    def bound(frame: DataFrame, out_id: str, sh: str) -> DataFrame:
        return frame.select(
            F.col(id_col).alias(out_id),
            ws_tokens(text_col).alias("__words"),
        ).select(
            out_id,
            # set semantics already fixed by array_distinct over the
            # STRINGS; the fingerprint map keeps sizes and intersection
            # counts identical (modulo the documented 2⁻⁶⁴ collisions)
            F.transform(
                _shingle_set_col(k), lambda g: F.xxhash64(g)
            ).alias(sh),
        )

    # spread the per-pair verification (r12: AQE's size-based coalescing
    # serialized 100% of the dupheavy verify onto 1 of 32 cores — see
    # _verify_spread for the JIT-threshold trade)
    candidates = _verify_spread(candidates)
    t1 = bound(df, id1, "sh_1")
    t2 = bound(df2 if df2 is not None else df, id2, "sh_2")
    n_inter = F.size(F.array_intersect(F.col("sh_1"), F.col("sh_2")))
    # threshold filter over the MATERIALIZED jaccard column — otherwise
    # the optimizer inlines the intersect into the join condition and
    # evaluates it 2–4× per candidate (r12, guide §4.4; see
    # _filter_materialized)
    scored = (
        candidates.join(t1, id1)
        .join(t2, id2)
        .select(
            id1,
            id2,
            (n_inter.cast("double")
             / (F.size("sh_1") + F.size("sh_2") - n_inter)
             .cast("double")).alias("jaccard"),
        )
    )
    return _filter_materialized(
        scored, F.col("jaccard") >= threshold, [id1, id2, "jaccard"])


def _band_keys(df: DataFrame, text_col: str, id_col: str, k: int,
               num_hashes: int, bands: int, seed: int,
               hasher: str = "xxhash64") -> DataFrame:
    """LSH band keys ``(id, band_id, band_hash)`` straight from the
    long-format minima: band hash = digest of the band's (i, mh) rows
    in i-order — no pivot needed, and equal bands ⇔ equal minima
    sequences. Shared by :func:`minhash_lsh_pairs` and the streaming
    curation twin so both sides key identically.

    ``hasher="xxhash64"`` digests with xxhash64 over the (i, mh) struct
    list (fast, engine-internal); ``"portable"`` digests with md5 over
    the '|'-joined minima so a SQL oracle reproduces the band keys
    (``string_agg(mh, '|' ORDER BY i)`` then md5).

    ``bands`` must divide ``num_hashes`` exactly (round-8 review:
    bands > num_hashes made rows_per_band 0 — an ANSI divide-by-zero
    deep in execution, or with ANSI off a null band_id that collapsed
    every signature into ONE band and silently lost near-dups; a
    non-dividing bands added an undocumented weak partial band that
    inflated candidates past the 1-(1-s^r)^b curve)."""
    if not (1 <= bands <= num_hashes and num_hashes % bands == 0):
        raise ValueError(
            f"bands must divide num_hashes exactly with "
            f"1 <= bands <= num_hashes, got bands={bands} "
            f"num_hashes={num_hashes}"
        )
    rows_per_band = num_hashes // bands
    long_ = _minhash_long(df, text_col, id_col, k, num_hashes, seed, hasher)
    ordered = F.array_sort(F.collect_list(F.struct("i", "mh")))
    if hasher == "xxhash64":
        digest = F.xxhash64(ordered)
    else:
        digest = F.md5(F.array_join(F.transform(ordered, lambda x: x["mh"]), "|"))
    return (
        long_.withColumn("band_id", (F.col("i") / rows_per_band).cast("int"))
        .groupBy(id_col, "band_id")
        .agg(digest.alias("band_hash"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int = 10_000,
    verify_df: DataFrame | None = None,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Approximate near-dup pairs via MinHash + LSH banding, then exact
    Jaccard verification of the candidates.

    bands=16 × rows=4 over 64 hashes ⇒ P(candidate) = 1-(1-s⁴)¹⁶ —
    ≈0.98 at s=0.7. The band join shuffles (band_id, band_hash) pairs;
    bucket sizes are O(collisions), never O(corpus).

    ``verify_df``: alternative (id, text) source for the verification
    stage. When ``df`` is itself an expensive subplan (e.g. the filtered
    survivor set inside a curation pipeline) and a cheaper frame holds
    the same texts for the candidate ids (the raw corpus scan), passing
    it here keeps verification from re-executing the expensive subplan.
    Results are identical whenever both frames agree on text per id over
    the candidate ids.

    ``hasher``: ``"xxhash64"`` (default, fast) or ``"portable"``
    (md5-derived minima and band digests a SQL oracle reproduces
    bit-for-bit — see :func:`_minhash_long`). The banding / bucket-cap /
    verification plan is IDENTICAL either way; only the hash expressions
    differ, which is what lets the driver's correctness gate replay the
    genuine production plan in DuckDB (``dedup_fast_pairs``).
    """
    stacked = _band_keys(df, text_col, id_col, k, num_hashes, bands, seed, hasher)
    # candidates by bucket-collect, not self-join: a self-join would plan
    # TWO full recomputes of the signature pipeline plus a shuffle join;
    # collecting each (band, hash) bucket's ids and exploding the C(m,2)
    # in-bucket combinations is one extra tiny aggregate, and emits the
    # same pairs. Bucket sizes are O(collisions) by LSH construction, so
    # the combination arrays stay small at any corpus size.
    buckets = (
        stacked.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
        # bucket guard: a degenerate bucket (one signature shared by a huge
        # doc subset, i.e. mass-duplicates the exact-dedup stage should have
        # removed) would otherwise build an O(corpus) array and a C(m,2)
        # pair explosion in one task. Truncating to max_bucket ids keeps the
        # bucket's pair fan-out bounded; every surviving doc still meets the
        # others through its remaining bands with overwhelming probability.
        .withColumn("ids", F.slice("ids", 1, max_bucket))
    )
    # pair fan-out via TWO row-explodes, never one in-row array: a
    # flatten of all C(m,2) pair structs built a single multi-GB row at
    # a full max_bucket=10k bucket (~50M structs — the 2GB-array
    # failure ngram_jaccard_pairs' docstring cites; round-8 review).
    # Exploding id_1 first bounds per-row memory to ONE bucket's id
    # array; the same pairs (id_1 < id_2 within the sorted array) come
    # out as rows.
    candidates = (
        buckets.select(F.col("ids"), F.posexplode("ids").alias("__i", "id_1"))
        .select(
            "id_1",
            F.explode(
                F.slice("ids", F.col("__i") + 2, F.size("ids"))
            ).alias("id_2"),
        )
        .distinct()
    )
    return _jaccard_verify(
        verify_df if verify_df is not None else df,
        candidates, text_col, id_col, k, threshold,
    )


def minhash_lsh_pairs_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = 24,
    bands: int = 6,
    threshold: float = 0.7,
    max_bucket: int = 10_000,
) -> DataFrame:
    """MinHash+LSH with ENGINE-PORTABLE hashing: h_i(x) = the first 15 hex
    chars of md5(i || ':' || x). Fixed-width hex strings order
    lexicographically = numerically, so the per-seed MIN is a plain string
    min and any SQL engine with md5 reproduces the sketch bit-for-bit —
    this variant has a full DuckDB oracle (unlike the xxhash64 default of
    :func:`minhash_lsh_pairs`, which is rows-only checkable). Use the fast
    hash in production; this one exists to prove the algorithm against an
    independent engine. Thin wrapper over :func:`minhash_lsh_pairs` with
    ``hasher="portable"`` — the SAME plan code runs (long-format minima,
    band digest, bucket-collect + cap, exact Jaccard verification), only
    the hash expressions differ.
    """
    return minhash_lsh_pairs(
        df, text_col, id_col, k=k, num_hashes=num_hashes, bands=bands,
        threshold=threshold, max_bucket=max_bucket, hasher="portable",
    )


def simhash(df: DataFrame, text_col: str, id_col: str,
            hasher: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per document: sign-sum of token-hash bits.

    Long format, like :func:`_minhash_long`: explode a constant
    bit-position array against the token hashes, sign-sum per (doc, bit),
    then OR the winning bit weights back together. The earlier wide
    formulation (one groupBy with 64 conditional-sum aggregates + a
    64-term assembly expression) generated a single giant method whose
    JIT compile time dominated the query (observed 7-200s wall for the
    same 500-doc input depending on code-cache state); the long plan is
    three small codegen stages, stable at ~2s. Shuffles stay tiny:
    docs × 64 rows of (id, bit, ±count) with map-side partial sums.

    ``hasher``: ``"xxhash64"`` takes token bit b from the xxhash64 value
    (fast, engine-internal); ``"portable"`` takes it from the first 16
    hex chars of md5(token) — the bit definition a SQL oracle can
    reproduce from hex nibbles. The sign-sum / bit-pack plan is shared.
    The md5 prefix is parsed ONCE per token into two 32-bit words
    (bit b of the 64-bit prefix = bit (31 - b%32) of word b//32, since
    nibble n sits at shift 28-4n within its word); the earlier
    per-(token, bit) conv(substring(...)) form parsed hex 64× per token
    and was ~20× slower through codegen.
    """
    tokens = _parallelize(df).select(
        F.col(id_col), F.explode(ws_tokens(text_col)).alias("tok")
    )
    bits = F.lit(list(range(64)))
    # NOT pre-aggregated to (id, token-hash, count) before the bit
    # explode, although sign-sums are linear in occurrences and the
    # sf0.1 corpus repeats each (doc, token) 2.33×: the pre-aggregation
    # needs a corpus-sized (id, hash, cnt) EXCHANGE (partial-only
    # aggregation is inexpressible, and id-partitioning the input first
    # shuffles the text itself), where this shape's only shuffles are
    # the docs × 64 partial-agg outputs — a 2.33× local CPU cut is not
    # worth a new 100 TB-scale shuffle (measured r12: −30% task CPU,
    # +1 s wall at sf0.1; rejected on the scale rule).
    if hasher == "xxhash64":
        hashed = tokens.withColumn("hv", F.xxhash64("tok"))
        bit_expr = F.expr("shiftright(hv, b) & 1")
        carry = ["hv"]
    elif hasher == "portable":
        hashed = tokens.select(
            F.col(id_col),
            F.md5("tok").alias("h"),
        ).select(
            F.col(id_col),
            F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("w1"),
            F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("w2"),
        )
        bit_expr = F.expr(
            "CASE WHEN b < 32 THEN shiftright(w1, 31 - b)"
            " ELSE shiftright(w2, 63 - b) END & 1"
        )
        carry = ["w1", "w2"]
    else:
        raise ValueError(f"hasher must be 'xxhash64' or 'portable', got {hasher!r}")
    contrib = (
        hashed.select(F.col(id_col), *carry, F.explode(bits).alias("b"))
        .select(
            F.col(id_col),
            "b",
            F.when(bit_expr.cast("long") == 1, F.lit(1))
            .otherwise(F.lit(-1)).alias("c"),
        )
    )
    bitsum = contrib.groupBy(id_col, "b").agg(F.sum("c").alias("s"))
    # sum of sign bits → packed long; bit_or of disjoint weights == sum,
    # and shiftleft(1L, 63) is the sign bit without overflow concerns
    return bitsum.groupBy(id_col).agg(
        F.bit_or(
            F.when(F.col("s") > 0, F.expr("shiftleft(1L, b)")).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def _simhash_chunks(max_hamming: int) -> list[tuple[int, int]]:
    """Minimal COMPLETE pigeonhole banding for ``max_hamming``: exactly
    ``max_hamming + 1`` chunks — with ``n`` chunks a pair differing in at
    most ``n - 1`` bits must share one identical chunk, and FEWER chunks
    means WIDER chunks, i.e. maximal bucket selectivity (bucket occupancy
    halves per extra bit of width, and candidate pair fan-out is
    quadratic in occupancy — an earlier power-of-two-divisor rule used
    8×8-bit chunks for hamming 6 where 7×~9-bit suffices, 4× the
    candidate pairs for nothing). Returns (bit_offset, width) per chunk;
    widths differ by at most one so the narrowest chunk — the guarantee's
    weakest link — is as wide as possible."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if max_hamming > 63:
        raise ValueError(
            "max_hamming > 63 admits every pair of 64-bit signatures; "
            "banding cannot help — filter the cross product explicitly "
            f"if that is really intended (got {max_hamming})"
        )
    n = max_hamming + 1
    base, rem = divmod(64, n)
    out = []
    off = 0
    for i in range(n):
        width = base + (1 if i < rem else 0)
        out.append((off, width))
        off += width
    return out


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = 10_000,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash with a lossless pigeonhole banding: the
    64-bit signature is split into exactly ``max_hamming + 1`` chunks of
    near-equal width, so any pair within the hamming threshold shares at
    least one identical chunk — the BANDING never drops a candidate.
    (An earlier fixed 4×16-bit banding silently lost pairs when callers
    passed ``max_hamming > 3``.)
    Candidates come from a bucket-collect (one aggregate, pair fan-out
    in an array transform) and are verified with ``bit_count(xor) <=
    max_hamming`` on the packed signatures — the same plan shape as
    :func:`simhash_pairs_portable`, the md5-hashed twin a SQL oracle can
    replay.

    ``max_bucket`` truncates DEGENERATE buckets (one chunk value shared
    by a mass-duplicate cohort exact-dedup should have removed): a pair
    surviving only in such a bucket's tail IS dropped. Pass
    ``max_bucket=None`` for strict completeness at the cost of C(m, 2)
    pair fan-out in the degenerate bucket (the completeness differential
    test runs both ways).

    ``hasher="portable"`` swaps the token hash for md5-derived bits (see
    :func:`simhash`) so the WHOLE plan — this minimal pigeonhole banding
    included — is SQL-oracle-reproducible; the default stays xxhash64.

    Reference parity: kafi has no simhash; this is the LLM-pipeline
    extension layer. Output: (id_1, id_2, hamming), id_1 < id_2.
    """
    sh = simhash(df, text_col, id_col, hasher)
    return hamming_pairs(sh, id_col, "simhash", max_hamming, max_bucket)


def hamming_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = 10_000,
    n_chunks: int | None = None,
) -> DataFrame:
    """Near-dup pairs over ANY 64-bit signature column by lossless
    pigeonhole Hamming banding — the engine behind
    :func:`simhash_pairs`, exposed generically so other 64-bit
    perceptual signatures (e.g. image dHash from
    ``multimodal.image_perceptual_hash``) get the same scale-safe
    candidate generation + in-bucket ``bit_count(xor)`` verification.
    Null signatures are skipped. Output: (id_1, id_2, hamming),
    id_1 < id_2.

    ``n_chunks`` overrides the minimal pigeonhole banding with
    ``n_chunks`` EQUAL-width chunks (64 must divide evenly); the
    pigeonhole guarantee then covers ``max_hamming <= n_chunks - 1``, so
    it must satisfy ``n_chunks >= max_hamming + 1``. Since in-bucket
    verification is exact and both bandings are complete, the OUTPUT is
    identical either way — the override exists for the portable twin,
    whose SQL oracle bands on byte slices."""
    if n_chunks is None:
        chunks_spec = _simhash_chunks(max_hamming)
    else:
        if 64 % n_chunks != 0:
            raise ValueError(f"n_chunks must divide 64, got {n_chunks}")
        if n_chunks < max_hamming + 1:
            raise ValueError(
                f"n_chunks={n_chunks} chunks only guarantee completeness for "
                f"hamming <= {n_chunks - 1}, but max_hamming={max_hamming}"
            )
        w = 64 // n_chunks
        chunks_spec = [(c * w, w) for c in range(n_chunks)]
    bucket_cap = (1 << 31) - 1 if max_bucket is None else max_bucket
    def _mask(width: int) -> int:
        # as a SIGNED 64-bit literal: width 64 (the max_hamming=0 single
        # chunk) is all-ones = -1; (1 << 64) - 1 overflows py4j's long
        m = (1 << width) - 1
        return m - (1 << 64) if m > (1 << 63) - 1 else m

    chunk_vals = sigs.filter(F.col(sig_col).isNotNull()).select(
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(sig_col), off)
                    .bitwiseAND(F.lit(_mask(width)))
                    for off, width in chunks_spec
                ]
            )
        ).alias("chunk_id", "chunk"),
        F.struct(F.col(id_col).alias("id"), F.col(sig_col).alias("sh")).alias("m"),
    )
    # members carry their SIGNATURE into the bucket, so verification is
    # an in-array bit_count — the signature subtree appears in the plan
    # ONCE (an earlier revision joined candidates back to it twice), and
    # the hamming filter runs BEFORE distinct, so the dedup shuffle only
    # carries surviving pairs
    buckets = (
        chunk_vals.groupBy("chunk_id", "chunk")
        .agg(F.array_sort(F.collect_set("m")).alias("mem"))
        .filter(F.size("mem") >= 2)
        .withColumn("mem", F.slice("mem", 1, bucket_cap))
    )
    # pair fan-out via TWO row-explodes (round-8 review, same fix as
    # minhash_lsh_pairs): a flattened C(m,2) struct array was ONE row —
    # multi-GB at a full bucket, fully unbounded at max_bucket=None.
    # Per-row memory is now one bucket's member array; the hamming
    # filter still runs BEFORE distinct so the dedup shuffle only
    # carries surviving pairs.
    return (
        buckets.select(F.col("mem"), F.posexplode("mem").alias("__i", "x"))
        .select(
            "x",
            F.explode(
                F.slice("mem", F.col("__i") + 2, F.size("mem"))
            ).alias("y"),
        )
        .select(
            F.col("x.id").alias("id_1"),
            F.col("y.id").alias("id_2"),
            F.bit_count(F.col("x.sh").bitwiseXOR(F.col("y.sh")))
            .cast("long")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_pairs_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 6,
    chunks: int = 8,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """SimHash near-dup pairs with ENGINE-PORTABLE hashing: token bits come
    from md5 hex nibbles, so a SQL oracle reproduces the sketch exactly
    (the xxhash64 fast path :func:`simhash_pairs` is rows-only checkable).

    With ``chunks=8`` (8 bits each) the pigeonhole guarantee covers
    ``max_hamming <= 7``: any pair within the threshold shares at least
    one identical chunk, so banding loses nothing — this variant is EXACT
    over the simhash metric, not just deterministic.

    Thin composition of the shared plan code: :func:`simhash` with
    ``hasher="portable"`` (md5-bit sign sums → packed 64-bit signature)
    into :func:`hamming_pairs` with ``n_chunks`` equal byte-slices —
    bucket-collect candidates, in-array ``bit_count(xor)`` verification.
    Output: (id_1, id_2, hamming), id_1 < id_2, hamming ≤ max_hamming.
    """
    sh = simhash(df, text_col, id_col, hasher="portable")
    return hamming_pairs(
        sh, id_col, "simhash", max_hamming, max_bucket, n_chunks=chunks
    )


def keep_representatives(pairs: DataFrame, all_ids: DataFrame, id_col: str) -> DataFrame:
    """Greedy dedup policy: from near-dup ``pairs`` (id_1 < id_2), drop
    every id that appears as the larger member of a pair; keep the rest.
    (Connected-component dedup would iterate — this single-pass policy is
    the standard one-shot approximation and is fully order-deterministic.)
    """
    losers = pairs.select(F.col("id_2").alias(id_col)).distinct()
    return all_ids.join(losers, id_col, "left_anti")


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    right_text_col: str | None = None,
    right_id_col: str | None = None,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Cross-corpus set-similarity JOIN: near-matches of ``left``
    documents against ``right`` documents by MinHash+LSH banding with
    exact Jaccard verification — the two-sided generalization of
    :func:`minhash_lsh_pairs` (record linkage / incremental-batch
    dedup: "which of today's documents near-match the corpus we
    already have?").

    Both sides are banded with the SAME (k, num_hashes, bands, seed)
    through :func:`_band_keys`, so identical texts collide on every
    band by construction. Candidates come from joining the two sides'
    per-bucket id LISTS (each capped at ``max_bucket``) and exploding
    the cross product — the join itself carries one row per non-empty
    bucket per side, and a degenerate bucket is truncated BEFORE the
    pair fan-out, exactly like the self-join path. Verification is
    per-pair set arithmetic against each side's own text frame (the
    candidate subtree appears once; see :func:`_jaccard_verify`).

    ``left`` and ``right`` ids are independent namespaces — if the same
    document appears on both sides it WILL match itself; filter
    ``left_id != right_id`` downstream when the sides overlap.

    Output: (left_id, right_id, jaccard) with jaccard ≥ threshold.
    """
    rtc = right_text_col or text_col
    ric = right_id_col or id_col
    lb = _band_keys(left, text_col, id_col, k, num_hashes, bands, seed)
    rb = _band_keys(
        right.select(F.col(ric).alias(id_col), F.col(rtc).alias(text_col)),
        text_col, id_col, k, num_hashes, bands, seed)
    return _lsh_join_from_bands(
        lb, rb, left, right.select(
            F.col(ric).alias(id_col), F.col(rtc).alias(text_col)),
        text_col, id_col, k, threshold, max_bucket)


def _lsh_join_from_bands(
    lb: DataFrame,
    rb: DataFrame,
    left_texts: DataFrame,
    right_texts: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    threshold: float,
    max_bucket: int,
) -> DataFrame:
    """Candidate + verify core of :func:`minhash_lsh_join`, taking the
    two sides' band-key frames directly. Exists so callers that PERSIST
    band keys (the streaming incremental-ingest gate) can join a new
    batch against accumulated state without re-banding the whole
    corpus every epoch — both frames must come from :func:`_band_keys`
    with identical (k, num_hashes, bands, seed)."""
    lagg = (
        lb.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_set(id_col)).alias("lids"))
        .withColumn("lids", F.slice("lids", 1, max_bucket))
    )
    ragg = (
        rb.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_set(id_col)).alias("rids"))
        .withColumn("rids", F.slice("rids", 1, max_bucket))
    )
    candidates = (
        lagg.join(ragg, ["band_id", "band_hash"])
        .select(F.explode("lids").alias("left_id"), "rids")
        .select("left_id", F.explode("rids").alias("right_id"))
        .distinct()
        # checkpoint: the candidate frame feeds THREE consumers (the
        # pair join plus one semi-join per side's text pruning below);
        # it is small by LSH construction, and without the barrier the
        # band-join subtree re-executes per consumer
        .localCheckpoint()
    )
    # shingle ONLY candidate ids' texts: when one side is a large
    # accumulated corpus (the incremental-ingest gate), verification
    # must not re-shingle the whole history to check a handful of pairs
    lt = left_texts.join(
        candidates.select(F.col("left_id").alias(id_col)).distinct(),
        id_col, "left_semi")
    rt = right_texts.join(
        candidates.select(F.col("right_id").alias(id_col)).distinct(),
        id_col, "left_semi")
    return _jaccard_verify(
        lt, candidates, text_col, id_col, k, threshold,
        df2=rt, id1="left_id", id2="right_id")


def dedup_against(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **lsh_kwargs,
) -> DataFrame:
    """Rows of ``df`` that do NOT near-match any ``reference`` document
    — the incremental-ingest gate ("drop today's near-dups of the
    existing corpus" — within-batch dedup is :func:`minhash_lsh_pairs`'
    job, run separately). One LSH join + one anti-join.

    Note: building the returned frame EXECUTES the LSH join eagerly
    (two ``localCheckpoint`` barriers — the candidate set inside
    :func:`minhash_lsh_join` and the matched-id set here), so this is
    not a purely lazy plan constructor. The matched-id barrier is
    load-bearing: Catalyst pushes a left-anti join below a Union on
    its left side (``PushdownLeftSemiOrAntiJoin``), so a union-shaped
    ``df`` — e.g. yesterday's corpus plus a leak feed — re-embeds the
    whole verification subtree once PER BRANCH and executes it that
    many times (the r10 plan audit read the verify plan twice: 20
    exchanges / 32 scans for a 2-branch batch). Checkpointing the
    matched ids (bounded by the batch's match count — far below
    corpus scale) makes the duplicated right side a leaf, so the
    verify work runs exactly once at any branch count.
    """
    hits = minhash_lsh_join(
        df, reference, text_col=text_col, id_col=id_col, **lsh_kwargs)
    matched = (
        hits.select(F.col("left_id").alias(id_col))
        .distinct()
        .localCheckpoint()
    )
    return df.join(matched, id_col, "left_anti")
