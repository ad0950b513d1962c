"""Custom stateful streaming: per-record sliding windows + custom trigger
policies via applyInPandasWithState (SURVEY §2.9b hard-parity items)."""

import json
import os

from pyspark.sql import functions as F

import pytest


def _write_batch(src_dir, name, rows):
    path = os.path.join(src_dir, name)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run(spark, tmp_path, batches, size_ms, lateness_ms=0, trigger_fun=None):
    from kafi_spark.streaming.stateful import sliding_window_stream

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir, exist_ok=True)
    import time as _time

    base = _time.time() - 3600
    for i, rows in enumerate(batches):
        _write_batch(src_dir, f"b{i}.json", rows)
        # FileStreamSource orders batches by modification time; make the
        # intended sequencing unambiguous
        os.utime(os.path.join(src_dir, f"b{i}.json"), (base + i * 60, base + i * 60))

    stream = (
        spark.readStream.schema("k string, ts long, v double")
        # one file per micro-batch so multi-batch tests really see
        # successive triggers (availableNow honors maxFilesPerTrigger)
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )
    out = sliding_window_stream(
        stream,
        key_cols=["k"],
        ts_col="ts",
        size_ms=size_ms,
        agg_fn=lambda w: {"n": int(len(w)), "total": float(w["v"].sum())},
        agg_schema="n long, total double",
        payload_cols=["v"],
        lateness_ms=lateness_ms,
        trigger_fun=trigger_fun,
    )
    collected = []
    q = (
        out.writeStream.foreachBatch(lambda df, epoch: collected.extend(df.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return sorted((r.k, r.window_end, r.n, r.total) for r in collected)


def _oracle(events, size_ms, wm_per_key):
    """Reference semantics: every event anchors [ts, ts+size); a window
    emits when its key's watermark passes its end."""
    out = []
    for k, ts_a, _ in events:
        end = ts_a + size_ms
        if end > wm_per_key[k]:
            continue
        inside = [(t, v) for (kk, t, v) in events if kk == k and ts_a <= t < end]
        out.append((k, end, len(inside), float(sum(v for _, v in inside))))
    return sorted(set(out))


def test_sliding_window_stream_matches_oracle(spark, tmp_path):
    # one batch; per-key watermark = key's max ts
    rows = [
        {"k": "a", "ts": 0, "v": 1.0},
        {"k": "a", "ts": 40, "v": 2.0},
        {"k": "a", "ts": 90, "v": 4.0},
        {"k": "a", "ts": 500, "v": 8.0},   # advances a's watermark
        {"k": "b", "ts": 10, "v": 1.5},
        {"k": "b", "ts": 300, "v": 2.5},   # advances b's watermark
    ]
    got = _run(spark, tmp_path, [rows], size_ms=100)
    events = [(r["k"], r["ts"], r["v"]) for r in rows]
    want = _oracle(events, 100, {"a": 500, "b": 300})
    assert got == want
    # sanity: window anchored at a/0 contains ts 0,40,90
    assert ("a", 100, 3, 7.0) in got


def test_custom_trigger_delays_emission(spark, tmp_path):
    rows = [
        {"k": "a", "ts": 0, "v": 1.0},
        {"k": "a", "ts": 150, "v": 2.0},
    ]
    # gate: emit only when watermark is >= end + 40 — window [0,100) needs
    # wm >= 140; wm is 150, so it fires; window [150,250) stays open
    got = _run(
        spark, tmp_path, [rows], size_ms=100,
        trigger_fun=lambda end, wm: wm >= end + 40,
    )
    assert got == [("a", 100, 1, 1.0)]


def test_late_event_beyond_lateness_dropped(spark, tmp_path):
    b0 = [
        {"k": "a", "ts": 0, "v": 1.0},
        {"k": "a", "ts": 500, "v": 2.0},
    ]
    b1 = [{"k": "a", "ts": 10, "v": 99.0}]  # 490ms late, lateness 0: drop
    got = _run(spark, tmp_path, [b0, b1], size_ms=100)
    # window [0,100) fired with only the on-time event; the late arrival
    # must not re-open it (no (a, 110, ...) row either)
    assert ("a", 100, 1, 1.0) in got
    assert not any(w == 110 for (_, w, _, _) in got)


def test_checkpoint_restart_carries_state(spark, tmp_path):
    """Stop after batch 1, restart the query on the same checkpoint with a
    new batch: processed files must not be re-read (their events would
    double the counts) and per-key state must be restored (the window
    anchored in run 1 fires in run 2 with run-1 members)."""
    from kafi_spark.streaming.stateful import sliding_window_stream

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    collected = []

    def start():
        stream = spark.readStream.schema("k string, ts long, v double").json(src_dir)
        out = sliding_window_stream(
            stream, ["k"], "ts", 100,
            lambda w: {"n": int(len(w)), "total": float(w["v"].sum())},
            "n long, total double", payload_cols=["v"],
        )
        return (
            out.writeStream.foreachBatch(
                lambda df, epoch: collected.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    _write_batch(src_dir, "b0.json", [
        {"k": "a", "ts": 0, "v": 1.0},
        {"k": "a", "ts": 50, "v": 2.0},
    ])
    q = start()
    q.awaitTermination(120)
    assert collected == []  # watermark at 50: nothing closed yet

    _write_batch(src_dir, "b1.json", [{"k": "a", "ts": 300, "v": 4.0}])
    q = start()
    q.awaitTermination(120)
    got = sorted((r.k, r.window_end, r.n, r.total) for r in collected)
    # run-1 events survived the restart exactly once
    assert got == [("a", 100, 2, 3.0), ("a", 150, 1, 2.0)]


def test_stream_stream_equi_join(spark, tmp_path):
    """SURVEY §2.7: join_equi in streaming = Spark stream-stream equi-join
    with watermarks bounding both sides' state."""
    import datetime

    src_a = str(tmp_path / "a"); os.makedirs(src_a)
    src_b = str(tmp_path / "b"); os.makedirs(src_b)

    def ev(k, ts_s, v):
        return {"k": k, "ts": f"2026-01-01 00:00:{ts_s:02d}", "v": v}

    _write_batch(src_a, "a0.json", [ev(1, 1, "a1"), ev(2, 2, "a2")])
    _write_batch(src_b, "b0.json", [ev(1, 3, "b1"), ev(3, 4, "b3")])

    sa = (spark.readStream.schema("k int, ts string, v string").json(src_a)
          .withColumn("ts", F.to_timestamp("ts")).withWatermark("ts", "10 seconds")
          .selectExpr("k AS ka", "ts AS tsa", "v AS va"))
    sb = (spark.readStream.schema("k int, ts string, v string").json(src_b)
          .withColumn("ts", F.to_timestamp("ts")).withWatermark("ts", "10 seconds")
          .selectExpr("k AS kb", "ts AS tsb", "v AS vb"))
    joined = sa.join(
        sb,
        (F.col("ka") == F.col("kb"))
        & (F.col("tsb") >= F.col("tsa"))
        & (F.col("tsb") <= F.col("tsa") + F.expr("INTERVAL 30 seconds")),
    )
    collected = []
    q = (joined.writeStream
         .foreachBatch(lambda df, e: collected.extend(df.collect()))
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)
    got = sorted((r.ka, r.va, r.vb) for r in collected)
    assert got == [(1, "a1", "b1")]


def test_dedup_exact_stream(spark, tmp_path):
    """Exact-dup copies across micro-batches drop; first occurrence and
    distinct texts survive."""
    from kafi_spark.streaming.stateful import dedup_exact_stream

    src_dir = str(tmp_path / "dedup_in")
    os.makedirs(src_dir, exist_ok=True)
    base_ms = 1_700_000_000_000
    batches = [
        [{"doc_id": 1, "ts": base_ms, "text": "same text"},
         {"doc_id": 2, "ts": base_ms + 1000, "text": "other text"}],
        [{"doc_id": 3, "ts": base_ms + 2000, "text": "same text"},   # dup of 1
         {"doc_id": 4, "ts": base_ms + 3000, "text": "third text"}],
    ]
    import time as _time

    t0 = _time.time() - 3600
    for i, rows in enumerate(batches):
        _write_batch(src_dir, f"b{i}.json", rows)
        os.utime(os.path.join(src_dir, f"b{i}.json"), (t0 + i * 60, t0 + i * 60))

    stream = (
        spark.readStream.schema("doc_id long, ts long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )
    events = stream.withColumn("ts", F.timestamp_millis(F.col("ts")))
    out = dedup_exact_stream(events, "text", "ts", watermark="1 hour")
    collected = []
    q = (
        out.writeStream.foreachBatch(
            lambda df, epoch: collected.extend(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(r.doc_id for r in collected) == [1, 2, 4]


def test_span_dedup_stream_matches_batch_operator(spark, tmp_path):
    """Round-3 VERDICT item 6: replay the batch corpus in 3 micro-batches
    (arrival order = the batch operator's (id, span_id) keeper order) —
    the streamed survivors must equal span_dedup's keep='first'/
    max_occurrences=1 survivors exactly."""
    from kafi_spark.functions.spans import span_dedup
    from kafi_spark.streaming.stateful import span_dedup_stream

    corpus = [
        (1, "a b c d e f"),
        (2, "a b x y"),
        (3, "c d e f c d"),
        (4, "p q"),
        (5, "x y p q a b"),
        (6, "fresh one"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    want = sorted(
        (r.doc_id, r.text, r.n_spans_kept)
        for r in span_dedup(df, span_tokens=2, max_occurrences=1,
                            keep="first").collect()
    )

    got = []
    proc = span_dedup_stream(
        "text", "doc_id", str(tmp_path / "state"), span_tokens=2,
        sink=lambda out, e: got.extend(
            (r.doc_id, r.text, r.n_spans_kept) for r in out.collect()),
    )
    for i, lo in enumerate(range(0, 6, 2)):
        proc(spark.createDataFrame(corpus[lo:lo + 2],
                                   "doc_id long, text string"), i)
    assert sorted(got) == want
    # sanity on the semantics themselves, not just twin equality
    assert (2, "x y", 1) in got and not any(d in (3, 5) for d, _, _ in got)


def test_span_dedup_stream_null_docs_match_batch(spark, tmp_path):
    """Null texts pass through unchanged, exactly like the batch
    operator's null leg — unsplit, a null doc came back as (id, '', 1)
    with a phantom kept span and a null fingerprint in state (r8
    session review)."""
    from kafi_spark.functions.spans import span_dedup
    from kafi_spark.streaming.stateful import span_dedup_stream

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, "")], "doc_id long, text string")
    want = sorted(
        ((r.doc_id, r.text, r.n_spans_kept)
         for r in span_dedup(df, span_tokens=2).collect()), key=str)
    got = []
    proc = span_dedup_stream(
        "text", "doc_id", str(tmp_path / "state"), span_tokens=2,
        sink=lambda out, e: got.extend(
            (r.doc_id, r.text, r.n_spans_kept) for r in out.collect()),
    )
    proc(df, 0)
    assert sorted(got, key=str) == want
    # the null doc's state contribution must be EMPTY, not a null fp
    state = spark.read.parquet(str(tmp_path / "state"))
    assert state.filter("__fp is null").count() == 0


def test_span_dedup_stream_epoch_replay_idempotent(spark, tmp_path):
    from kafi_spark.streaming.stateful import span_dedup_stream

    got = []
    proc = span_dedup_stream(
        "text", "doc_id", str(tmp_path / "state"), span_tokens=2,
        sink=lambda out, e: got.extend(r.doc_id for r in out.collect()))
    b0 = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    proc(b0, 0)
    assert got == [1]
    got.clear()
    # crash-before-commit replay: loaded state excludes the epoch's own
    # delta, so the replay re-emits the SAME survivors as attempt one
    proc(b0, 0)
    assert got == [1]
    # the replay must not have un-seen epoch 0's spans
    got.clear()
    proc(spark.createDataFrame([(2, "a b z z")], "doc_id long, text string"),
         1)
    assert got == [2]  # "a b" dropped, "z z" fresh


def test_decontaminate_stream_matches_batch(spark, sf_dir):
    """Stateless twin: per-document verdicts identical to the batch
    operator under any micro-batch split."""
    from kafi_spark.functions.contamination import decontaminate
    from kafi_spark.session import read_table
    from kafi_spark.streaming.stateful import decontaminate_stream

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter("doc_id % 17 = 0")
    want = sorted(r.doc_id
                  for r in decontaminate(docs, bench, n=8).collect())

    got = []
    proc = decontaminate_stream(
        bench, n=8,
        sink=lambda out, e: got.extend(r.doc_id for r in out.collect()))
    thirds = [docs.filter(f"doc_id % 3 = {i}") for i in range(3)]
    for i, part in enumerate(thirds):
        proc(part, i)
    assert sorted(got) == want and len(got) > 0


def test_substring_dedup_stream_matches_batch_operator(spark, tmp_path):
    """Replay the corpus in 3 micro-batches in ascending-id arrival
    order: streamed output must equal substring_dedup's keep='first'/
    max_occurrences=1 output exactly (including unchanged and emptied
    documents — the batch contract emits every row)."""
    from kafi_spark.functions.spans import substring_dedup
    from kafi_spark.streaming.stateful import substring_dedup_stream

    corpus = [
        (1, "alpha the quick brown fox beta"),
        (2, "the quick brown fox delta"),          # dup run vs doc 1
        (3, "one two three four five"),
        (4, "zz one two three four five qq"),      # dup run vs doc 3
        (5, "the quick brown fox"),                # fully duplicated
        (6, "all fresh words here"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    want = sorted(
        (r.doc_id, r.text, r.n_tokens_removed)
        for r in substring_dedup(df, min_tokens=4).collect()
    )

    got = []
    proc = substring_dedup_stream(
        "text", "doc_id", str(tmp_path / "state"), min_tokens=4,
        sink=lambda out, e: got.extend(
            (r.doc_id, r.text, r.n_tokens_removed) for r in out.collect()),
    )
    for i, lo in enumerate(range(0, 6, 2)):
        proc(spark.createDataFrame(corpus[lo:lo + 2],
                                   "doc_id long, text string"), i)
    assert sorted(got) == want
    by_id = {d: (t, n) for d, t, n in got}
    # cross-BATCH dup cut (doc 4 vs doc 3) and in-batch dup cut (doc 2
    # vs doc 1 arrive together); fully-duplicated doc 5 emitted empty
    assert by_id[4] == ("zz qq", 5)
    assert by_id[2] == ("delta", 4)
    assert by_id[5] == ("", 4)


def test_substring_dedup_stream_null_docs_match_batch(spark, tmp_path):
    """Null texts come back unchanged (the batch contract) — here by
    construction (_sliding_grams' size>=k filter drops NULL word
    arrays, the __iv-null leg returns __orig verbatim), pinned so a
    refactor can't silently diverge the twin like span_dedup_stream's
    did (r8 session review)."""
    from kafi_spark.functions.spans import substring_dedup
    from kafi_spark.streaming.stateful import substring_dedup_stream

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, None), (3, "")], "doc_id long, text string")
    want = sorted(
        ((r.doc_id, r.text, r.n_tokens_removed)
         for r in substring_dedup(df, min_tokens=2).collect()), key=str)
    got = []
    proc = substring_dedup_stream(
        "text", "doc_id", str(tmp_path / "state"), min_tokens=2,
        sink=lambda out, e: got.extend(
            (r.doc_id, r.text, r.n_tokens_removed) for r in out.collect()),
    )
    proc(df, 0)
    assert sorted(got, key=str) == want
    state = spark.read.parquet(str(tmp_path / "state"))
    assert state.filter("__fp is null").count() == 0


def test_substring_dedup_stream_epoch_replay_idempotent(spark, tmp_path):
    from kafi_spark.streaming.stateful import substring_dedup_stream

    got = []
    proc = substring_dedup_stream(
        "text", "doc_id", str(tmp_path / "state"), min_tokens=2,
        sink=lambda out, e: got.extend(
            (e, r.doc_id, r.text) for r in out.collect()))
    b0 = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    proc(b0, 0)
    proc(b0, 0)  # replayed epoch: same delta path overwritten, not doubled
    b1 = spark.createDataFrame([(2, "a b c d")], "doc_id long, text string")
    proc(b1, 1)
    # first epoch emission unchanged on replay; doc 2's text fully cut
    assert [(d, t) for e, d, t in got if e == 0] == [(1, "a b c d")] * 2
    assert [(d, t) for e, d, t in got if e == 1] == [(2, "")]


def _curation_corpus():
    """English-looking docs with planted exact dups and near-dup pairs.
    Clusters are PAIRS (the in-batch chain caveat documented on
    curate_documents_stream never triggers), content words are disjoint
    across clusters (no accidental LSH band collisions)."""
    # Distinct docs are FULLY distinct sentences (a shared template would
    # make them LSH band candidates that batch verification rejects but
    # the stream's band rule drops — the documented divergence this test
    # must stay clear of); near-dups are END-appended perturbations of
    # long docs, shingle Jaccard ~0.9, comfortably past the batch 0.7
    # verification threshold.
    d1 = ("the quick brown fox jumps over one lazy dog and it runs into "
          "the deep green forest before dawn breaks over quiet hills")
    d4 = ("a silver ship sails from the old harbor while the captain "
          "watches seven white birds circle above the cold grey waves")
    d6 = ("my neighbor planted rows of tall corn behind his red barn "
          "because the summer rain made all of the soil dark and rich")
    d7 = ("students in the library read ancient maps about distant "
          "islands where traders once sold rare spice and smooth silk")
    d9 = ("an engine hums beneath the steel bridge as long trains carry "
          "coal through the misty valley every single night this year")
    return [
        (1, d1),
        (2, d1),               # exact dup of 1
        (3, d1 + " today"),    # near-dup of 1
        (4, d4),
        (5, d4 + " slowly"),   # near-dup of 4
        (6, d6),
        (7, d7),
        (8, d7),               # exact dup of 7
        (9, d9),
    ]


def test_curate_documents_stream_matches_batch(spark, tmp_path):
    """Round-4 VERDICT item 5: the flagship curation pipeline's streaming
    twin — 3-micro-batch ascending-id replay must reproduce the batch
    pipeline's survivors (first-arrived == lowest-id under this order)."""
    from kafi_spark.functions.pipeline import curate_documents
    from kafi_spark.streaming.stateful import curate_documents_stream

    corpus = _curation_corpus()
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    want = sorted(
        (r.doc_id, r.n_tokens, round(r.quality, 9))
        for r in curate_documents(df, min_quality=0.0).collect()
    )
    # the planted dups actually exercised both dedup stages
    want_ids = [i for i, _, _ in want]
    assert 2 not in want_ids and 3 not in want_ids and 8 not in want_ids
    assert 5 not in want_ids
    assert {1, 4, 6, 7, 9} == set(want_ids)

    got = []
    proc = curate_documents_stream(
        "text", "doc_id", state_dir=str(tmp_path / "state"),
        min_quality=0.0,
        sink=lambda out, e: got.extend(
            (r.doc_id, r.n_tokens, round(r.quality, 9))
            for r in out.collect()),
    )
    for i, lo in enumerate(range(0, 9, 3)):
        proc(spark.createDataFrame(corpus[lo:lo + 3],
                                   "doc_id long, text string"), i)
    assert sorted(got) == want


def test_curate_documents_stream_epoch_replay_idempotent(spark, tmp_path):
    from kafi_spark.streaming.stateful import curate_documents_stream

    corpus = _curation_corpus()
    got = []
    proc = curate_documents_stream(
        "text", "doc_id", state_dir=str(tmp_path / "state"),
        min_quality=0.0,
        sink=lambda out, e: got.extend(r.doc_id for r in out.collect()),
    )
    b0 = spark.createDataFrame(corpus[:3], "doc_id long, text string")
    proc(b0, 0)
    first = sorted(got)
    assert first == [1]  # 2 exact-dropped, 3 near-dropped in-batch
    got.clear()
    # crash-before-commit replay: both state loads exclude epoch 0's own
    # deltas, so the replay re-emits exactly attempt one's survivors
    proc(b0, 0)
    assert sorted(got) == first
    got.clear()
    # and the replay must not have un-seen epoch 0: an exact copy of doc
    # 1 and a near-copy of doc 1 both drop next epoch; fresh doc passes
    proc(spark.createDataFrame(
        [(10, corpus[0][1]),
         (11, corpus[2][1] + " anew"),
         (12, "fresh bakers knead warm dough at five in the morning so "
              "the small town wakes to the smell of sweet crusty bread")],
        "doc_id long, text string"), 1)
    assert sorted(got) == [12]


def test_dedup_against_stream_matches_sequential_batch(spark, sf_dir, tmp_path):
    """3-micro-batch replay == folding dedup_against sequentially with
    an accumulating reference (the batch-operator semantics applied
    epoch by epoch)."""
    from kafi_spark.functions.dedup import dedup_against
    from kafi_spark.streaming.stateful import dedup_against_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    # deterministic thirds with planted cross-batch near-dups: batch i
    # re-contains verbatim copies of earlier batches' docs under new ids
    b0 = docs.filter("doc_id % 3 = 0")
    b1 = docs.filter("doc_id % 3 = 1").unionByName(
        docs.filter("doc_id % 3 = 0 and doc_id < 90").select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    b2 = docs.filter("doc_id % 3 = 2").unionByName(
        docs.filter("doc_id % 3 = 1 and doc_id < 91").select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"))

    survivors = {}
    proc = dedup_against_stream(
        str(tmp_path / "state"),
        sink=lambda s, e: survivors.update({e: {r.doc_id for r in s.collect()}}))
    for i, b in enumerate([b0, b1, b2]):
        proc(b, i)

    # sequential batch fold over the same epochs
    want0 = {r.doc_id for r in b0.collect()}
    ref = b0
    got1 = dedup_against(b1, ref)
    want1 = {r.doc_id for r in got1.collect()}
    ref = ref.unionByName(got1)
    want2 = {r.doc_id for r in dedup_against(b2, ref).collect()}

    assert survivors[0] == want0
    assert survivors[1] == want1
    assert survivors[2] == want2
    # the planted verbatim leaks were all dropped
    assert not any(i >= 1_000_000 for i in survivors[1] | survivors[2])


def test_dedup_against_stream_replay_idempotent(spark, sf_dir, tmp_path):
    from kafi_spark.streaming.stateful import dedup_against_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    emitted = []
    proc = dedup_against_stream(
        str(tmp_path / "state"),
        sink=lambda s, e: emitted.append(sorted(
            r.doc_id for r in s.collect())))
    b0 = docs.filter("doc_id < 100")
    b1 = docs.filter("doc_id >= 100 and doc_id < 200")
    proc(b0, 0)
    proc(b1, 1)
    # crash-before-commit replay of epoch 1: its own partial state is
    # excluded from the load, so survivors are identical — nothing
    # self-matches into oblivion
    proc(b1, 1)
    assert emitted[1] == emitted[2]
    import os
    # state holds exactly the two epochs' band + doc deltas
    assert sorted(os.listdir(tmp_path / "state")) == ["bands", "docs"]
    assert sorted(os.listdir(tmp_path / "state" / "bands")) == ["v=0", "v=1"]


def test_dedup_against_stream_compaction(spark, sf_dir, tmp_path):
    """Folding the state between epochs preserves gate behavior, and a
    crash-compaction (no _SUCCESS) is invisible."""
    import os
    import shutil

    from kafi_spark.streaming.stateful import (
        dedup_against_stream, dedup_state_compact)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    state = str(tmp_path / "state")
    out = []
    proc = dedup_against_stream(
        state, sink=lambda s, e: out.append({r.doc_id for r in s.collect()}))
    proc(docs.filter("doc_id < 100"), 0)
    proc(docs.filter("doc_id >= 100 and doc_id < 200"), 1)
    # watermark = newest - 1: the newest epoch stays OUT of the fold so
    # its crash-replay's own-epoch exclusion still works
    assert dedup_state_compact(spark, state) == 0
    # crash-replay of the newest epoch AFTER compaction: identical
    # survivors (its rows are not hiding inside the compact)
    out_before = out[1]
    proc(docs.filter("doc_id >= 100 and doc_id < 200"), 1)
    assert out[2] == out_before

    # epoch 2 re-sends epoch-0 docs verbatim: all dropped via the fold
    proc(docs.filter("doc_id < 50").select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"), 2)
    assert out[3] == set()

    # crashed compaction: no _SUCCESS -> reader ignores the dir
    bad = os.path.join(state, "bands", "v=compact-9")
    shutil.copytree(os.path.join(state, "bands", "v=compact-0"), bad)
    os.remove(os.path.join(bad, "_SUCCESS"))
    proc(docs.filter("doc_id >= 50 and doc_id < 60").select(
        (F.col("doc_id") + 6_000_000).alias("doc_id"), "text"), 3)
    assert out[4] == set()                    # still all near-matched


def test_perplexity_buckets_stream_matches_batch_and_replays(
    spark, sf_dir, tmp_path
):
    """Streaming CCNet banding twin: scores are deterministic and equal
    the batch op's; the LAST micro-batch bands against KLL state over
    the whole arrived corpus, so its bands agree with the batch
    percentile_approx banding up to sketch accuracy at the cut
    boundaries; a crash-replay of an epoch re-emits identical rows."""
    from kafi_spark.functions.importance import perplexity_buckets
    from kafi_spark.session import read_table
    from kafi_spark.streaming.stateful import perplexity_buckets_stream

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text")
    ref = docs.filter(F.col("doc_id") % 3 == 0)

    batch = {r["doc_id"]: (r["lm_score"], r["ppl_bucket"])
             for r in perplexity_buckets(docs, ref, by="lang").collect()}

    state = str(tmp_path / "ppl")
    emissions: dict[int, dict] = {}

    def sink(df, epoch):
        emissions[epoch] = {
            r["doc_id"]: (r["lm_score"], r["ppl_bucket"])
            for r in df.collect()
        }

    proc = perplexity_buckets_stream(ref, state, by="lang", sink=sink)
    parts = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for i, p in enumerate(parts):
        proc(p, i)
    assert sum(len(e) for e in emissions.values()) == docs.count()

    # scores are sketch-free and must equal the batch op's exactly
    for em in emissions.values():
        for did, (score, _) in em.items():
            want = batch[did][0]
            if want is None:
                assert score is None
            else:
                assert score == pytest.approx(want, rel=1e-12)

    # arrival-order semantics: the final batch sees state over the whole
    # corpus, so its bands match the batch op except within KLL rank
    # error of the cut points
    last = dict(emissions[2])
    agree = sum(1 for did, (_, b) in last.items() if b == batch[did][1])
    assert agree / len(last) >= 0.9, f"{agree}/{len(last)} bands agree"

    # crash-before-commit replay of epoch 2: byte-identical emission
    proc(parts[2], 2)
    assert emissions[2] == last


def test_decontaminate_stream_null_docs_match_batch(spark):
    """Null-doc family contract (r9 audit): null texts shingle to
    nothing, so they are never contaminated — batch keeps them
    unchanged, and the stateless twin (batch operator per micro-batch)
    must agree row-for-row."""
    from kafi_spark.functions.contamination import decontaminate
    from kafi_spark.streaming.stateful import decontaminate_stream

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, ""),
         (4, "alpha beta gamma delta epsilon")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string")
    want = sorted(((r.doc_id, r.text) for r in
                   decontaminate(docs, bench, n=4).collect()), key=str)
    got = []
    proc = decontaminate_stream(
        bench, n=4,
        sink=lambda out, e: got.extend((r.doc_id, r.text)
                                       for r in out.collect()))
    proc(docs, 0)
    assert sorted(got, key=str) == want
    # the null and empty docs must be KEPT (nothing to match), the
    # contaminated ones dropped
    assert {d for d, _ in got} == {2, 3}


def test_curate_documents_stream_null_docs_match_batch(spark, tmp_path):
    """Null-doc family contract (r9 audit): the batch pipeline's
    language gate drops null texts (lang_guess 'und'); the twin must
    drop them identically AND keep them out of BOTH persisted states
    (md5(null) is null — an unfiltered null fingerprint would poison
    the exact-dedup state the way span_dedup_stream's null span did in
    r8)."""
    from kafi_spark.functions.pipeline import curate_documents
    from kafi_spark.streaming.stateful import curate_documents_stream

    text = ("the quick brown fox jumps over the lazy dog and the cat "
            "is in the house with the mouse")
    docs = spark.createDataFrame(
        [(1, text), (2, None), (3, ""), (4, text + " tail")],
        "doc_id long, text string")
    want = sorted(r.doc_id for r in curate_documents(docs).collect())
    got = []
    proc = curate_documents_stream(
        state_dir=str(tmp_path / "state"),
        sink=lambda out, e: got.extend(r.doc_id for r in out.collect()))
    proc(docs, 0)
    assert sorted(got) == want and 2 not in got and 3 not in got
    exact = spark.read.parquet(str(tmp_path / "state" / "exact"))
    assert exact.filter("__fp is null").count() == 0


def test_custom_trigger_held_window_admits_late_members(spark, tmp_path):
    """Round-9 review: a custom gate HOLDS window [0,100) open past its
    close; a late event inside it (ts=40) used to be dropped by the
    wm_prev admission filter — the held window then fired with partial
    contents, contradicting the eviction logic that deliberately keeps
    held windows' members resident."""
    b0 = [{"k": "a", "ts": 0, "v": 1.0}, {"k": "a", "ts": 150, "v": 8.0}]
    b1 = [{"k": "a", "ts": 40, "v": 2.0}]   # late, but its window is held
    b2 = [{"k": "a", "ts": 400, "v": 16.0}]  # releases the gate
    got = _run(
        spark, tmp_path, [b0, b1, b2], size_ms=100,
        trigger_fun=lambda end, wm: wm >= end + 200,
    )
    # [0,100) fires with BOTH members; the late event's own anchor
    # [40,140) fires too (it contains only ts=40)
    assert ("a", 100, 2, 3.0) in got
    assert ("a", 140, 1, 2.0) in got


def test_sliding_window_nested_agg_schema_names(spark, tmp_path):
    """Round-9 review: agg_schema was split on every comma, so a nested
    type ("struct<lo:bigint,hi:bigint>") broke the output column list.
    Bracket-aware parsing must handle nested aggregates."""
    import time as _time

    from kafi_spark.streaming.stateful import sliding_window_stream

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir, exist_ok=True)
    _write_batch(src_dir, "b0.json", [
        {"k": "a", "ts": 0, "v": 1.0},
        {"k": "a", "ts": 40, "v": 2.0},
        {"k": "a", "ts": 500, "v": 4.0},
    ])
    stream = (spark.readStream.schema("k string, ts long, v double")
              .json(src_dir))
    out = sliding_window_stream(
        stream, key_cols=["k"], ts_col="ts", size_ms=100,
        agg_fn=lambda w: {
            "rng": {"lo": int(w["ts"].min()), "hi": int(w["ts"].max())},
            "n": int(len(w))},
        agg_schema="rng struct<lo:bigint,hi:bigint>, n long",
        payload_cols=["v"],
    )
    collected = []
    q = (out.writeStream.foreachBatch(
            lambda df, e: collected.extend(df.collect()))
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.k, r.window_end): (r.rng.lo, r.rng.hi, r.n)
           for r in collected}
    assert got[("a", 100)] == (0, 40, 2)
    assert got[("a", 140)] == (40, 40, 1)


def test_numeric_epoch_lineage_fence(spark, tmp_path):
    """Round-9 review: a query restarted with a FRESH checkpoint
    restarts epoch ids at 0, and save_delta's idempotent overwrite
    silently destroyed committed history. Writing below the committed
    frontier must refuse; rewriting one's OWN epoch (crash replay) and
    advancing stay legal."""
    from kafi_spark.functions.state import save_delta

    d = spark.createDataFrame([(1,)], "x long")
    sd = str(tmp_path / "st")
    save_delta(d, sd, 0)
    save_delta(d, sd, 1)
    save_delta(d, sd, 1)   # crash replay of the frontier epoch: legal
    save_delta(d, sd, 2)   # monotone advance: legal
    with pytest.raises(ValueError, match="restarted epoch ids"):
        save_delta(d, sd, 0)
    # the sketch/kll save paths route through the same fence
    from kafi_spark.functions.sketches import kll_save_delta

    with pytest.raises(ValueError, match="restarted epoch ids"):
        kll_save_delta(d, sd, 1)


def test_bloom_dedup_stream_deterministic_representative(spark, tmp_path):
    """Round-9 review: dropDuplicates kept an arbitrary row per text, so
    a crash-replayed epoch could emit a DIFFERENT representative than
    the first attempt. The winner must be a pure function of the data:
    min full-row hash."""
    from kafi_spark.streaming.stateful import bloom_dedup_stream

    df = spark.createDataFrame(
        [(3, "x", "p"), (7, "x", "q"), (9, "y", "r")],
        "doc_id long, text string, extra string")
    want_x = df.filter("text = 'x'").orderBy(
        F.xxhash64("doc_id", "text", "extra")).first()
    got = []
    proc = bloom_dedup_stream(
        "text", str(tmp_path / "state"), num_bits=1 << 12, num_hashes=3,
        sink=lambda out, e: got.extend(
            (r.doc_id, r.text, r.extra) for r in out.collect()))
    proc(df, 0)
    assert sorted(got) == sorted(
        [(want_x.doc_id, "x", want_x.extra), (9, "y", "r")])
    # replay of the same epoch re-emits the identical rows
    replay = []
    proc2 = bloom_dedup_stream(
        "text", str(tmp_path / "state"), num_bits=1 << 12, num_hashes=3,
        sink=lambda out, e: replay.extend(
            (r.doc_id, r.text, r.extra) for r in out.collect()))
    proc2(df, 0)
    assert sorted(replay) == sorted(got)


@pytest.mark.parametrize("make", ["span", "substring"])
def test_legacy_string_fingerprint_state_refused(spark, tmp_path, make):
    """Fingerprint state written by the md5-string scheme is refused
    before the epoch writes anything: a bigint fingerprint never
    matches a string one, so reading on would re-emit history."""
    from kafi_spark.streaming.stateful import (
        span_dedup_stream, substring_dedup_stream)

    state = str(tmp_path / "state")
    legacy = spark.createDataFrame([("a b",)], "span string").select(
        F.md5("span").alias("__fp"))
    legacy.write.parquet(f"{state}/v=0")
    twin = span_dedup_stream if make == "span" else substring_dedup_stream
    proc = twin("text", "doc_id", state, 2, sink=None)
    batch = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match=r"stores __fp as string.*bigint"):
        proc(batch, 1)
    assert sorted(os.listdir(state)) == ["v=0"]


def _retry_twins():
    """(name, factory(state_dir, sink), state families) for the five
    twins whose load excludes the epoch's own delta."""
    from kafi_spark.streaming import stateful as st

    return {
        "bloom": (lambda d, sink: st.bloom_dedup_stream(
            "text", d, num_bits=1 << 12, num_hashes=3, sink=sink), [""]),
        "span": (lambda d, sink: st.span_dedup_stream(
            "text", "doc_id", d, span_tokens=4, sink=sink), [""]),
        "substring": (lambda d, sink: st.substring_dedup_stream(
            "text", "doc_id", d, min_tokens=4, sink=sink), [""]),
        "curate": (lambda d, sink: st.curate_documents_stream(
            "text", "doc_id", state_dir=d, min_quality=0.0, sink=sink),
            ["exact", "bands"]),
        "dedup_against": (lambda d, sink: st.dedup_against_stream(
            d, sink=sink), ["bands", "docs"]),
    }


@pytest.mark.parametrize("twin", ["bloom", "span", "substring", "curate",
                                  "dedup_against"])
def test_sink_failure_retry_matches_clean_run(spark, tmp_path, twin):
    """The sink runs after every delta is saved. A sink that fails once
    leaves epoch 1's deltas behind; the retried epoch 1 and the
    following epoch 2 must emit exactly what a clean run emits."""
    make, families = _retry_twins()[twin]
    corpus = _curation_corpus()
    schema = "doc_id long, text string"
    batches = [
        spark.createDataFrame(corpus[0:3], schema),
        # a verbatim re-send of doc 1 next to fresh docs
        spark.createDataFrame(corpus[3:6] + [(10, corpus[0][1])], schema),
        # and a near copy of doc 4 next to fresh docs
        spark.createDataFrame(
            corpus[6:9] + [(11, corpus[3][1] + " again")], schema),
    ]

    def run(state, fail_epoch=None):
        emitted, failed = {}, []

        def sink(out, epoch):
            if epoch == fail_epoch and not failed:
                failed.append(epoch)
                raise RuntimeError("sink unavailable")
            emitted[epoch] = sorted(map(tuple, out.collect()))

        proc = make(state, sink)
        for epoch, batch in enumerate(batches):
            if epoch == fail_epoch:
                with pytest.raises(RuntimeError, match="sink unavailable"):
                    proc(batch, epoch)
                for fam in families:
                    assert os.path.exists(
                        os.path.join(state, fam, f"v={epoch}", "_SUCCESS"))
            proc(batch, epoch)
        return emitted

    clean = run(str(tmp_path / "clean"))
    retried = run(str(tmp_path / "retried"), fail_epoch=1)
    assert retried == clean
    # the epochs really exercised the state: doc 10 repeats doc 1, so
    # it is dropped, or (substring twin) emitted with every token cut
    kept = {row[0]: row for row in clean[1]}
    assert 10 not in kept or kept[10][1] == ""
