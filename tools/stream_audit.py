"""Plan audit over the STREAMING twins (r10 verdict item #6).

tools/plan_audit.py gates every batch plan in the driver contract, but
the stateful streaming twins (kafi_spark/streaming/stateful.py — the
repo's largest file) were pytest-covered and never plan-audited: a
row-at-a-time Python UDF or a runaway exchange count inside a
foreachBatch body would pass every equivalence test and still be a
scale bug.

This tool drives each twin end-to-end on a small corpus — the two
genuinely-streaming operators via readStream + trigger(availableNow),
the foreachBatch callables by direct epoch invocation (identical
execution path; the callable never knows the difference) — and gates
every Spark SQL execution recorded during the drive with the rule table
of ``tools/plans.py`` and its ``STREAM`` limits:

* ROW_PYTHON_UDF — BatchEvalPython anywhere in an executed plan;
* CARTESIAN — CartesianProduct in an executed plan;
* EXCHANGES>30 — per-execution exchange ceiling in nodes, the same
  number of nodes the batch audit allows a whole pipeline;
* NO_CODEGEN — an execution that shuffles or joins yet compiled zero
  whole-stage-codegen spans, EXCEPT plans built on object aggregates or
  state-store operators (the DataSketches HLL/theta/KLL aggregates never
  enter codegen by design — exempting them keeps the gate meaningful
  for everything else);
* NO_EXECUTIONS — a twin that recorded no SQL execution was not driven.

Executed plans come from the UI's SQL REST endpoint
(``/api/v1/applications/<app>/sql?details=true&planDescription=true``),
whose ``planDescription`` is the formatted plan (the
``spark.sql.ui.explainMode`` default), one HTTP GET per twin. Operators
only found in AQE's ``== Initial Plan ==`` echo are not counted. The
table's ``max_wsc`` is the most codegen spans (distinct codegen ids) in
one execution, the same unit as the batch audit's ``wsc``.

Usage: python tools/stream_audit.py [sf_dir]   (default sf0.001)
Exits non-zero if any twin trips a hard flag.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import plans  # noqa: E402


class _SqlStore:
    """Cursor over the session's SQL-execution status store."""

    def __init__(self, spark):
        self.spark = spark
        self.seen = -1

    def mark(self) -> None:
        self.new_executions()

    def new_executions(self) -> list[dict]:
        execs = plans.rest_get(
            self.spark, "sql?details=true&planDescription=true&length=100000")
        execs = [e for e in execs if e["id"] > self.seen]
        self.seen = max((e["id"] for e in execs), default=self.seen)
        return execs


def _write_json_batches(dir_path: str, batches: list[list[dict]]) -> None:
    os.makedirs(dir_path, exist_ok=True)
    for i, rows in enumerate(batches):
        with open(os.path.join(dir_path, f"b{i}.json"), "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")


def _drive_available_now(out_df, ckpt: str) -> None:
    q = (out_df.writeStream
         .foreachBatch(lambda df, e: df.write.format('noop')
                       .mode('overwrite').save())
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(300)


def _drivers(spark, sf_dir: str, work: str):
    """(name, thunk) per twin — each thunk drives the twin end-to-end.
    Corpus slices come from the sf_dir documents/events tables so the
    audited plans see realistic schemas, not toy literals."""
    from pyspark.sql import functions as F

    from kafi_spark.session import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs = docs.filter(F.col("doc_id") < 300)
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value")
    emb = read_table(spark, sf_dir, "embeddings")

    def batches(df, n=2, key="doc_id"):
        return [df.filter(F.col(key) % n == i) for i in range(n)]

    # every sink FORCES its emission executor-side through the noop
    # DATA SOURCE (a SQL-tracked write): a None sink leaves stateless
    # twins (decontaminate) entirely lazy — zero executions recorded,
    # nothing audited — and df.foreach would execute but be invisible
    # to the SQL store (it is an RDD action, not a SQL execution)
    def noop_sink(out, _epoch) -> None:
        out.write.format("noop").mode("overwrite").save()

    def d_sliding_window():
        from kafi_spark.streaming.stateful import sliding_window_stream

        src = os.path.join(work, "slide_src")
        base = 1_700_000_000_000
        _write_json_batches(src, [
            [{"k": "a", "ts": base + i * 1000, "v": float(i)}
             for i in range(20)],
            [{"k": "a", "ts": base + 3_600_000 * 3, "v": 1.0},
             {"k": "b", "ts": base + 3_600_000 * 3, "v": 2.0}],
        ])
        stream = (spark.readStream.schema("k string, ts long, v double")
                  .option("maxFilesPerTrigger", 1).json(src))
        out = sliding_window_stream(
            stream, ["k"], "ts", 60_000,
            lambda pdf: {"n": len(pdf)}, "n long", payload_cols=["v"])
        _drive_available_now(out, os.path.join(work, "slide_ckpt"))

    def d_dedup_exact():
        from kafi_spark.streaming.stateful import dedup_exact_stream

        src = os.path.join(work, "dexact_src")
        base = 1_700_000_000_000
        _write_json_batches(src, [
            [{"doc_id": 1, "ts": base, "text": "same text"},
             {"doc_id": 2, "ts": base + 1000, "text": "other text"}],
            [{"doc_id": 3, "ts": base + 2000, "text": "same text"},
             {"doc_id": 4, "ts": base + 3000, "text": "third text"}],
        ])
        stream = (spark.readStream
                  .schema("doc_id long, ts long, text string")
                  .option("maxFilesPerTrigger", 1).json(src))
        out = dedup_exact_stream(
            stream.withColumn("ts", F.timestamp_millis(F.col("ts"))),
            "text", "ts", watermark="1 hour")
        q = (out.writeStream
             .foreachBatch(lambda df, e: df.write.format('noop')
                       .mode('overwrite').save())
             .outputMode("append")
             .option("checkpointLocation", os.path.join(work, "dexact_ckpt"))
             .trigger(availableNow=True)
             .start())
        q.awaitTermination(300)

    def run_epochs(proc, parts):
        for i, b in enumerate(parts):
            proc(b, i)

    def d_bloom():
        from kafi_spark.streaming.stateful import bloom_dedup_stream

        proc = bloom_dedup_stream(
            "text", os.path.join(work, "bloom_state"), num_bits=1 << 16,
            num_hashes=5, sink=noop_sink)
        run_epochs(proc, batches(docs))

    def d_span():
        from kafi_spark.streaming.stateful import span_dedup_stream

        proc = span_dedup_stream(
            "text", "doc_id", os.path.join(work, "span_state"),
            span_tokens=8, sink=noop_sink)
        run_epochs(proc, batches(docs))

    def d_substring():
        from kafi_spark.streaming.stateful import substring_dedup_stream

        proc = substring_dedup_stream(
            "text", "doc_id", os.path.join(work, "sub_state"),
            min_tokens=8, sink=noop_sink)
        run_epochs(proc, batches(docs))

    def d_decontaminate():
        from kafi_spark.streaming.stateful import decontaminate_stream

        bench_docs = docs.filter("doc_id % 17 = 0")
        proc = decontaminate_stream(bench_docs, n=8, sink=noop_sink)
        run_epochs(proc, batches(docs))

    def d_curate():
        from kafi_spark.streaming.stateful import curate_documents_stream

        proc = curate_documents_stream(
            "text", "doc_id", state_dir=os.path.join(work, "curate_state"),
            min_quality=0.0, sink=noop_sink)
        run_epochs(proc, batches(docs))

    def d_dedup_against():
        from kafi_spark.streaming.stateful import dedup_against_stream

        proc = dedup_against_stream(
            os.path.join(work, "da_state"), sink=noop_sink)
        run_epochs(proc, batches(docs))

    def d_distinct_sketch():
        from kafi_spark.streaming.stateful import distinct_sketch_stream

        proc = distinct_sketch_stream(
            "user_id", "ts", os.path.join(work, "hll_state"),
            sink=noop_sink)
        run_epochs(proc, batches(events, key="user_id"))

    def d_quantile_sketch():
        from kafi_spark.streaming.stateful import quantile_sketch_stream

        proc = quantile_sketch_stream(
            "value", "ts", os.path.join(work, "kll_state"), sink=noop_sink)
        run_epochs(proc, batches(events, key="user_id"))

    def d_cms_sketch():
        from kafi_spark.streaming.stateful import cms_sketch_stream

        proc = cms_sketch_stream(
            "user_id", "ts", os.path.join(work, "cms_state"),
            sink=noop_sink)
        run_epochs(proc, batches(events, key="user_id"))

    def d_perplexity():
        from kafi_spark.streaming.stateful import perplexity_buckets_stream

        proc = perplexity_buckets_stream(
            docs, os.path.join(work, "ppl_state"), sink=noop_sink)
        run_epochs(proc, batches(docs))

    def d_corpus_report():
        from kafi_spark.streaming.stateful import corpus_report_stream

        proc = corpus_report_stream(
            os.path.join(work, "card_state"), sink=noop_sink)
        run_epochs(proc, batches(docs))

    # embeddings drive nothing stateful today; keep the variable from
    # biting a linter while documenting the available table
    _ = emb
    return [
        ("sliding_window_stream", d_sliding_window),
        ("dedup_exact_stream", d_dedup_exact),
        ("bloom_dedup_stream", d_bloom),
        ("span_dedup_stream", d_span),
        ("substring_dedup_stream", d_substring),
        ("decontaminate_stream", d_decontaminate),
        ("curate_documents_stream", d_curate),
        ("dedup_against_stream", d_dedup_against),
        ("distinct_sketch_stream", d_distinct_sketch),
        ("quantile_sketch_stream", d_quantile_sketch),
        ("cms_sketch_stream", d_cms_sketch),
        ("perplexity_buckets_stream", d_perplexity),
        ("corpus_report_stream", d_corpus_report),
    ]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from kafi_spark.session import get_spark

    spark = get_spark(
        "stream_audit",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    store = _SqlStore(spark)
    work = tempfile.mkdtemp(prefix="stream_audit_")
    failures = []
    print(f"{'twin':28s} {'execs':>5} {'max_exch':>8} {'max_wsc':>7} "
          f"{'pyUDF':>5} {'cart':>4}")
    try:
        for name, thunk in _drivers(spark, sf_dir, work):
            store.mark()
            try:
                thunk()
            except Exception as ex:  # noqa: BLE001
                print(f"{name:28s} ERROR: {ex}")
                failures.append((name, f"RUNTIME: {ex}"))
                continue
            execs = store.new_executions()
            agg = {"execs": len(execs), "max_exch": 0, "max_wsc": 0,
                   "pyUDF": 0, "cart": 0}
            flags = set(plans.check({"execs": len(execs)}, plans.STREAM))
            for e in execs:
                c = plans.counts(plans.read_plan(e.get("planDescription", "")))
                agg["max_exch"] = max(agg["max_exch"], c["exch"])
                agg["max_wsc"] = max(agg["max_wsc"], c["wsc"])
                agg["pyUDF"] += c["pyUDF"]
                agg["cart"] += c["cart"]
                flags.update(plans.check(c, plans.STREAM))
            line = (f"{name:28s} {agg['execs']:>5} {agg['max_exch']:>8} "
                    f"{agg['max_wsc']:>7} {agg['pyUDF']:>5} {agg['cart']:>4}")
            if flags:
                line += "   FLAG: " + ",".join(sorted(flags))
                failures.append((name, ",".join(sorted(flags))))
            print(line, flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if failures:
        print(f"\n{len(failures)} flagged: {[n for n, _ in failures]}")
        return 1
    print("\nall streaming twins clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
