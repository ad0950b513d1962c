"""The four closed-loop workloads.

Each workload is driven by one client: the next operation starts only when
the previous one has returned and its result is materialised. A workload
loads its seeded inputs (see ``gen``) into the program in ``prepare``, does
its untimed ``warmup`` work, then runs ``op`` repeatedly; ``check`` compares
everything the operations returned with the generator's truth. Only calls
into the program's public functions sit inside spans.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import tempfile
import time

from pyspark.sql import functions as F

import gen

WARMUP_SEED = 1_000_003      # added to --seed for a warm-up stream


def _utc(ms: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)


def _files(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    n = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class Workload:
    name = ""
    unit = ""                # what one op is, for the report
    traced_ops = 1           # ops in a traced run's traced phase

    def __init__(self, bench, seed: int, smoke: bool):
        self.bench = bench
        self.seed = seed
        self.smoke = smoke
        self.results: list[dict] = []

    @property
    def spark(self):
        return self.bench.spark

    def span(self, name):
        return self.bench.tracer.span(name)

    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        """Untimed work after set-up, so timed ops run warm."""
        raise NotImplementedError

    def op(self) -> tuple[int, float | None] | None:
        """One unit of work: (input records handled, seconds the records
        rate is taken over, or None for the whole op); None instead when
        the pre-made input is used up."""
        raise NotImplementedError

    def check(self) -> tuple[int, list[str]]:
        """(checks made, mismatches) over every op run so far."""
        raise NotImplementedError

    def traced_tail(self) -> None:
        """Traced work after the traced ops, outside the per-op times."""

    def cleanup(self) -> None:
        """Drop what the ops left on disk, once checks are done."""

    def layer_extras(self, per: dict) -> dict:
        """Workload-specific per-layer measures, given the per-call ones."""
        return {}


# ----------------------------------------------------------- topic_shell

class TopicShell(Workload):
    """Produce a keyed JSON log into a fresh 8-partition FS topic in several
    appends, then run the kafi verbs over it. A traced run also runs a few
    ``stream_steps`` steps after its ops (see ``StreamSteps``), so the
    Streams layers are measured on a listed workload."""

    name = "topic_shell"
    unit = "produce + verb pass over a fresh topic"

    def _sizes(self):
        return (2_000, 200) if self.smoke else (20_000, 2_000)

    def prepare(self):
        from kafi_spark.storage import Local

        n, keys = self._sizes()
        self.log = gen.topic_log(self.seed, n, 4, keys)
        self.frames = self._frames(self.log)
        self.store = Local(self.spark, os.path.join(self.bench.run_dir, "topics"))
        self.cycle = 0
        self.stream = None
        if self.bench.args.trace:
            self.stream = StreamSteps(self.bench, self.seed, self.smoke,
                                      n_steps=WARMUP_STEPS + StreamSteps.traced_ops)
            self.stream.prepare()

    def _frames(self, log):
        return [self.spark.createDataFrame(
            b, "key binary, value binary, timestamp long") for b in log.batches]

    def warmup(self):
        """One full-size cycle from the warm-up seed stream, then one on the
        run's own log (see ``CurateBatch.warmup``)."""
        keep = self.log, self.frames
        n, keys = self._sizes()
        self.log = gen.topic_log(self.seed + WARMUP_SEED, n, 4, keys)
        self.frames = self._frames(self.log)
        self.op()
        self.log, self.frames = keep
        self.op()
        self.results.clear()
        if self.stream is not None:
            self.stream.warmup()
            self.stream.prefetch()

    def op(self):
        from kafi_spark.functional import fmap_py

        st, log = self.store, self.log
        topic = f"t{self.cycle}"
        self.cycle += 1
        r = {"topic": topic, "log": log}
        st.create(topic, partitions=8)
        t0 = time.perf_counter()
        for df, b in zip(self.frames, log.batches):
            with self.span("fs_topic.produce") as a:
                st.produce(topic, df, keep_timestamps=True)
                a["rows"] = len(b)
        produce_s = time.perf_counter() - t0
        with self.span("storage.l") as a:
            r["l"] = st.l(topic)
            a["rows"] = len(r["l"])
        with self.span("fs_topic.watermarks") as a:
            wm = r["wm"] = st.watermarks(topic)
            a["rows"] = len(wm)
        with self.span("fs_topic.consume") as a:
            r["all"] = a["rows"] = st.consume(topic).count()
        lo = {p: h // 4 for p, (_, h) in wm.items()}
        hi = {p: h // 2 for p, (_, h) in wm.items()}
        with self.span("fs_topic.consume") as a:
            r["bounded"] = a["rows"] = st.consume(
                topic, offsets=lo, end_offsets=hi).count()
        r["bounded_want"] = sum(hi[p] - lo[p] + 1 for p in wm)
        t0, t1 = log.ts_window
        with self.span("fs_topic.consume") as a:
            r["ts"] = a["rows"] = st.consume(
                topic, ts_start=_utc(t0), ts_end=_utc(t1)).count()
        with self.span("shell.grep") as a:
            r["grep"] = a["rows"] = st.grep(topic, gen.GREP_PATTERN).count()
        with self.span("shell.wc") as a:
            r["wc"] = st.wc(topic).collect()[0]
            a["rows"] = 1
        with self.span("shell.tail") as a:
            r["tail"] = st.tail(topic, 10).select("partition", "offset").collect()
            a["rows"] = len(r["tail"])
        with self.span("addons.compact") as a:
            r["compact"] = a["rows"] = st.compact(topic).count()

        def upper(rec):
            v = rec["value"]
            return {"key": rec["key"], "value": None if v is None else v.upper()}

        c0, c1 = log.cp_window
        with self.span("fs_topic.cp") as a:
            before = self.bench.proc.snapshot() if self.bench.traced else None
            st.cp(topic, st, f"{topic}_up",
                  transform=lambda df: fmap_py(
                      df.select("key", "value"), upper,
                      "key binary, value binary"),
                  ts_start=_utc(c0), ts_end=_utc(c1))
            if before is not None:
                a["py_worker_cpu_s"] = (self.bench.proc.snapshot()
                                        ["py_worker_cpu_s"]
                                        - before["py_worker_cpu_s"])
            r["cp_span"] = a
        self.results.append(r)
        return log.n, produce_s

    def check(self):
        errs, n = [], 0

        def expect(what, got, want):
            nonlocal n
            n += 1
            if got != want:
                errs.append(f"{what}: got {got}, want {want}")

        for r in self.results:
            log, t = r["log"], r["topic"]
            expect(f"{t} watermark sum", sum(h - l for l, h in r["wm"].values()), log.n)
            expect(f"{t} l()", r["l"].get(t), log.n)
            expect(f"{t} consume", r["all"], log.n)
            expect(f"{t} offset-bounded consume", r["bounded"], r["bounded_want"])
            expect(f"{t} ts-bounded consume", r["ts"], log.ts_window_count)
            expect(f"{t} grep", r["grep"], log.grep_matches)
            expect(f"{t} wc messages", r["wc"]["n_messages"], log.n)
            hi7 = r["wm"][7][1]
            expect(f"{t} tail", [tuple(x) for x in r["tail"]],
                   [(7, hi7 - 1 - i) for i in range(10)])
            expect(f"{t} compact", r["compact"], log.compacted)
            up = f"{t}_up"
            copied = sum(h - l for l, h in self.store.watermarks(up).values())
            r["cp_span"]["rows"] = copied
            expect(f"{t} cp rows", copied, log.cp_count)
            expect(f"{t} cp mapped", self.store.grep(
                up, gen.GREP_PATTERN.upper()).count(), log.cp_gold)
        if self.stream is not None:
            m, e = self.stream.check()
            n, errs = n + m, errs + [f"stream: {x}" for x in e]
        return n, errs

    def traced_tail(self):
        for _ in range(self.stream.traced_ops):
            self.stream.op()

    def cleanup(self):
        for r in self.results:
            self.store.delete(r["topic"])
            self.store.delete(r["topic"] + "_up")

    def layer_extras(self, per):
        files = size = 0
        for r in self.results:
            f, s = _files(self.store._data_dir(r["topic"]))
            files, size = files + f, size + s
        cycles = max(len(self.results), 1)
        consume_rows = per.get("fs_topic.consume.rows_out", 0)
        return {
            "fs_topic.produce.files": files / cycles,
            "fs_topic.stored_bytes_per_user_byte":
                size / (cycles * self.log.user_bytes),
            "fs_topic.consume.rows_scanned_per_row":
                per.get("fs_topic.consume.rows_scanned", 0) / max(consume_rows, 1),
            "functional.fmap_py.py_worker_cpu_s": sum(
                r["cp_span"].get("py_worker_cpu_s", 0.0)
                for r in self.results),
            "incremental.step.state_rows": self.stream.state_rows(),
        }


# ---------------------------------------------------------- curate_batch

_SPAN_TOKENS = 50


class CurateBatch(Workload):
    """The full curation pipeline over a near-duplicate-heavy corpus. A
    traced run also feeds one epoch through the pipeline's streaming twin,
    ``curate_documents_stream`` (see ``IngestEpochs``), after its ops: an
    epoch costs 20-30 s whatever its size, too much for every untraced
    run, but its layer figures must come from a listed workload."""

    name = "curate_batch"
    unit = "one curate_documents_extended pass"

    def _size(self):
        return 300 if self.smoke else 1_000

    def prepare(self):
        """The corpus goes through parquet, so the pipeline starts from a
        file scan as it would in production."""
        self.corpus = gen.curation_corpus(self.seed, self._size())
        self._load("corpus")
        self.ingest = None
        if self.bench.args.trace:
            self.ingest = IngestEpochs(self.bench, self.seed, self.smoke,
                                       n_epochs=1)
            self.ingest.prepare()

    def _load(self, name):
        path = os.path.join(self.bench.run_dir, name)
        self.spark.createDataFrame(
            self.corpus.docs, "doc_id long, text string").write.parquet(path)
        self.df = self.spark.read.parquet(path)
        self.eval_df = self.spark.createDataFrame(
            self.corpus.eval_docs, "doc_id long, text string")

    def warmup(self):
        """One full-size pass from the warm-up seed stream, then one on the
        run's own corpus. The first op of a session runs cold (JIT, code
        generation) at two to three times a later op's cost, the second
        still at about 1.3 times. The second runs on the corpus the timed
        ops repeat, so it is the first timed op moved into set-up."""
        keep = self.corpus, self.df, self.eval_df
        self.corpus = gen.curation_corpus(self.seed + WARMUP_SEED, self._size())
        self._load("warmup-corpus")
        self.op()
        self.corpus, self.df, self.eval_df = keep
        self.op()
        self.results.clear()

    def op(self):
        if self.bench.traced:
            ids = self._staged()
        else:
            from kafi_spark.functions.pipeline import curate_documents_extended

            with self.span("pipeline.curate_documents_extended") as a:
                rows = curate_documents_extended(
                    self.df, span_tokens=_SPAN_TOKENS, eval_df=self.eval_df,
                    decontam_n=8).select("doc_id").collect()
                a["rows"] = len(rows)
            ids = [r.doc_id for r in rows]
        self.results.append({"ids": ids, "traced": self.bench.traced,
                             "corpus": self.corpus})
        return self.corpus.planted["docs"], None

    def _staged(self) -> list[int]:
        """The stages ``curate_documents_extended`` composes, called one by
        one in its order with each output checkpointed, so each stage's
        Spark jobs fall inside its own span."""
        from kafi_spark.functions.contamination import decontaminate
        from kafi_spark.functions.dedup import (
            dedup_exact, keep_representatives, minhash_lsh_pairs)
        from kafi_spark.functions.spans import span_dedup
        from kafi_spark.functions.text import text_stats

        ck = lambda d: d.localCheckpoint(eager=True)  # noqa: E731
        src = self.df.select("doc_id", "text")
        with self.span("spans.span_dedup") as a:
            s = ck(span_dedup(src, "text", "doc_id", span_tokens=_SPAN_TOKENS)
                   .select("doc_id", "text"))
            a["rows"] = s.count()
        with self.span("contamination.decontaminate") as a:
            d = ck(decontaminate(s, self.eval_df, n=8, text_col="text",
                                 id_col="doc_id").select("doc_id", "text"))
            a["rows"] = d.count()
        with self.span("text.text_stats") as a:
            kept = ck(text_stats(d, "text", "doc_id").filter(
                (F.col("lang_guess") == "en") & (F.col("quality") >= 0.5)))
            a["rows"] = kept.count()
        with self.span("dedup.dedup_exact") as a:
            keep_ids = dedup_exact(
                d.join(kept.select("doc_id"), "doc_id", "left_semi"),
                "text", "doc_id").select("doc_id")
            s1 = ck(kept.join(keep_ids, "doc_id", "left_semi"))
            a["rows"] = s1.count()
        with self.span("dedup.minhash_lsh_pairs") as a:
            pairs = ck(minhash_lsh_pairs(
                d.join(s1.select("doc_id"), "doc_id", "left_semi"),
                "text", "doc_id", k=3, threshold=0.7, verify_df=d))
            a["rows"] = pairs.count()
        with self.span("dedup.keep_representatives") as a:
            final = keep_representatives(pairs, s1.select("doc_id"), "doc_id")
            rows = s1.join(final, "doc_id", "left_semi").select(
                "doc_id").collect()
            a["rows"] = len(rows)
        self.stage_frames = {"src": src, "spans": s, "decontam": d,
                             "pairs": pairs}
        return [r.doc_id for r in rows]

    def traced_tail(self):
        self.ingest.op()

    def check(self):
        errs, n = [], 0
        composed = None
        for r in self.results:
            n += 1
            errs += [f"curated: {e}" for e in gen.check_curated(r["corpus"], r["ids"])]
            if not r["traced"]:
                composed = sorted(r["ids"])
        if self.bench.traced and self.results:
            from kafi_spark.functions.pipeline import curate_documents_extended

            n += 1
            if composed is None:
                composed = sorted(r.doc_id for r in curate_documents_extended(
                    self.df, span_tokens=_SPAN_TOKENS, eval_df=self.eval_df,
                    decontam_n=8).select("doc_id").collect())
            staged = sorted(self.results[-1]["ids"])
            if staged != composed:
                errs.append("staged output differs from curate_documents_extended")
            n += 2
            x = self._stage_counts()
            if x["chars_removed"] != self.corpus.chars_removed_by_spans:
                errs.append(f"span_dedup removed {x['chars_removed']} chars, "
                            f"want {self.corpus.chars_removed_by_spans}")
            if x["decontam_removed"] != len(self.corpus.contaminated_ids):
                errs.append(f"decontaminate removed {x['decontam_removed']}, "
                            f"want {len(self.corpus.contaminated_ids)}")
        if self.ingest is not None:
            m, e = self.ingest.check()
            n, errs = n + m, errs + [f"ingest: {x}" for x in e]
        return n, errs

    def _stage_counts(self):
        if not hasattr(self, "_counts"):
            f = self.stage_frames
            chars = lambda d: d.agg(F.sum(F.length("text"))).first()[0] or 0  # noqa: E731
            self._counts = {
                "chars_removed": chars(f["src"]) - chars(f["spans"]),
                "decontam_removed": f["spans"].count() - f["decontam"].count(),
                "pairs_out": f["pairs"].count(),
            }
        return self._counts

    def layer_extras(self, per):
        x = self._stage_counts()
        return {
            "spans.span_dedup.chars_removed": x["chars_removed"],
            "contamination.decontaminate.rows_removed": x["decontam_removed"],
            "dedup.minhash_lsh_pairs.pairs_out": x["pairs_out"],
        } | self.ingest.layer_extras(per)


# ---------------------------------------------------------- stream_steps

WARMUP_STEPS = 2
# pre-made steps and epochs cover a traced run's untraced phase and its
# traced ops even if an op got this fast
MIN_STEP_S = 0.05
MIN_EPOCH_S = 0.5
_ORDER_JSON = "order_id long, product_id string, customer_id string, ts long"
# windows and expiry want event time as a TIMESTAMP
_ORDER_SCHEMA = "order_id long, product_id string, customer_id string, ts timestamp"


class StreamSteps(Workload):
    """An IncrementalRunner topology over the shoe-shop shape, fed one
    offset range of pre-produced FS topics per step.

    Given ``n_steps``, it produces exactly that many steps; a traced
    ``topic_shell`` run uses it so, after ``prefetch``, which reads every
    remaining step's range before the traced window: those steps then time
    only the runner, and ``fs_topic.consume`` keeps only the shell's reads."""

    name = "stream_steps"
    unit = "one incremental step"
    traced_ops = 5

    def __init__(self, bench, seed: int, smoke: bool, n_steps: int | None = None):
        super().__init__(bench, seed, smoke)
        self.n_steps = n_steps
        self.feed: dict[int, tuple] = {}

    def _sizes(self):
        # (steps produced, orders per step)
        seconds = self.bench.args.seconds
        return (self.n_steps or WARMUP_STEPS + 2 * math.ceil(seconds / MIN_STEP_S),
                40)

    def _runner(self, shop):
        """The shoe-shop topology: orders joined with customers and
        products into a tumbling-window revenue sink, plus a distinct and
        a count sink straight off the orders; orders expire by window."""
        from kafi_spark.streaming.expiry import expire_tumbling
        from kafi_spark.streaming.incremental import IncrementalRunner
        from kafi_spark.streaming.topology import Topology, wcount, wsum

        t = Topology()
        orders = t.source("orders", schema=_ORDER_SCHEMA)
        customers = t.source("customers", schema="customer_id string, email string")
        products = t.source("products", schema="product_id string, sale_price long")
        enriched = (
            orders.join_equi(customers, ["customer_id"],
                             ["order_id", "customer_id", "product_id", "ts", "email"])
            .join_equi(products, ["product_id"],
                       ["order_id", "customer_id", "email", "ts", "sale_price"]))
        enriched.window_tumbling(
            "ts", shop.window_ms, ["customer_id", "email"],
            wcount().alias("orders"), wsum("sale_price").alias("revenue"),
        ).sink("revenue")
        orders.map("customer_id", "product_id").distinct().sink("pairs")
        orders.group_by_count(["product_id"], alias="n").sink("per_product")
        return IncrementalRunner(t, self.spark, expire={
            "orders": expire_tumbling("ts", shop.window_ms, shop.lateness_ms)})

    def prepare(self):
        """Generate the shop and produce it into FS topics: dimensions into
        one partition each, all orders in one append into four partitions
        (partition = order_id % 4, so each step's offset range is known)."""
        import pandas as pd

        from kafi_spark.storage import Local

        n_steps, per_step = self._sizes()
        shop = gen.shoe_shop(self.seed, n_steps, per_step)
        store = Local(self.spark, os.path.join(self.bench.run_dir, "shop"))

        def produce_json(topic, pdf, partition):
            df = self.spark.createDataFrame(pdf)
            store.produce(topic, df.select(
                F.to_json(F.struct(*df.columns)).cast("binary").alias("value"),
                partition.cast("int").alias("partition"),
            ), keep_partitions=True)

        for topic, parts in (("customers", 1), ("products", 1), ("orders", 4)):
            store.create(topic, parts)
        produce_json("customers", shop.customers, F.lit(0))
        produce_json("products", shop.products, F.lit(0))
        produce_json("orders", pd.concat(shop.steps), F.col("order_id") % 4)
        self.s = {"store": store, "shop": shop, "next": 0,
                  "per_step": per_step, "n_steps": n_steps}

    def warmup(self):
        """Prime the runner with the dimension topics, then run the first
        WARMUP_STEPS steps untimed, so timed steps start with JIT warm and
        the expiring order state at its steady size."""
        s = self.s
        s["runner"] = self._runner(s["shop"])

        def dim(topic, schema, key):
            return (s["store"].consume(topic)
                    .select(F.from_json(F.col("value").cast("string"), schema)
                            .alias("r")).select("r.*")
                    .withColumnRenamed("id", key))

        s["runner"].step({
            "customers": dim("customers", "id string, email string",
                             "customer_id"),
            "products": dim("products", "id string, sale_price long",
                            "product_id"),
        })
        for _ in range(WARMUP_STEPS):
            self.op()
        self.results.clear()

    def _read(self, step: int):
        """(the step's orders, checkpointed; their count)."""
        s, q = self.s, self.s["per_step"] // 4
        batch = (s["store"].consume(
            "orders", offsets={p: step * q for p in range(4)},
            end_offsets={p: (step + 1) * q - 1 for p in range(4)})
            .select(F.from_json(F.col("value").cast("string"),
                                _ORDER_JSON).alias("r"))
            .select("r.*")
            .withColumn("ts", F.timestamp_millis("ts"))
            .localCheckpoint(eager=True))
        return batch, batch.count()

    def prefetch(self):
        """Read every remaining step's range now, outside any span."""
        for step in range(self.s["next"], self.s["n_steps"]):
            self.feed[step] = self._read(step)

    def op(self):
        s = self.s
        step = s["next"]
        if step >= s["n_steps"]:
            return None
        s["next"] += 1
        if step in self.feed:
            batch, n_in = self.feed.pop(step)
        else:
            with self.span("fs_topic.consume") as a:
                batch, n_in = self._read(step)
                a["rows"] = n_in
        with self.span("incremental.step") as a:
            out = s["runner"].step({"orders": batch})
            a["rows"] = n_in
        with self.span("zset.consolidate") as a:
            a["rows"] = sum(d.count() for d in out.values())
        self.results.append({"step": step, "rows_in": n_in})
        return n_in, None

    def check(self):
        import pandas as pd

        s = self.s
        errs = [f"step {r['step']} consumed {r['rows_in']} orders"
                for r in self.results if r["rows_in"] != s["per_step"]]
        want = gen.shoe_expected(s["shop"], s["next"])
        cols = {"revenue": ["customer_id", "email", "w_start", "orders", "revenue"],
                "pairs": ["customer_id", "product_id"],
                "per_product": ["product_id", "n"]}
        for sink, cs in cols.items():
            got = s["runner"].latest(sink).toPandas()
            if not (got["weight"] == 1).all():
                errs.append(f"{sink}: weights other than 1")
            g = sorted(map(tuple, got[cs].astype(object).values.tolist()))
            w = sorted(map(tuple, pd.DataFrame(want[sink])[cs]
                           .astype(object).values.tolist()))
            if g != w:
                errs.append(f"{sink}: latest() differs from the pandas "
                            f"recomputation ({len(g)} vs {len(w)} rows)")
        return len(self.results) + 3, errs

    def state_rows(self) -> int:
        return sum(self.s["runner"].state_rows().values())

    def layer_extras(self, per):
        rows = per.get("fs_topic.consume.rows_out", 0)
        return {
            "incremental.step.state_rows": self.state_rows(),
            "fs_topic.consume.rows_scanned_per_row":
                per.get("fs_topic.consume.rows_scanned", 0) / max(rows, 1),
        }


# --------------------------------------------------------- ingest_epochs

class IngestEpochs(Workload):
    """Epochs of fresh documents with planted cross-epoch duplicates through
    ``curate_documents_stream``'s foreachBatch callable, default
    parameters, against a per-run empty state directory."""

    name = "ingest_epochs"
    unit = "one foreachBatch epoch"

    def __init__(self, bench, seed: int, smoke: bool, n_epochs: int | None = None):
        super().__init__(bench, seed, smoke)
        self.n_epochs = n_epochs

    def _sizes(self):
        # (epochs generated, documents per epoch)
        seconds = self.bench.args.seconds
        return (self.n_epochs or 2 * math.ceil(seconds / MIN_EPOCH_S),
                30 if self.smoke else 100)

    def prepare(self):
        """All epochs go through parquet in one write, with an epoch
        column; each op hands the callable one epoch's slice of it."""
        import pandas as pd

        from kafi_spark.streaming.stateful import curate_documents_stream

        n_epochs, per = self._sizes()
        self.epochs = gen.ingest_epochs(self.seed, n_epochs, per)
        # a directory of its own: curate_batch runs one of these too
        root = tempfile.mkdtemp(prefix="ingest-", dir=self.bench.run_dir)
        path = os.path.join(root, "epochs")
        self.spark.createDataFrame(
            pd.concat([b.assign(epoch=e) for e, b in
                       enumerate(self.epochs.batches)])[["epoch", "doc_id", "text"]],
            "epoch int, doc_id long, text string").write.parquet(path)
        self.df = self.spark.read.parquet(path)
        self.state_dir = os.path.join(root, "state")
        self.next = 0
        self.emitted: list[list[int]] = []
        self.proc = curate_documents_stream(
            "text", "doc_id", state_dir=self.state_dir,
            sink=lambda out, epoch: self.emitted.append(
                [r.doc_id for r in out.select("doc_id").collect()]))

    def warmup(self):
        """None: an epoch's cost is fixed, not per document, so a warm-up
        epoch would cost as much as a timed one. The timed phase's first
        epoch runs in a fresh session."""

    def op(self):
        e = self.next
        if e >= len(self.epochs.batches):
            return None
        self.next += 1
        batch = self.df.filter(F.col("epoch") == e).drop("epoch")
        with self.span("stateful.curate_documents_stream") as a:
            self.proc(batch, e)
            a["rows"] = len(self.emitted[-1])
        self.results.append({"epoch": e})
        return len(self.epochs.batches[e]), None

    def check(self):
        errs = []
        got = [i for ids in self.emitted for i in ids]
        n = len(self.emitted)
        again = set(got) & self.epochs.planted
        if again:
            errs.append(f"{len(again)} planted cross-epoch duplicates re-emitted")
        fresh = set().union(*self.epochs.fresh[:n]) if n else set()
        if set(got) != fresh:
            errs.append(f"emitted {len(set(got))} documents, want the "
                        f"{len(fresh)} fresh ones")
        return n + 1, errs

    def layer_extras(self, per):
        files, size = _files(self.state_dir)
        return {"stateful.curate_documents_stream.state_mb": size / 2**20,
                "stateful.curate_documents_stream.state_files": files}


WORKLOADS = {w.name: w for w in (TopicShell, CurateBatch, StreamSteps, IngestEpochs)}
