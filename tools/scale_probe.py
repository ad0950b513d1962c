"""sf1 scale probe: per-row cost + plan-shape stability at 10x bench scale.

Every 100 TB claim in PLANS.md was, through round 6, extrapolated from
sf0.1 measurements. This probe runs the most expensive headline queries
at BOTH sf0.1 (the driver's bench tier) and the deterministic sf1 twin
(``tools/gen_scale.py`` → ``var/sf1``, 10x rows) in one session and
records, per query:

- wall seconds at each tier (best of N runs, steal-adjudicated),
- **per_row_ratio** = (t_sf1 / rows_sf1) / (t_sf01 / rows_sf01) —
  1.0 is perfect linear scaling; sub-linear (<1) is common when fixed
  job overhead amortizes; anything >1.5 names a super-linear operator
  that would NOT survive a 100x scale-up and must be fixed or
  adjudicated (VERDICT r6 "Next round" #2),
- plan-shape equality: Exchange count identical at both tiers and no
  broadcast join silently degrading to sort-merge (a broadcast that
  flips at 10x would flip harder at 100x),
- shuffle-byte growth vs the 10x row growth.

Run: ``python tools/scale_probe.py`` (writes BENCH_sf1.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools import plans  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, "var", "sf1")
ROWS = {"sf01": 5_000, "sf1": 50_000}  # documents rows per tier

# the 8 most expensive headline queries (VERDICT r6 plan audit) plus
# the round-7 expression-regression family (VERDICT r7: their per-row
# cost moved with NO plan change — exactly what only a scale tier can
# price), all driven off the documents table
PROBES = [
    "pipeline_dupheavy_minhash",
    "pipeline_dupheavy_exact",
    "pipeline_curate",
    # the PRODUCTION curation config (minhash near-dup): pipeline_curate
    # above is the oracle-only exact-ngram max_df=None configuration,
    # whose ~100x shuffle growth at 10x is the documented quadratic of
    # unbounded posting lists — the scale claim rests on THIS twin
    # (round-8 session; the r7 probe's 0.108 ratio for the exact config
    # was implausible for a quadratic path and is superseded)
    "pipeline_curate_minhash",
    "quality_classifier",
    "dedup_simhash",
    "lsh_join_incremental",
    "bm25_topk",
    "substring_dedup",
    "dedup_span_bloom",
    "perplexity_buckets",
    "boilerplate_filter",
    # round-10 additions — the two queries whose plans were rebuilt that
    # round (prefix-filtered AllPairs ngram; dsir window/stream-agg
    # rework): the probe is the artifact that proves the rework scales
    "dedup_ngram_capped",
    "dsir_select",
    # round-11 breadth: the linear-path families the probe never
    # covered — decontamination (broadcast gram set), repetition
    # metrics (pure column chains), the dataset-card aggregate, and
    # the two events-driven sketch builds. emb_neardup is deliberately
    # NOT probed: exact blocked all-pairs is O(N²·d) FLOPs by
    # definition (×10 rows → ×100 work → per-row ~×10), and its scale
    # path is the SemDeDup cell plan (PLANS.md round-3 addendum) — a
    # super-linear probe row would only restate the definition.
    "decontaminate",
    "text_repetition",
    "corpus_report",
    "sketch_daily_distinct",
    "cms_heavy_hitters",
    # round-13 (r12 verdict #4): the dedup family end-to-end — the
    # remaining members the probe never covered. dedup_ngram_jaccard is
    # the exact max_df=None inverted-index path standalone (its pipeline
    # embedding is probed as pipeline_curate); dedup_minhash_lsh the
    # standalone LSH+verify path; dedup_exact the fingerprint window;
    # dedup_semantic the kmeans-cell SemDeDup plan (centroid fit is
    # sample-capped, so the probe prices the cell pair stage).
    # ADJUDICATED (r13): dedup_ngram_jaccard reads per_row_ratio ~1.42
    # with ~x69 shuffle growth — the DECLARED quadratic of uncapped
    # posting lists (a df-f shingle emits C(f,2) pair rows and
    # mid-frequency f grows with corpus size). That is the oracle-exact
    # configuration's semantics, kept self-join-shaped deliberately
    # (spillable rows, safe at any skew — the prefix-filter path's
    # in-row posting arrays are unbounded without a df cap); the scale
    # paths are dedup_ngram_capped (0.47) and minhash (0.75/0.27).
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_exact",
    "dedup_semantic",
]

# Candidate-efficiency counters (r10 verdict items #1/#5): per tier,
# count the intermediate frame dedup.DIAG exposes and (for the capped
# path) the true output pairs. The ratio decides the x50 sf1 shuffle
# adjudication — if candidates_emitted/true_pairs stays flat across
# tiers the shuffle growth is output-bound (intrinsic to the corpus's
# duplicate mass); if it grows with sf the prefix filter is leaking and
# needs the PPJoin+ positional/suffix filter. pipeline_curate records
# its exact-config pair-aggregate row count for the same reason (the
# oracle-only max_df=None configuration's shuffle is this aggregate).
COUNTERS = {
    "dedup_ngram_capped": (
        "dedup", "capped_candidates", "candidates_emitted", True),
    "pipeline_curate": ("dedup", "exact_pair_agg", "pair_agg_rows", False),
    # r11 watch item: bm25's sf1 shuffle grows ×25 for ×10 rows at a
    # fixed 10-query set — count the matched (query, doc, term) rows
    # entering the score aggregate to separate row growth (the
    # fixed-vocab df inflation) from shuffle-encoding effects
    "bm25_topk": ("search", "bm25_matched", "matched_rows", False),
}


def _diag_module(name: str):
    import importlib

    return importlib.import_module(f"kafi_spark.functions.{name}")


def _plan_counts(df) -> dict:
    """Plan-shape counts in BENCH_sf1.json's unit, two per node like
    bench's ``exchanges``, so cached and new entries compare."""
    c = plans.counts(plans.read_plan(plans.formatted_plan(df)))
    return {"exchanges": 2 * c["exch"], "broadcast_joins": 2 * c["bhj"],
            "smj": 2 * c["smj"]}


def main() -> None:
    import bench
    import __spark_entry__ as entry_mod
    from kafi_spark.session import get_spark

    if not os.path.isdir(SF1):
        raise SystemExit("var/sf1 missing — run tools/gen_scale.py first")
    # queries only read documents, but read_table of any other name
    # should still resolve at the sf1 tier
    for f in os.listdir(SF01):
        dst = os.path.join(SF1, f)
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF01, f), dst)

    spark = get_spark(
        "kafi_spark_scale_probe",
        # UI on (ephemeral port) so bench._stage_totals serves the
        # shuffle-byte reads via ONE REST call — with the session
        # default (UI off) every read falls back to the py4j walk, two
        # gateway round-trips per retained stage, which at ~24 boundary
        # reads over a growing store costs real minutes of probe wall
        extra_conf={
            "spark.ui.retainedStages": "100000",
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
        },
    )
    qs = bench.bench_queries(entry_mod)

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    run(qs["scalar_stats"](spark, SF01))  # warm scan/shuffle/codegen

    # resumable: partial results are flushed per query, and queries
    # already recorded are skipped (the dup-heavy pair alone can eat a
    # wall-clock budget; pass --force to re-measure everything)
    out_file = os.path.join(REPO, "BENCH_sf1.json")
    out: dict = {}
    if os.path.exists(out_file) and "--force" not in sys.argv:
        with open(out_file) as fh:
            out = json.load(fh).get("queries", {})

    def flush(partial: bool) -> dict:
        result = {
            "metric": "scale_probe_sf1",
            "scale_factor": 10,
            "rows": ROWS,
            "unit": "sec",
            "queries": out,
            "worst_per_row_ratio": max(
                r["per_row_ratio"] for r in out.values()),
            "all_plans_equal": all(r["plan_equal"] for r in out.values()),
            "partial": partial or sorted(out) != sorted(PROBES),
        }
        with open(out_file, "w") as fh:
            json.dump(result, fh, indent=1)
            fh.write("\n")
        return result

    for name in PROBES:
        if name in out:
            print(json.dumps({name: "cached"}), flush=True)
            continue
        rec: dict = {}
        for tier, sf_dir, n_runs in (("sf01", SF01, 2), ("sf1", SF1, 2)):
            best, steal_best = None, None
            for _ in range(n_runs):
                st0 = bench._read_steal_jiffies()
                t0 = time.time()
                run(qs[name](spark, sf_dir))
                dt = time.time() - t0
                st1 = bench._read_steal_jiffies()
                spark.catalog.clearCache()
                if best is None or dt < best:
                    best = dt
                    steal_best = (st1 - st0) if None not in (st0, st1) else None
            # construct ONCE, take plan counts from that df, and only
            # then open the shuffle window around the extra executed run
            # (round-8 ADVICE: queries whose CONSTRUCTION runs eager
            # jobs — quality_fit's L-BFGS, connected-components rounds,
            # localCheckpoints — had those shuffles counted inside the
            # pre/post delta, inflating shuffle_bytes and growth)
            counter = COUNTERS.get(name)
            if counter:
                mod = _diag_module(counter[0])
                mod.DIAG = diag = {}
                try:
                    probe_df = qs[name](spark, sf_dir)
                finally:
                    mod.DIAG = None
            else:
                diag = {}
                probe_df = qs[name](spark, sf_dir)
            plan = _plan_counts(probe_df)
            rec[tier] = {
                "sec": round(best, 3),
                "steal_jiffies": steal_best,
                **plan,
            }
            # one extra executed run for the shuffle-byte delta. Guards
            # mirror bench.timed_run (round-9 ADVICE): if the REST latch
            # flips between the boundary reads the delta would mix
            # sources (REST counts complete stages only; the py4j walk
            # counts every status) — record nothing; and a negative
            # delta means status-store eviction crossed the window.
            rest0 = bench._REST_OK["ok"]
            pre = bench._shuffle_bytes_total(spark)
            run(probe_df)
            post = bench._shuffle_bytes_total(spark)
            spark.catalog.clearCache()
            if (pre is not None and post is not None
                    and bench._REST_OK["ok"] == rest0 and post >= pre):
                rec[tier]["shuffle_bytes"] = post - pre
            if counter and counter[1] in diag:
                _, hook, field, want_pairs = counter
                rec[tier][field] = diag[hook].count()
                if want_pairs:
                    rec[tier]["true_pairs"] = probe_df.count()
                    if rec[tier]["true_pairs"]:
                        rec[tier]["cand_per_pair"] = round(
                            rec[tier][field] / rec[tier]["true_pairs"], 2)
                spark.catalog.clearCache()
        per_row_01 = rec["sf01"]["sec"] / ROWS["sf01"]
        per_row_1 = rec["sf1"]["sec"] / ROWS["sf1"]
        rec["per_row_ratio"] = round(per_row_1 / per_row_01, 3)
        rec["plan_equal"] = all(
            rec["sf01"][k] == rec["sf1"][k]
            for k in ("exchanges", "broadcast_joins", "smj")
        )
        sb0, sb1 = rec["sf01"].get("shuffle_bytes"), rec["sf1"].get("shuffle_bytes")
        if sb0 and sb1:
            rec["shuffle_growth"] = round(sb1 / sb0, 2)
        out[name] = rec
        flush(partial=True)
        print(json.dumps({name: rec}), flush=True)

    result = flush(partial=False)
    print(json.dumps({k: result[k] for k in
                      ("metric", "worst_per_row_ratio", "all_plans_equal",
                       "partial")}))


if __name__ == "__main__":
    main()
