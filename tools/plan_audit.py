"""Physical-plan audit across every benched query.

For every ``bench.bench_queries`` entry (the 50 contract queries plus
the bench-only twins), builds the query at the given sf_dir, reads
its formatted plan once (``tools/plans.py``) and then EXECUTES it
(executor-side no-op action, nothing collected) to read codegen spans
from the AQE-final plan. Columns count operators, each once:

* exch / gen / scan: plan-size blow-ups (an expensive subtree embedded
  many times shows up as dozens of each; see the round-2 LSH
  verification incident)
* smj / bhj / bnlj / cart: joins; CartesianProduct is quadratic
* pyUDF: BatchEvalPython, a row-at-a-time Python UDF
* reuse / inmem: subtree-sharing telemetry
* wsc: whole-stage-codegen spans (distinct codegen ids) of the executed
  plan, -1 when execution failed

Flags come from ``plans.RULES`` with the ``plans.BATCH`` limits:
CARTESIAN, ROW_PYTHON_UDF, EXCHANGES>30, GENERATES>15 (nodes),
NO_CODEGEN and RUNTIME_FAIL.

The same plan's Filter/Join conditions and Output lists are then
scanned for expensive expressions (``plans.HARD`` / ``plans.SOFT`` /
``dup-expr``; see ``tools/plans.py``). Every hit is printed for
adjudication; only a HARD hit that is not in ``plans.ALLOWLIST`` fails.

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.01; the commit
gate runs it at sf0.001, about two minutes on 4 cores)
Exits non-zero if any query trips a flag, fails to build, or has a hard
expression hit, so it can gate commits.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import plans  # noqa: E402

COLUMNS = ("exch", "gen", "scan", "wsc", "smj", "bhj", "bnlj", "cart",
           "pyUDF", "reuse", "inmem")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry_mod
    from bench import bench_queries
    from kafi_spark.session import get_spark

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    failures, hits, n_conditions = [], [], 0
    print(f"{'query':28s} " + " ".join(f"{c:>5}" for c in COLUMNS))
    for name, fn in bench_queries(entry_mod).items():
        try:
            df = fn(spark, sf_dir)
            nodes = plans.read_plan(plans.formatted_plan(df))
        except Exception as ex:  # noqa: BLE001
            print(f"{name:28s} ERROR: {ex}")
            failures.append(name)
            continue
        c = plans.counts(nodes)
        n_conditions += len(plans.condition_lines(nodes))
        hits += [(name, *h) for h in plans.expression_hits(name, nodes)]
        # Codegen spans need the EXECUTED plan: under AQE the
        # pre-execution plan carries no codegen ids at all (r9 verdict
        # #5, the wsc gate was dead). foreach(no-op) executes the df's
        # OWN queryExecution (a write-command wrapper executes a
        # DIFFERENT plan and leaves the df unfinalized) while keeping
        # every row on the executors.
        try:
            df.foreach(lambda _row: None)
            c["wsc"] = plans.counts(
                plans.read_plan(plans.formatted_plan(df)))["wsc"]
        except Exception:  # noqa: BLE001 — audit the plan anyway
            c["wsc"] = -1
        flags = plans.check(c, plans.BATCH)
        line = f"{name:28s} " + " ".join(f"{c[k]!s:>5}" for k in COLUMNS)
        if flags:
            line += "   FLAG: " + ",".join(flags)
            failures.append(name)
        print(line, flush=True)

    hard = [h for h in hits if h[2] == "hard"]
    print(f"\nscanned {n_conditions} condition lines")
    for sev in ("soft", "hard"):
        found = [h for h in hits if h[2] == sev]
        if found:
            print(f"\n{len(found)} {sev} expression hits:")
            for q, cls, _, ln in found:
                print(f"  {q:28s} {cls:14s} {ln}")
    if failures or hard:
        print(f"\n{len(failures)} flagged: {failures}; {len(hard)} hard hits")
        return 1
    print("\nall plans clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
