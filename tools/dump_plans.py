"""Dump .explain('formatted') for named bench queries into plans/<tag>/.

Usage: python tools/dump_plans.py <tag> <suffix> <query> [<query> ...]

Writes plans/<tag>/<query>_<suffix>.txt for each query — the judge-facing
before/after plan evidence for optimization rounds.
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from bench import bench_queries  # noqa: E402
from kafi_spark.session import get_spark  # noqa: E402
from tools.plans import formatted_plan  # noqa: E402


def main() -> None:
    tag, suffix, *names = sys.argv[1:]
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump_plans")
    qs = bench_queries(entry_mod)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for name in names:
        df = qs[name](spark, sf_dir)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df) + "\n")
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
