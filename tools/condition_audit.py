"""Expensive-expression audit over every benched plan's Filter/Join
conditions.

The r12 finds #9/#10/#11 were all the same optimizer-duplication class
(guide §4.4): Catalyst pushes a filter below the projection that
computes its input — substituting the FULL defining expression — or
inlines a threshold into a join condition, so a regex tokenize, an
md5/conv chain, or an interpreted ``array_intersect`` silently
re-evaluates per row/pair at a second (or fourth) site. A whole-suite
sweep of plan conditions found two systemic instances in r12; the r12
verdict (#8) asks for the sweep as a committed tool so every future
optimizer-visible change re-runs it.

For each bench query (contract + twins), the OPTIMIZED plan's
``Condition :`` detail lines and ``Join ... condition`` clauses are
scanned for expression classes that are cheap once but poisonous when
duplicated per row:

* regex engines: ``split(``, ``rlike``, ``regexp_``, ``sentences(``
* cryptographic/string hashing: ``md5(``, ``sha``, ``xxhash64(`` over
  non-trivial args, ``conv(``
* per-row set/array work: ``array_intersect``, ``array_union``,
  ``array_distinct``, ``aggregate(``, ``transform(``, ``filter(`` (the
  HOF), ``concat_ws(``

A hit is not automatically a bug — a deliberately cheap xxhash64 over
two longs in a join key is fine — so the audit prints every hit with
its query and line for human adjudication, and only EXITS non-zero for
the classes with zero legitimate uses in this engine's conditions:
regex engines and md5 chains (the #10/#11 classes). To sanction a
reviewed hit, add its ``(query, class)`` tuple to ``ALLOWLIST`` with a
comment giving the reason and the round it was adjudicated in.

Usage: python tools/condition_audit.py [sf_dir]   (default sf0.001)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: (query, pattern-class) pairs adjudicated as fine. The duplication
#: class this audit hunts is an expensive DERIVED expression substituted
#: below the projection that also computes it (two evaluations); a
#: regex that IS the query's source predicate evaluates once at the
#: scan and is the correct shape.
ALLOWLIST: set[tuple[str, str]] = {
    # the declared grep filter itself — the RLIKE is the query (r13)
    ("shell_grep", "regex-rlike"),
    # r12 #11's early-exit zero-token probe (NOT rlike '\S') — a doc
    # filter AT THE SCAN replacing a full split+size pass; one
    # evaluation per doc by construction (r13)
    ("dedup_span_bloom", "regex-rlike"),
    ("helper_explode_normalize", "regex-rlike"),
}

#: classes that FAIL the audit when found in a condition: a regex or an
#: md5/conv chain re-evaluated per row in a Filter/Join condition is
#: always the push-through-projection duplication (the defining
#: projection still computes it once more above).
HARD = {
    "regex-split": r"\bsplit\(",
    "regex-rlike": r"\bRLIKE\b|\brlike\(",
    "regex-fn": r"\bregexp_\w+\(",
    "md5": r"\bmd5\(",
    "sha": r"\bsha2?\(",
    "conv": r"\bconv\(",
}

#: classes that WARN (printed, exit 0): sometimes legitimate in a
#: condition (hash join keys, tiny literal arrays), but each new hit
#: deserves a look because the interpreted array ops have no codegen.
SOFT = {
    "array-set-op": r"\barray_(?:intersect|union|except|distinct)\(",
    "hof": r"\b(?:aggregate|transform|exists|forall|zip_with)\(",
    "hof-filter": r"(?<![\w.])filter\(lambdafunction",
    "concat-ws": r"\bconcat_ws\(",
    # 3+ top-level args (Spark prints the seed as the last one): a hash
    # over a composite key rather than one column
    "xxhash-wide": lambda ln: any(n >= 3 for n in xxhash_arities(ln)),
}


def xxhash_arities(line: str) -> list[int]:
    """Top-level argument count of every ``xxhash64(...)`` call in
    ``line``: balanced parenthesised groups are stripped first, so
    ``xxhash64(concat_ws(':', a, b))`` has one argument and
    ``xxhash64(a, b, c)`` three."""
    out = []
    for m in re.finditer(r"\bxxhash64\(", line, re.I):
        rest, prev = line[m.end():], None
        while rest != prev:
            prev, rest = rest, re.sub(r"\([^()]*\)", "", rest)
        out.append(rest.split(")", 1)[0].count(",") + 1)
    return out


def _hit(pattern, line: str) -> bool:
    """A class matches a condition line by regex, or by predicate."""
    if callable(pattern):
        return pattern(line)
    return re.search(pattern, line, re.I) is not None


def _condition_lines(plan: str) -> list[str]:
    """Every line of a formatted plan that states a Filter condition or
    a Join condition — the sites where Catalyst substitutes defining
    expressions during pushdown."""
    out = []
    for ln in plan.splitlines():
        s = ln.strip()
        if s.startswith("Condition :"):
            out.append(s)
        elif s.startswith("Join condition:") and "None" not in s:
            out.append(s)
        # formatted-plan join headers: "Arguments: [k], Inner, (cond)"
        elif s.startswith("Arguments:") and (
            "Inner," in s or "LeftOuter," in s or "LeftSemi," in s
        ) and s.count("(") > 1:
            out.append(s)
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entry_mod
    from bench import bench_queries, plan_text
    from kafi_spark.session import get_spark

    spark = get_spark("condition_audit")
    spark.sparkContext.setLogLevel("ERROR")

    hard_hits: list[tuple[str, str, str]] = []
    soft_hits: list[tuple[str, str, str]] = []
    n_lines = 0
    for name, fn in bench_queries(entry_mod).items():
        try:
            df = fn(spark, sf_dir)
            plan = plan_text(df)
        except Exception as ex:  # noqa: BLE001
            print(f"{name:28s} ERROR: {ex}")
            hard_hits.append((name, "PLAN_ERROR", str(ex)[:120]))
            continue
        lines = _condition_lines(plan)
        n_lines += len(lines)
        for ln in lines:
            for cls, pat in HARD.items():
                if _hit(pat, ln) and (name, cls) not in ALLOWLIST:
                    hard_hits.append((name, cls, ln[:160]))
            for cls, pat in SOFT.items():
                if _hit(pat, ln) and (name, cls) not in ALLOWLIST:
                    soft_hits.append((name, cls, ln[:160]))

    print(f"scanned {n_lines} condition lines across the benched suite")
    if soft_hits:
        print(f"\n{len(soft_hits)} soft hits (adjudicate, exit stays 0):")
        for q, cls, ln in soft_hits:
            print(f"  {q:28s} {cls:14s} {ln}")
    if hard_hits:
        print(f"\n{len(hard_hits)} HARD hits (regex/md5 class — fix or allowlist):")
        for q, cls, ln in hard_hits:
            print(f"  {q:28s} {cls:14s} {ln}")
        return 1
    print("no hard hits — conditions clean")
    return 0


if __name__ == "__main__":
    sys.exit(main())
