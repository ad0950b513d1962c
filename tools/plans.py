"""One reader and one rule table for Spark physical plans.

Every plan gate in the repo goes through this module: ``bench.py``'s
``exchanges`` metric, ``tools/plan_audit.py`` (batch queries and their
Filter/Join conditions), ``tools/stream_audit.py`` (executions of the
streaming twins), ``tools/scale_probe.py`` and ``tools/dump_plans.py``.

* **Capture.** :func:`formatted_plan` returns ``df.explain("formatted")``
  as a string, read from the JVM. :func:`rest_get` drains the listener
  bus and then GETs one path of the UI REST API. A SQL execution's
  ``planDescription`` there is the same formatted mode, because
  ``spark.sql.ui.explainMode`` defaults to ``formatted``.
* **Read.** :func:`read_plan` turns a formatted plan into a list of
  :class:`Node`, one per operator. Formatted mode prints every operator
  twice (a tree line and a detail block), so a text count of an
  operator name reads two per node; the node list counts it once. In an
  executed AQE plan the ``== Initial Plan ==`` subtree echoes the plan
  before re-optimization: operators only found there are marked
  ``echo`` and left out of every count.
* **Check.** :data:`RULES` is the one table of plan flags, and
  :data:`BATCH` / :data:`STREAM` hold each audit's ceilings in node
  units. :data:`HARD`, :data:`SOFT` and :data:`ALLOWLIST` classify the
  expressions in Filter/Join conditions, and :data:`DUP_CALL` finds an
  expensive call computed twice in one projection.

Reading and checking need no Spark session, so the rules are tested on
canned plan text (``tests/test_plans.py``).
"""

from __future__ import annotations

import json
import re
import urllib.request
from collections import Counter
from dataclasses import dataclass


def formatted_plan(df) -> str:
    """``df.explain("formatted")`` as a string, without printing it."""
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def rest_get(spark, path: str, timeout: float = 60):
    """GET ``/api/v1/applications/<app>/<path>`` from this session's UI
    as parsed JSON. The status store is fed asynchronously from the
    listener bus, so the bus is drained first: without that, late
    stage- or execution-completion events are missing from the read."""
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=timeout) as resp:
        return json.load(resp)


@dataclass(frozen=True)
class Node:
    """One physical operator of a formatted plan."""

    id: int
    name: str  # e.g. "Exchange", "Scan parquet", "BroadcastHashJoin"
    codegen: int | None  # whole-stage-codegen span id, if inside one
    echo: bool  # only in an AQE "== Initial Plan ==" subtree
    lines: tuple[str, ...]  # the detail block: Output, Condition, ...


_DETAIL = re.compile(r"\((\d+)\) (.*?)(?: \[codegen id : (\d+)\])?\s*$")
_TREE_ID = re.compile(r" \((\d+)\)(?:, Statistics\(.*\))?$")


def read_plan(text: str) -> list[Node]:
    """The operators of a formatted plan, each once, in detail order.

    A tree starts after ``== Physical Plan ==`` or a ``Subquery:``
    header and ends at a blank line; it decides which ids are echoes.
    Every other ``(id) Name`` line after a blank line opens that node's
    detail block."""
    live: set[int] = set()
    echo: set[int] = set()
    blocks: list[tuple[re.Match, list[str]]] = []
    in_tree, initial_col, block = False, None, None
    for ln in text.splitlines():
        if not ln.strip():
            in_tree, block = False, None
        elif ln.startswith(("== Physical Plan ==", "Subquery:")):
            in_tree, initial_col = True, None
        elif in_tree:
            col = len(ln) - len(ln.lstrip(" :|+-"))
            if initial_col is not None and col < initial_col:
                initial_col = None
            if ln[col:].startswith("== Initial Plan =="):
                initial_col = col
            elif m := _TREE_ID.search(ln):
                (live if initial_col is None else echo).add(int(m[1]))
        elif block is not None:
            block.append(ln)
        elif m := _DETAIL.fullmatch(ln):
            block = []
            blocks.append((m, block))
    return [
        Node(int(m[1]), re.sub(r" \[.*\]$", "", m[2].strip()),
             int(m[3]) if m[3] else None,
             int(m[1]) in echo and int(m[1]) not in live, tuple(lines))
        for m, lines in blocks
    ]


#: operator classes counted per plan: column -> node-name pattern
OPERATORS = {
    # the shuffle exchange; BroadcastExchange and ReusedExchange are
    # other operators
    "exch": r"Exchange",
    "gen": r"Generate",
    "scan": r"Scan (?:parquet|ExistingRDD).*",
    "joins": r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin",
    "smj": r"SortMergeJoin",
    "bhj": r"BroadcastHashJoin",
    "bnlj": r"BroadcastNestedLoopJoin",
    "cart": r"CartesianProduct",
    # row-at-a-time Python UDFs; ArrowEvalPython, MapInPandas and
    # FlatMapGroupsInPandasWithState are the sanctioned crossings
    "pyUDF": r"BatchEvalPython",
    # subtree-sharing telemetry: a repartition meant for ReuseExchange
    # that never fires leaves scan-count evidence here
    "reuse": r"ReusedExchange",
    "inmem": r"InMemory(?:Relation|TableScan)",
    # object aggregates (DataSketches HLL/theta/KLL) and streaming
    # state-store operators are object-based by design and never enter
    # whole-stage codegen
    "objagg": r"ObjectHashAggregate|StreamingDeduplicate\w*|\w*StateStore\w*"
              r"|FlatMapGroupsInPandasWithState",
}


def counts(nodes: list[Node]) -> dict:
    """Operator counts of one plan, plus ``wsc``: its number of
    whole-stage-codegen spans (distinct codegen ids). Under AQE only an
    executed plan carries codegen ids, so ``wsc`` is None for an AQE
    plan that has not run (and NO_CODEGEN cannot read it as zero)."""
    live = [n for n in nodes if not n.echo]
    c = {col: sum(re.fullmatch(p, n.name) is not None for n in live)
         for col, p in OPERATORS.items()}
    unrun = any(n.name == "AdaptiveSparkPlan"
                and "Arguments: isFinalPlan=false" in n.lines for n in live)
    c["wsc"] = None if unrun else len(
        {n.codegen for n in live if n.codegen is not None})
    return c


#: the plan flags, each a predicate over a counts dict and the audit's
#: limits. A count the audit did not take reads as absent and its rule
#: stays silent. ``wsc`` -1 means the plan compiled but failed to run;
#: ``execs`` is the number of SQL executions a streaming twin recorded.
RULES = {
    "CARTESIAN": lambda c, lim: c.get("cart", 0) > 0,
    "ROW_PYTHON_UDF": lambda c, lim: c.get("pyUDF", 0) > 0,
    # ceilings far above any sane plan here: a trip means a subtree is
    # being re-embedded combinatorially, not that the query is big
    "EXCHANGES": lambda c, lim: c.get("exch", 0) > lim["EXCHANGES"],
    "GENERATES": lambda c, lim: c.get("gen", 0) > lim["GENERATES"],
    # a plan that shuffles or joins but compiled zero codegen spans has
    # fallen off the JVM fast path (interpreted projections end to end)
    "NO_CODEGEN": lambda c, lim: (
        c.get("wsc") == 0 and bool(c["exch"] or c["joins"])
        and not (lim["objagg_exempt"] and c["objagg"])),
    "RUNTIME_FAIL": lambda c, lim: c.get("wsc") == -1,
    # a twin that recorded no SQL execution was not driven, not clean
    "NO_EXECUTIONS": lambda c, lim: c.get("execs") == 0,
}

#: per-audit limits, ceilings in nodes. A whole batch pipeline and a
#: single streaming micro-batch execution get the same exchange
#: ceiling. Plans built around object aggregates are exempt from
#: NO_CODEGEN only in the streaming audit.
BATCH = {"EXCHANGES": 30, "GENERATES": 15, "objagg_exempt": False}
STREAM = {"EXCHANGES": 30, "GENERATES": float("inf"), "objagg_exempt": True}


def check(c: dict, limits: dict) -> list[str]:
    """The flags ``c`` trips, a ceiling written ``NAME>limit``."""
    return [f"{name}>{limits[name]}" if name in ("EXCHANGES", "GENERATES")
            else name for name, hit in RULES.items() if hit(c, limits)]


# ---------------------------------------------------------------------------
# Expensive expressions in Filter/Join conditions and projections.
#
# Catalyst pushes a filter below the projection that computes its input,
# substituting the FULL defining expression, or inlines a threshold into
# a join condition; a regex tokenize, an md5/conv chain or an
# interpreted array_intersect then re-evaluates per row at a second
# site. A hit is printed for adjudication. Only HARD classes, which have
# no legitimate use in this engine's conditions, fail an audit; to
# sanction a reviewed hit, add its (query, class) to ALLOWLIST with the
# reason.

#: (query, class) pairs adjudicated as fine. The duplication hunted is
#: an expensive DERIVED expression substituted below the projection
#: that also computes it; a regex that IS the query's source predicate
#: evaluates once at the scan and is the correct shape.
ALLOWLIST: set[tuple[str, str]] = {
    # the declared grep filter itself: the RLIKE is the query (r13)
    ("shell_grep", "regex-rlike"),
    # r12 #11's early-exit zero-token probe (NOT rlike '\S'): a doc
    # filter AT THE SCAN replacing a full split+size pass; one
    # evaluation per doc by construction (r13)
    ("dedup_span_bloom", "regex-rlike"),
    ("helper_explode_normalize", "regex-rlike"),
}

#: classes that FAIL an audit when found in a condition: a regex or an
#: md5/conv chain re-evaluated per row in a Filter/Join condition is
#: always the push-through-projection duplication.
HARD = {
    "regex-split": r"\bsplit\(",
    "regex-rlike": r"\bRLIKE\b|\brlike\(",
    "regex-fn": r"\bregexp_\w+\(",
    "md5": r"\bmd5\(",
    "sha": r"\bsha2?\(",
    "conv": r"\bconv\(",
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


#: classes that WARN (printed, exit unchanged) in a condition: sometimes
#: legitimate (hash join keys, tiny literal arrays), but each new hit
#: deserves a look because the interpreted array ops have no codegen.
SOFT = {
    "array-set-op": r"\barray_(?:intersect|union|except|distinct)\(",
    "hof": r"\b(?:aggregate|transform|exists|forall|zip_with)\(",
    # Spark prints the array first: filter(a#2, lambdafunction(...))
    "hof-filter": r"(?<![\w.])filter\(.*?\blambdafunction\(",
    "concat-ws": r"\bconcat_ws\(",
    # 3+ top-level args (Spark prints the seed as the last one): a hash
    # over a composite key rather than one column
    "xxhash-wide": lambda ln: any(n >= 3 for n in xxhash_arities(ln)),
}

#: the soft ``dup-expr`` class: one of these calls, with identical
#: arguments, written more than once in a single node's Output list is
#: evaluated once per occurrence unless codegen's common-subexpression
#: elimination merges them
DUP_CALL = r"\b(?:md5|sha2|conv|regexp_\w+|split)\("


def _hit(pattern, line: str) -> bool:
    """A class matches a line by regex, or by predicate."""
    if callable(pattern):
        return pattern(line)
    return re.search(pattern, line, re.I) is not None


def duplicated_calls(line: str) -> list[str]:
    """Every :data:`DUP_CALL` call written more than once in ``line``,
    arguments included (balanced parentheses)."""
    seen: Counter = Counter()
    for m in re.finditer(DUP_CALL, line):
        depth, i = 1, m.end()
        while depth and i < len(line):
            depth += {"(": 1, ")": -1}.get(line[i], 0)
            i += 1
        seen[line[m.start():i]] += 1
    return [call for call, n in seen.items() if n > 1]


def condition_lines(nodes: list[Node]) -> list[str]:
    """Every Filter condition and Join condition of a plan: the sites
    where Catalyst substitutes defining expressions during pushdown."""
    out = []
    for n in nodes:
        for s in map(str.strip, n.lines):
            if s.startswith("Condition :") or (
                    s.startswith("Join condition:") and "None" not in s):
                out.append(s)
            # join arguments of the form "Arguments: [k], Inner, (cond)"
            elif s.startswith("Arguments:") and (
                "Inner," in s or "LeftOuter," in s or "LeftSemi," in s
            ) and s.count("(") > 1:
                out.append(s)
    return out


def expression_hits(query: str, nodes: list[Node]) -> list[tuple]:
    """(class, severity, line) per expression hit in one query's plan:
    HARD and SOFT classes over its conditions, ``dup-expr`` over its
    Output lists. ALLOWLIST entries are dropped."""
    hits = []
    for ln in condition_lines(nodes):
        for sev, table in (("hard", HARD), ("soft", SOFT)):
            hits += [(cls, sev, ln[:160]) for cls, pat in table.items()
                     if _hit(pat, ln)]
    for n in nodes:
        for ln in n.lines:
            if ln.startswith("Output ["):
                hits += [("dup-expr", "soft",
                          f"({n.id}) {n.name}: {call}"[:160])
                         for call in duplicated_calls(ln)]
    return [h for h in hits if (query, h[0]) not in ALLOWLIST]
