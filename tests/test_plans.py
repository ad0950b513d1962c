"""tools/plans.py: the plan reader and every rule of its table, on
canned formatted plans trimmed from real Spark 4.1 explains. No Spark
session is started."""

from __future__ import annotations

import re

import pytest

from tools import plans

# spark.range(1000).withColumn("k", id % 7).groupBy("k").agg(count)
# before it runs: df.explain("formatted")
GROUP_BY_EXPLAIN = """\
== Physical Plan ==
AdaptiveSparkPlan (6)
+- HashAggregate (5)
   +- Exchange (4)
      +- HashAggregate (3)
         +- Project (2)
            +- Range (1)


(1) Range
Output [1]: [id#0L]
Arguments: Range (0, 1000, step=1, splits=Some(2))

(2) Project
Output [1]: [(id#0L % 7) AS k#1L]
Input [1]: [id#0L]

(3) HashAggregate
Input [1]: [k#1L]
Keys [1]: [k#1L]
Functions [1]: [partial_count(1)]
Aggregate Attributes [1]: [count#6L]
Results [2]: [k#1L, count#7L]

(4) Exchange
Input [2]: [k#1L, count#7L]
Arguments: hashpartitioning(k#1L, 2), ENSURE_REQUIREMENTS, [plan_id=15]

(5) HashAggregate
Input [2]: [k#1L, count#7L]
Keys [1]: [k#1L]
Functions [1]: [count(1)]
Aggregate Attributes [1]: [count(1)#5L]
Results [2]: [k#1L, count(1)#5L AS n#2L]

(6) AdaptiveSparkPlan
Output [2]: [k#1L, n#2L]
Arguments: isFinalPlan=false
"""

# the same frame after a noop write: that execution's planDescription
# from the UI's SQL REST endpoint (formatted mode, AQE-final)
GROUP_BY_REST = """\
== Physical Plan ==
OverwriteByExpression (12)
+- AdaptiveSparkPlan (11)
   +- == Final Plan ==
      ResultQueryStage (8), Statistics(sizeInBytes=8.0 EiB)
      +- * HashAggregate (7)
         +- AQEShuffleRead (6)
            +- ShuffleQueryStage (5), Statistics(sizeInBytes=336.0 B, rowCount=14)
               +- Exchange (4)
                  +- * HashAggregate (3)
                     +- * Project (2)
                        +- * Range (1)
   +- == Initial Plan ==
      HashAggregate (10)
      +- Exchange (9)
         +- HashAggregate (3)
            +- Project (2)
               +- Range (1)


(1) Range [codegen id : 1]
Output [1]: [id#0L]
Arguments: Range (0, 1000, step=1, splits=Some(2))

(2) Project [codegen id : 1]
Output [1]: [(id#0L % 7) AS k#1L]
Input [1]: [id#0L]

(3) HashAggregate [codegen id : 1]
Input [1]: [k#1L]
Keys [1]: [k#1L]
Functions [1]: [partial_count(1)]
Aggregate Attributes [1]: [count#6L]
Results [2]: [k#1L, count#7L]

(4) Exchange
Input [2]: [k#1L, count#7L]
Arguments: hashpartitioning(k#1L, 2), ENSURE_REQUIREMENTS, [plan_id=47]

(5) ShuffleQueryStage
Output [2]: [k#1L, count#7L]
Arguments: 0

(6) AQEShuffleRead
Input [2]: [k#1L, count#7L]
Arguments: coalesced

(7) HashAggregate [codegen id : 2]
Input [2]: [k#1L, count#7L]
Keys [1]: [k#1L]
Functions [1]: [count(1)]
Aggregate Attributes [1]: [count(1)#5L]
Results [2]: [k#1L, count(1)#5L AS n#2L]

(8) ResultQueryStage
Output [2]: [k#1L, n#2L]
Arguments: 1

(9) Exchange
Input [2]: [k#1L, count#7L]
Arguments: hashpartitioning(k#1L, 2), ENSURE_REQUIREMENTS, [plan_id=36]

(10) HashAggregate
Input [2]: [k#1L, count#7L]
Keys [1]: [k#1L]
Functions [1]: [count(1)]
Aggregate Attributes [1]: [count(1)#5L]
Results [2]: [k#1L, count(1)#5L AS n#2L]

(11) AdaptiveSparkPlan
Output [2]: [k#1L, n#2L]
Arguments: isFinalPlan=true

(12) OverwriteByExpression
Input [2]: [k#1L, n#2L]
Arguments: NoopWrite
"""

# spark.range(3).crossJoin(spark.range(4)), broadcast joins off
CARTESIAN = """\
== Physical Plan ==
CartesianProduct Inner (4)
:- * Range (1)
+- * Project (3)
   +- * Range (2)


(1) Range [codegen id : 1]
Output [1]: [id#2L]
Arguments: Range (0, 3, step=1, splits=Some(2))

(2) Range [codegen id : 2]
Output [1]: [id#3L]
Arguments: Range (0, 4, step=1, splits=Some(2))

(3) Project [codegen id : 2]
Output [1]: [id#3L AS j#4L]
Input [1]: [id#3L]

(4) CartesianProduct
Join type: Inner
Join condition: None
"""

# spark.range(3).select(F.udf(lambda x: x + 1, "long")("id"))
ROW_UDF = """\
== Physical Plan ==
* Project (3)
+- BatchEvalPython (2)
   +- * Range (1)


(1) Range [codegen id : 1]
Output [1]: [id#5L]
Arguments: Range (0, 3, step=1, splits=Some(2))

(2) BatchEvalPython
Input [1]: [id#5L]
Arguments: [<lambda>(id#5L)#6L], [pythonUDF0#8L]

(3) Project [codegen id : 2]
Output [1]: [pythonUDF0#8L AS y#7L]
Input [2]: [id#5L, pythonUDF0#8L]
"""

# docs.select("doc_id", F.explode(F.split("text", " ")))
EXPLODE = """\
== Physical Plan ==
* Generate (2)
+- * Scan ExistingRDD (1)


(1) Scan ExistingRDD [codegen id : 1]
Output [2]: [doc_id#0L, text#1]
Arguments: [doc_id#0L, text#1], MapPartitionsRDD[4] at applySchemaToPythonRDD at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(2) Generate [codegen id : 1]
Input [2]: [doc_id#0L, text#1]
Arguments: explode(split(text#1,  , -1)), [doc_id#0L], false, [w#10]
"""

# docs.filter(F.size(F.split("text", " ")) > 2)
SPLIT_FILTER = """\
== Physical Plan ==
* Filter (2)
+- * Scan ExistingRDD (1)


(1) Scan ExistingRDD [codegen id : 1]
Output [2]: [doc_id#0L, text#1]
Arguments: [doc_id#0L, text#1], MapPartitionsRDD[4] at applySchemaToPythonRDD at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(2) Filter [codegen id : 1]
Input [2]: [doc_id#0L, text#1]
Condition : (size(split(text#1,  , -1), false) > 2)
"""

# docs.select(F.md5("text"), F.conv(F.substring(F.md5("text"), 1, 8), 16, 10))
MD5_TWICE = """\
== Physical Plan ==
* Project (2)
+- * Scan ExistingRDD (1)


(1) Scan ExistingRDD [codegen id : 1]
Output [2]: [doc_id#0L, text#1]
Arguments: [doc_id#0L, text#1], MapPartitionsRDD[4] at applySchemaToPythonRDD at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(2) Project [codegen id : 1]
Output [2]: [md5(cast(text#1 as binary)) AS a#11, conv(substring(md5(cast(text#1 as binary)), 1, 8), 16, 10, true) AS b#12]
Input [2]: [doc_id#0L, text#1]
"""

# the groupBy, executed with spark.sql.codegen.wholeStage=false
NO_WHOLESTAGE = """\
== Physical Plan ==
AdaptiveSparkPlan (10)
+- == Final Plan ==
   ResultQueryStage (8)
   +- HashAggregate (7)
      +- AQEShuffleRead (6)
         +- ShuffleQueryStage (5), Statistics(sizeInBytes=144.0 B, rowCount=6)
            +- Exchange (4)
               +- HashAggregate (3)
                  +- Project (2)
                     +- Range (1)
+- == Initial Plan ==
   HashAggregate (9)
   +- Exchange (4)
      +- HashAggregate (3)
         +- Project (2)
            +- Range (1)


(1) Range
Output [1]: [id#13L]
Arguments: Range (0, 100, step=1, splits=Some(2))

(2) Project
Output [1]: [(id#13L % 3) AS _groupingexpression#18L]
Input [1]: [id#13L]

(3) HashAggregate
Input [1]: [_groupingexpression#18L]
Keys [1]: [_groupingexpression#18L]
Functions [1]: [partial_count(1)]
Aggregate Attributes [1]: [count#19L]
Results [2]: [_groupingexpression#18L, count#20L]

(4) Exchange
Input [2]: [_groupingexpression#18L, count#20L]
Arguments: hashpartitioning(_groupingexpression#18L, 2), ENSURE_REQUIREMENTS, [plan_id=73]

(5) ShuffleQueryStage
Output [2]: [_groupingexpression#18L, count#20L]
Arguments: 0

(6) AQEShuffleRead
Input [2]: [_groupingexpression#18L, count#20L]
Arguments: coalesced

(7) HashAggregate
Input [2]: [_groupingexpression#18L, count#20L]
Keys [1]: [_groupingexpression#18L]
Functions [1]: [count(1)]
Aggregate Attributes [1]: [count(1)#17L]
Results [2]: [_groupingexpression#18L AS k#14L, count(1)#17L AS count#15L]

(8) ResultQueryStage
Output [2]: [k#14L, count#15L]
Arguments: 1

(9) HashAggregate
Input [2]: [_groupingexpression#18L, count#20L]
Keys [1]: [_groupingexpression#18L]
Functions [1]: [count(1)]
Aggregate Attributes [1]: [count(1)#17L]
Results [2]: [_groupingexpression#18L AS k#14L, count(1)#17L AS count#15L]

(10) AdaptiveSparkPlan
Output [2]: [k#14L, count#15L]
Arguments: isFinalPlan=true
"""

COLLECT_LIST_NO_WHOLESTAGE = NO_WHOLESTAGE.replace(
    "HashAggregate", "ObjectHashAggregate")


def _stack(op: str, n: int) -> str:
    """An executed formatted plan of ``n`` stacked ``op`` nodes over a
    codegen'd Range, laid out like GROUP_BY_REST."""
    tree = "\n".join(f"{'   ' * i}+- {op} ({n + 1 - i})" for i in range(n))
    details = "\n\n".join(f"({i}) {op}\nInput [1]: [k#1L]"
                          for i in range(2, n + 2))
    return (f"== Physical Plan ==\n{tree}\n{'   ' * n}+- * Range (1)\n\n\n"
            f"(1) Range [codegen id : 1]\nOutput [1]: [k#1L]\n\n{details}\n")


def _condition(line: str) -> str:
    """SPLIT_FILTER with its Filter condition replaced by ``line``."""
    return SPLIT_FILTER.replace(
        "Condition : (size(split(text#1,  , -1), false) > 2)", line)


def _flags(text: str, limits: dict, **taken) -> list[str]:
    c = plans.counts(plans.read_plan(text))
    c.update(taken)
    return plans.check(c, limits)


def test_formatted_mode_counts_each_operator_once():
    nodes = plans.read_plan(GROUP_BY_EXPLAIN)
    assert [n.name for n in nodes] == [
        "Range", "Project", "HashAggregate", "Exchange", "HashAggregate",
        "AdaptiveSparkPlan"]
    # the text names the one Exchange twice: tree line and detail block
    assert len(re.findall(r"\bExchange\b", GROUP_BY_EXPLAIN)) == 2
    assert plans.counts(nodes)["exch"] == 1


def test_explain_and_rest_plan_agree_on_exchanges():
    """The same frame's explain before it runs and its REST
    planDescription after give one exchange count."""
    before = plans.counts(plans.read_plan(GROUP_BY_EXPLAIN))
    after = plans.counts(plans.read_plan(GROUP_BY_REST))
    assert before["exch"] == after["exch"] == 1


def test_initial_plan_echo_is_not_counted():
    nodes = {n.id: n for n in plans.read_plan(GROUP_BY_REST)}
    # Exchange (9) and HashAggregate (10) exist only in the echo
    assert nodes[9].name == "Exchange" and nodes[9].echo
    assert nodes[10].echo
    # HashAggregate (3) hangs in both trees and is live
    assert not nodes[3].echo and not nodes[4].echo
    # an Exchange reached from both trees is one node
    assert plans.counts(plans.read_plan(NO_WHOLESTAGE))["exch"] == 1


def test_codegen_spans_are_distinct_codegen_ids():
    nodes = plans.read_plan(GROUP_BY_REST)
    assert {n.id: n.codegen for n in nodes if n.codegen} == {
        1: 1, 2: 1, 3: 1, 7: 2}
    assert plans.counts(nodes)["wsc"] == 2
    # an AQE plan that has not run carries no codegen ids: not zero
    # spans but no reading, so NO_CODEGEN stays silent on it
    assert plans.counts(plans.read_plan(GROUP_BY_EXPLAIN))["wsc"] is None


def test_detail_blocks_keep_their_lines():
    (flt,) = [n for n in plans.read_plan(SPLIT_FILTER) if n.name == "Filter"]
    assert flt.codegen == 1
    assert flt.lines[-1] == "Condition : (size(split(text#1,  , -1), false) > 2)"
    scans = [n.name for n in plans.read_plan(EXPLODE)]
    assert scans == ["Scan ExistingRDD", "Generate"]


@pytest.mark.parametrize("text", [
    GROUP_BY_EXPLAIN, GROUP_BY_REST, EXPLODE,
    ROW_UDF.replace("BatchEvalPython", "ArrowEvalPython"),
], ids=["explain", "rest", "explode", "arrow_udf"])
def test_clean_plans_trip_no_rule(text):
    nodes = plans.read_plan(text)
    c = plans.counts(nodes)
    for limits in (plans.BATCH, plans.STREAM):
        assert plans.check({**c, "execs": 1}, limits) == []
    assert plans.expression_hits("q", nodes) == []


RULE_CASES = {
    "CARTESIAN": lambda: _flags(CARTESIAN, plans.BATCH),
    "ROW_PYTHON_UDF": lambda: _flags(ROW_UDF, plans.STREAM),
    "EXCHANGES": lambda: _flags(_stack("Exchange", 31), plans.BATCH),
    "GENERATES": lambda: _flags(_stack("Generate", 16), plans.BATCH),
    "NO_CODEGEN": lambda: _flags(NO_WHOLESTAGE, plans.STREAM),
    "RUNTIME_FAIL": lambda: _flags(GROUP_BY_EXPLAIN, plans.BATCH, wsc=-1),
    "NO_EXECUTIONS": lambda: plans.check({"execs": 0}, plans.STREAM),
}


def test_every_rule_has_a_case():
    assert set(RULE_CASES) == set(plans.RULES)


@pytest.mark.parametrize("rule", sorted(RULE_CASES))
def test_rule_fires_on_minimal_trigger(rule):
    flags = RULE_CASES[rule]()
    assert [f.split(">")[0] for f in flags] == [rule]


def test_ceilings_are_nodes():
    assert _flags(_stack("Exchange", 30), plans.BATCH) == []
    assert _flags(_stack("Exchange", 31), plans.BATCH) == ["EXCHANGES>30"]
    assert _flags(_stack("Exchange", 30), plans.STREAM) == []
    assert _flags(_stack("Exchange", 31), plans.STREAM) == ["EXCHANGES>30"]
    assert _flags(_stack("Generate", 15), plans.BATCH) == []
    assert _flags(_stack("Generate", 16), plans.BATCH) == ["GENERATES>15"]
    assert _flags(_stack("Generate", 16), plans.STREAM) == []


def test_no_codegen_exempts_object_aggregates_in_streaming_only():
    assert _flags(NO_WHOLESTAGE, plans.BATCH) == ["NO_CODEGEN"]
    assert _flags(COLLECT_LIST_NO_WHOLESTAGE, plans.STREAM) == []
    assert _flags(COLLECT_LIST_NO_WHOLESTAGE, plans.BATCH) == ["NO_CODEGEN"]
    # a plan that neither shuffles nor joins needs no codegen span
    assert _flags(EXPLODE, plans.BATCH, wsc=0) == []


# one real condition per class, printed by Spark 4.1 for a filter on
# docs(doc_id long, text string, a array<int>, b array<int>)
EXPRESSION_CASES = {
    "regex-split": "Condition : (size(split(text#1,  , -1), false) > 2)",
    "regex-rlike": "Condition : (isnotnull(text#1) AND RLIKE(text#1, ^a))",
    "regex-fn": "Condition : (isnotnull(text#1) AND "
                "(length(regexp_replace(text#1, \\s+, , 1)) > 2))",
    "md5": "Condition : (isnotnull(text#1) AND "
           "NOT (md5(cast(text#1 as binary)) = x))",
    "sha": "Condition : (isnotnull(text#1) AND "
           "NOT (sha2(cast(text#1 as binary), 256) = x))",
    "conv": "Condition : (cast(conv(substring(hex(doc_id#0L), 1, 8), "
            "16, 10, true) as bigint) > 0)",
    "array-set-op": "Condition : (size(array_intersect(a#2, b#3), false) > 0)",
    "hof": "Condition : exists(a#2, lambdafunction((lambda x_1#4 > 1), "
           "lambda x_1#4, false))",
    "hof-filter": "Condition : (size(filter(a#2, lambdafunction((lambda "
                  "x_2#5 > 1), lambda x_2#5, false)), false) > 0)",
    "concat-ws": "Condition : NOT (concat_ws(:, text#1, "
                 "cast(doc_id#0L as string)) = x)",
    "xxhash-wide": "Condition : (xxhash64(text#1, doc_id#0L, 42) > 0)",
}


def test_every_expression_class_has_a_case():
    assert set(EXPRESSION_CASES) | {"dup-expr"} == (
        set(plans.HARD) | set(plans.SOFT) | {"dup-expr"})


@pytest.mark.parametrize("cls", sorted(EXPRESSION_CASES))
def test_expression_class_fires_on_its_condition(cls):
    sev = "hard" if cls in plans.HARD else "soft"
    hits = plans.expression_hits(
        "q", plans.read_plan(_condition(EXPRESSION_CASES[cls])))
    assert (cls, sev) in {h[:2] for h in hits}


def test_join_condition_lines_are_scanned():
    text = CARTESIAN.replace(
        "Join condition: None",
        "Join condition: (size(array_intersect(a#2, b#3), false) > 0)")
    assert [h[0] for h in plans.expression_hits(
        "q", plans.read_plan(text))] == ["array-set-op"]
    assert plans.condition_lines(plans.read_plan(CARTESIAN)) == []


def test_dup_expr_flags_a_call_computed_twice_in_one_projection():
    hits = plans.expression_hits("q", plans.read_plan(MD5_TWICE))
    assert hits == [("dup-expr", "soft",
                     "(2) Project: md5(cast(text#1 as binary))")]
    # the same chain over two different inputs is two computations
    other = MD5_TWICE.replace("substring(md5(cast(text#1",
                              "substring(md5(cast(doc_id#0L")
    assert plans.expression_hits("q", plans.read_plan(other)) == []


def test_allowlist_sanctions_a_reviewed_hit_for_its_query_only():
    nodes = plans.read_plan(_condition(EXPRESSION_CASES["regex-rlike"]))
    assert ("shell_grep", "regex-rlike") in plans.ALLOWLIST
    assert plans.expression_hits("shell_grep", nodes) == []
    assert [h[0] for h in plans.expression_hits("q", nodes)] == ["regex-rlike"]


def test_xxhash_arity_ignores_nested_commas():
    assert plans.xxhash_arities("xxhash64(concat_ws(':', a, b))") == [1]
    assert plans.xxhash_arities("xxhash64(a, b, c)") == [3]
    assert plans.xxhash_arities(
        "(xxhash64(x#1, 42) = xxhash64(f(y#2, z#3), w#4, 42))") == [2, 3]


def test_xxhash_wide_class():
    wide = plans.SOFT["xxhash-wide"]
    assert not plans._hit(wide, "Condition : (xxhash64(concat_ws(':', a, b)) > 0)")
    assert plans._hit(wide, "Condition : (xxhash64(a, b, c) > 0)")
