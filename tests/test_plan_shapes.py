"""Plan shapes the curation operators rely on for their speed, read
from the plans themselves (``tools/plans.py``): the fenced language /
quality gate, the Gopher arrays bound once per row, and a generated-code
cache that holds a whole curation pass."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import DataFrame

from tools import plans


class _Captured(Exception):
    """Carries the frame a pipeline handed to ``localCheckpoint``."""


def _first_checkpoint(monkeypatch, df: DataFrame, build) -> DataFrame:
    """The frame ``build(df)`` first checkpoints; construction stops
    there."""
    def capture(self, eager=True):
        raise _Captured(self)

    # patched on the session's concrete frame class, which overrides
    # the method of the DataFrame interface
    monkeypatch.setattr(type(df), "localCheckpoint", capture)
    with pytest.raises(_Captured) as caught:
        build(df)
    return caught.value.args[0]


def _assert_gate_runs_no_regex(frame: DataFrame) -> None:
    """The language / quality gate's Filter (the one testing the default
    ``quality >= 0.5``) calls no regex function."""
    nodes = plans.read_plan(plans.formatted_plan(frame))
    gate = [ln for ln in plans.condition_lines(nodes) if ">= 0.5" in ln]
    assert len(gate) == 1, gate
    assert re.search(plans.HARD["regex-fn"], gate[0]) is None, gate[0]


def test_curate_gate_filter_reads_materialized_stats(spark, monkeypatch):
    """Unfenced, Catalyst pushes ``lang_guess = lang AND quality >= q``
    below text_stats' projections with the language CASE inlined, so the
    marker regexes run several times each in the Filter."""
    from kafi_spark.functions.pipeline import curate_documents

    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "der Hund und die Katze")],
        "doc_id long, text string")
    s1 = _first_checkpoint(monkeypatch, df, curate_documents)
    _assert_gate_runs_no_regex(s1)


def test_curate_stream_gate_filter_reads_materialized_stats(
        spark, monkeypatch, tmp_path):
    from kafi_spark.streaming.stateful import curate_documents_stream

    batch = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "der Hund und die Katze")],
        "doc_id long, text string")
    process = curate_documents_stream(state_dir=str(tmp_path / "state"))
    kept = _first_checkpoint(
        monkeypatch, batch, lambda b: process(b, 0))
    _assert_gate_runs_no_regex(kept)


def _gopher_doc(spark) -> DataFrame:
    return spark.createDataFrame(
        [(1, "the cat and the dog\n- a list item")],
        "doc_id long, text string")


def _assert_splits_once(frame: DataFrame) -> list:
    """``frame``'s plan splits the text, and no projection writes a
    split (or any other regex call) twice; returns the plan's nodes."""
    nodes = plans.read_plan(plans.formatted_plan(frame))
    outputs = [ln for n in nodes for ln in n.lines if ln.startswith("Output [")]
    assert any("split(" in ln for ln in outputs)
    assert [ln for ln in outputs if plans.duplicated_calls(ln)] == []
    return nodes


def test_corpus_report_splits_gopher_arrays_once(spark, monkeypatch):
    """The Gopher rules read the word and line arrays seven times; bound
    in a lower projection, no projection writes a split twice."""
    from kafi_spark.functions.profile import corpus_report

    _assert_splits_once(
        _first_checkpoint(monkeypatch, _gopher_doc(spark), corpus_report))


def test_gopher_filter_reads_bound_arrays(spark):
    """gopher_filter's Filter reads the bound word / line / stopword
    arrays; a plain filter is pushed below the binding projection with
    every split substituted back into the rules."""
    from kafi_spark.functions.text import gopher_filter

    nodes = _assert_splits_once(gopher_filter(_gopher_doc(spark)))
    conds = [ln for ln in plans.condition_lines(nodes) if "__gwords" in ln]
    assert len(conds) == 1, plans.condition_lines(nodes)
    for cls in ("regex-split", "regex-fn"):
        assert re.search(plans.HARD[cls], conds[0]) is None, conds[0]


def test_warm_curation_pass_compiles_no_class(spark, sf_dir):
    """A warm curation pass finds every generated class in Spark's
    codegen cache. At the default cache size (100 entries) a pass needs
    more classes than the cache holds, and the LRU recompiles about a
    hundred of them on every pass.

    The class name of a whole-stage-codegen iterator carries its stage
    id, and AQE numbers a pass's stages in the order they are planned,
    which varies from pass to pass: a warm pass can then compile a few
    classes again with the same code under a new name. The test leaves
    the id out of the name so that it pins only the cache size."""
    from kafi_spark.functions.pipeline import curate_documents_extended

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    ev = docs.filter("doc_id < 5")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = compiles.getCount()
        curate_documents_extended(
            docs, span_tokens=50, eval_df=ev, decontam_n=8).collect()
        return compiles.getCount() - before

    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    try:
        one_pass()
        assert one_pass() == 0
    finally:
        spark.conf.unset("spark.sql.codegen.useIdInClassName")
