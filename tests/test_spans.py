"""Span/line-level exact dedup (kafi_spark.functions.spans)."""

from __future__ import annotations

import duckdb
import pytest

from kafi_spark.functions import spans as sp
from tests.conftest import rows


@pytest.fixture(scope="module")
def docs(spark):
    data = [
        (1, "a b c d e f"),           # spans(3): "a b c", "d e f"
        (2, "a b c x y z"),           # shares "a b c" with doc 1
        (3, "x y z"),                 # shares "x y z" with doc 2
        (4, "unique words only here"),
        (5, "a b c"),                 # entirely boilerplate
    ]
    return spark.createDataFrame(data, "doc_id long, text string")


def test_text_spans_chunking(docs):
    got = rows(sp.text_spans(docs, span_tokens=3).filter("doc_id = 1"))
    assert got == [(1, 0, "a b c"), (1, 1, "d e f")]
    # shorter-than-W document is one span
    got = rows(sp.text_spans(docs, span_tokens=3).filter("doc_id = 3"))
    assert got == [(3, 0, "x y z")]
    # last span may be ragged
    got = rows(sp.text_spans(docs, span_tokens=4).filter("doc_id = 1"))
    assert got == [(1, 0, "a b c d"), (1, 1, "e f")]


def test_span_dedup_keep_first(docs):
    out = {r.doc_id: (r.text, r.n_spans_kept)
           for r in sp.span_dedup(docs, span_tokens=3, keep="first").collect()}
    # "a b c" survives only in doc 1 (first by (doc_id, span_id));
    # "x y z" survives only in doc 2
    assert out[1] == ("a b c d e f", 2)
    assert out[2] == ("x y z", 1)
    assert 3 not in out          # every span removed → doc disappears
    assert out[4] == ("unique words only here", 2)  # 4 tokens → 2 spans
    assert 5 not in out


def test_span_dedup_keep_none(docs):
    out = {r.doc_id: r.text
           for r in sp.span_dedup(docs, span_tokens=3, keep="none").collect()}
    # every copy of the duplicated spans is dropped
    assert out == {1: "d e f", 4: "unique words only here"}


def test_span_dedup_max_occurrences(docs):
    # "x y z" occurs twice → survives everywhere at max_occurrences=2;
    # "a b c" occurs three times → still deduped
    out = {r.doc_id: r.text
           for r in sp.span_dedup(docs, span_tokens=3,
                                  max_occurrences=2, keep="none").collect()}
    assert out == {1: "d e f", 2: "x y z", 3: "x y z",
                   4: "unique words only here"}


def test_line_dedup(spark):
    data = [
        (1, "keep me\nfooter boilerplate\nunique line"),
        (2, "another doc\nfooter boilerplate"),
        (3, "footer boilerplate"),
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    out = {r.doc_id: r.text for r in sp.line_dedup(df).collect()}
    assert out == {1: "keep me\nunique line", 2: "another doc"}
    # keep='first' keeps the doc-1 occurrence instead
    out = {r.doc_id: r.text for r in sp.line_dedup(df, keep="first").collect()}
    assert out == {1: "keep me\nfooter boilerplate\nunique line",
                   2: "another doc"}


def test_span_dedup_validation(docs):
    with pytest.raises(ValueError):
        sp.span_dedup(docs, keep="last")
    with pytest.raises(ValueError):
        sp.span_dedup(docs, max_occurrences=0)
    with pytest.raises(ValueError):
        sp.text_spans(docs, span_tokens=0)


@pytest.mark.parametrize("keep,max_occ", [("first", 1), ("none", 2)])
def test_span_dedup_matches_duckdb_oracle(spark, sf_dir, keep, max_occ):
    """Full differential on the real documents table."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {r.doc_id: (r.text, r.n_spans_kept)
           for r in sp.span_dedup(df, span_tokens=8, keep=keep,
                                  max_occurrences=max_occ).collect()}
    survives = f"n <= {max_occ}" + (" OR rn = 1" if keep == "first" else "")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = {r[0]: (r[1], r[2]) for r in con.sql(f"""
        WITH ws AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w
                    FROM documents),
        spans AS (
          SELECT doc_id, CAST(s.i AS INT) AS span_id,
                 array_to_string(w[s.i*8+1 : s.i*8+8], ' ') AS span
          FROM ws, LATERAL (SELECT unnest(range(0,
                 greatest(CAST(ceil(len(w)/8.0) AS BIGINT), 1))) AS i) s),
        ranked AS (
          SELECT *, COUNT(*) OVER (PARTITION BY span) AS n,
                 ROW_NUMBER() OVER (PARTITION BY span
                                    ORDER BY doc_id, span_id) AS rn
          FROM spans)
        SELECT doc_id, string_agg(span, ' ' ORDER BY span_id),
               COUNT(*) FROM ranked WHERE {survives} GROUP BY doc_id
    """).fetchall()}
    assert got == want


def test_chunk_text_nonoverlapping(spark):
    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    got = sorted(
        (r.chunk_id, r.chunk, r.n_tokens, r.start_token)
        for r in sp.chunk_text(df, max_tokens=3).collect())
    assert got == [(0, "a b c", 3, 0), (1, "d e f", 3, 3), (2, "g", 1, 6)]


def test_chunk_text_overlapping_stride(spark):
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    got = sorted(
        (r.chunk_id, r.chunk, r.start_token)
        for r in sp.chunk_text(df, max_tokens=3, stride=2).collect())
    # starts 0,2: windows abc, cde — start 2 already covers the last
    # token, so no ragged third window is emitted
    assert got == [(0, "a b c", 0), (1, "c d e", 2)]
    # short doc → one chunk
    df2 = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    got2 = [(r.chunk, r.n_tokens) for r in
            sp.chunk_text(df2, max_tokens=3, stride=2).collect()]
    assert got2 == [("x y", 2)]


def test_chunk_text_validation(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        sp.chunk_text(df, max_tokens=0)
    with pytest.raises(ValueError):
        sp.chunk_text(df, max_tokens=4, stride=5)


# ---------------------------------------------------------------- substring


@pytest.fixture(scope="module")
def sub_docs(spark):
    # doc 1 and 2 share the 4-token passage "the quick brown fox";
    # doc 3 embeds it mid-text; doc 4 is clean; doc 5 IS the passage.
    data = [
        (1, "alpha the quick brown fox beta gamma"),
        (2, "the quick brown fox delta"),
        (3, "one two the quick brown fox three"),
        (4, "totally unrelated text here"),
        (5, "the quick brown fox"),
    ]
    return spark.createDataFrame(data, "doc_id long, text string")


def test_substring_dedup_keep_first(sub_docs):
    out = {r.doc_id: (r.text, r.n_tokens_removed)
           for r in sp.substring_dedup(sub_docs, min_tokens=4).collect()}
    # globally-first occurrence (doc 1) keeps the passage; every other
    # occurrence is cut, surrounding unique text intact
    assert out[1] == ("alpha the quick brown fox beta gamma", 0)
    assert out[2] == ("delta", 4)
    assert out[3] == ("one two three", 4)
    assert out[4] == ("totally unrelated text here", 0)
    assert out[5] == ("", 4)     # fully-duplicated doc → empty, NOT dropped


def test_substring_dedup_keep_none(sub_docs):
    out = {r.doc_id: r.text
           for r in sp.substring_dedup(sub_docs, min_tokens=4,
                                       keep="none").collect()}
    assert out[1] == "alpha beta gamma"
    assert out[2] == "delta"
    assert out[5] == ""


def test_substring_dedup_overlapping_grams_merge(spark):
    # a shared 6-token run with min_tokens=4 produces 3 overlapping
    # duplicated grams per occurrence; the merged interval must cut the
    # whole run exactly once (n_tokens_removed = 6, not 12)
    data = [(1, "p q r s t u"), (2, "x p q r s t u y")]
    df = spark.createDataFrame(data, "doc_id long, text string")
    out = {r.doc_id: (r.text, r.n_tokens_removed)
           for r in sp.substring_dedup(df, min_tokens=4).collect()}
    assert out[1] == ("p q r s t u", 0)
    assert out[2] == ("x y", 6)


def test_substring_dedup_short_and_boundary_docs(spark):
    data = [(1, "a b"), (2, "a b"), (3, None)]
    df = spark.createDataFrame(data, "doc_id long, text string")
    # min_tokens=4 > doc length → no grams → everything unchanged
    out = {r.doc_id: (r.text, r.n_tokens_removed)
           for r in sp.substring_dedup(df, min_tokens=4).collect()}
    assert out[1] == ("a b", 0)
    assert out[2] == ("a b", 0)
    assert out[3] == (None, 0)
    # min_tokens=2 == doc length → doc 2 (second occurrence) emptied
    out = {r.doc_id: r.text
           for r in sp.substring_dedup(df, min_tokens=2).collect()}
    assert out[1] == "a b" and out[2] == ""


def test_substring_dedup_max_occurrences(sub_docs):
    # passage occurs 4x: at max_occurrences=4 nothing is over-represented
    out = {r.doc_id: r.n_tokens_removed
           for r in sp.substring_dedup(sub_docs, min_tokens=4,
                                       max_occurrences=4).collect()}
    assert set(out.values()) == {0}


def test_substring_dedup_validation(sub_docs):
    with pytest.raises(ValueError):
        sp.substring_dedup(sub_docs, min_tokens=0)
    with pytest.raises(ValueError):
        sp.substring_dedup(sub_docs, keep="last")
    with pytest.raises(ValueError):
        sp.substring_dedup(sub_docs, max_occurrences=0)


@pytest.mark.parametrize("keep", ["first", "none"])
def test_substring_dedup_matches_duckdb_oracle(spark, sf_dir, keep):
    """Full differential on the real documents table (min_tokens=5):
    same sliding-gram + interval-union semantics re-expressed in SQL,
    compared row-exactly."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {r.doc_id: (r.text, r.n_tokens_removed)
           for r in sp.substring_dedup(df, min_tokens=5, keep=keep).collect()}
    removed = "n > 1" + (" AND rn > 1" if keep == "first" else "")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = {r[0]: (r[1], r[2]) for r in con.sql(f"""
        WITH ws AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS w
                    FROM documents),
        grams AS (
          SELECT doc_id, CAST(g.i AS BIGINT) AS start,
                 array_to_string(w[g.i+1 : g.i+5], ' ') AS gram
          FROM ws, LATERAL (SELECT unnest(range(0, len(w) - 5 + 1)) AS i) g
          WHERE len(w) >= 5),
        ranked AS (
          SELECT doc_id, start,
                 COUNT(*) OVER (PARTITION BY gram) AS n,
                 ROW_NUMBER() OVER (PARTITION BY gram
                                    ORDER BY doc_id, start) AS rn
          FROM grams),
        covered AS (
          SELECT DISTINCT doc_id, CAST(p.i AS BIGINT) AS pos
          FROM ranked, LATERAL (SELECT unnest(range(start, start + 5)) AS i) p
          WHERE {removed}),
        toks AS (
          SELECT doc_id, CAST(p.i AS BIGINT) AS pos, w[CAST(p.i AS INT) + 1] AS word
          FROM ws, LATERAL (SELECT unnest(range(0, len(w))) AS i) p),
        kept AS (
          SELECT t.doc_id, t.pos, t.word
          FROM toks t LEFT JOIN covered c
            ON c.doc_id = t.doc_id AND c.pos = t.pos
          WHERE c.pos IS NULL)
        SELECT w.doc_id,
               coalesce((SELECT string_agg(k.word, ' ' ORDER BY k.pos)
                         FROM kept k WHERE k.doc_id = w.doc_id), '') AS text,
               coalesce((SELECT count(*) FROM covered c
                         WHERE c.doc_id = w.doc_id), 0) AS n_tokens_removed
        FROM ws w
    """).fetchall()}
    assert got == want


@pytest.fixture(scope="module")
def pages(spark):
    # newline-separated "pages": "home" is chrome on 3 pages (twice on
    # page 1 — within-doc repeats must count ONCE toward doc frequency);
    # "  HOME  " on page 3 folds into the same key under normalize
    data = [
        (1, "home\nwelcome to page one\nhome\nfooter"),
        (2, "home\nsecond page body\nfooter"),
        (3, "  HOME  \nthird page body"),
        (4, "only original content"),
    ]
    return spark.createDataFrame(data, "doc_id long, text string")


def test_boilerplate_lines_doc_frequency(pages):
    got = {r.line: (r.doc_frequency, r.occurrences)
           for r in sp.boilerplate_lines(pages, min_doc_frequency=2).collect()}
    # "home": pages 1 (×2), 2, 3 → df=3, occ=4; rep is lexicographic min
    # of raw variants ("  HOME  " < "home")
    assert got == {"  HOME  ": (3, 4), "footer": (2, 2)}


def test_boilerplate_lines_no_normalize(pages):
    got = {r.line: (r.doc_frequency, r.occurrences)
           for r in sp.boilerplate_lines(
               pages, min_doc_frequency=2, normalize=False).collect()}
    # raw keys: "  HOME  " no longer folds into "home"
    assert got == {"home": (2, 3), "footer": (2, 2)}


def test_boilerplate_filter_drops_every_copy(pages):
    got = {r.doc_id: (r.text, r.n_lines_kept)
           for r in sp.boilerplate_filter(pages, min_doc_frequency=2).collect()}
    assert got == {
        1: ("welcome to page one", 1),
        2: ("second page body", 1),
        3: ("third page body", 1),
        4: ("only original content", 1),
    }


def test_boilerplate_filter_all_boilerplate_doc_disappears(spark):
    df = spark.createDataFrame(
        [(1, "x\ny"), (2, "x\ny"), (3, "x\nkeep me")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text
           for r in sp.boilerplate_filter(df, min_doc_frequency=2).collect()}
    assert got == {3: "keep me"}


def test_boilerplate_validation(pages):
    with pytest.raises(ValueError):
        sp.boilerplate_lines(pages, min_doc_frequency=0)
    with pytest.raises(ValueError):
        sp.boilerplate_filter(pages, min_doc_frequency=0)


def test_boilerplate_matches_duckdb_oracle(spark, sf_dir):
    """Word-level (sep=' ') doc-frequency differential on the real table."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "text IS NOT NULL")
    got = {r.line: (r.doc_frequency, r.occurrences)
           for r in sp.boilerplate_lines(
               df, sep=" ", min_doc_frequency=50).collect()}
    got_f = {r.doc_id: (r.text, r.n_lines_kept)
             for r in sp.boilerplate_filter(
                 df, sep=" ", min_doc_frequency=50).collect()}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = {r[0]: (r[1], r[2]) for r in con.sql("""
        WITH lines AS (
          SELECT doc_id, CAST(s.i AS INT) AS span_id, w[s.i+1] AS span,
                 md5(lower(trim(w[s.i+1]))) AS fp
          FROM (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents WHERE text IS NOT NULL),
               LATERAL (SELECT unnest(range(0, len(w))) AS i) s),
        per_doc AS (
          SELECT fp, doc_id, COUNT(*) AS occ, MIN(span) AS rep
          FROM lines GROUP BY fp, doc_id)
        SELECT MIN(rep), COUNT(*), SUM(occ) FROM per_doc
        GROUP BY fp HAVING COUNT(*) >= 50
    """).fetchall()}
    assert got == want
    want_f = {r[0]: (r[1], r[2]) for r in con.sql("""
        WITH lines AS (
          SELECT doc_id, CAST(s.i AS INT) AS span_id, w[s.i+1] AS span,
                 md5(lower(trim(w[s.i+1]))) AS fp
          FROM (SELECT doc_id, string_split(text, ' ') AS w
                FROM documents WHERE text IS NOT NULL),
               LATERAL (SELECT unnest(range(0, len(w))) AS i) s),
        boiler AS (
          SELECT fp FROM (SELECT fp, doc_id FROM lines GROUP BY fp, doc_id)
          GROUP BY fp HAVING COUNT(*) >= 50)
        SELECT doc_id, string_agg(span, ' ' ORDER BY span_id), COUNT(*)
        FROM lines WHERE fp NOT IN (SELECT fp FROM boiler)
        GROUP BY doc_id
    """).fetchall()}
    assert got_f == want_f


def test_substring_dedup_untouched_regions_verbatim(spark):
    """Round-5 VERDICT item 8: kept runs preserve their ORIGINAL interior
    whitespace byte-for-byte (tabs, newlines, double spaces); a single
    space marks the seam where a cut region split two kept runs;
    leading/trailing whitespace follows its end's first/last token."""
    dup = "the quick brown fox"
    data = [
        (1, f"alpha {dup} beta gamma"),                       # first: kept
        (2, f"keep\tme  now {dup} and\nthis   tail"),         # mid cut
        (3, f"{dup} only\ttrailing kept\n"),                  # head cut
        (4, f"  lead kept\t\there {dup}"),                    # tail cut
    ]
    df = spark.createDataFrame(data, "doc_id long, text string")
    out = {r.doc_id: (r.text, r.n_tokens_removed)
           for r in sp.substring_dedup(df, min_tokens=4).collect()}
    assert out[1] == (f"alpha {dup} beta gamma", 0)
    # interior whitespace of both kept runs intact; ONE space at the seam
    assert out[2] == ("keep\tme  now and\nthis   tail", 4)
    # leading region cut -> its whitespace gone; trailing \n kept with
    # the surviving last token
    assert out[3] == ("only\ttrailing kept\n", 4)
    # leading "  " kept with the surviving first token; cut tail's
    # whitespace gone
    assert out[4] == ("  lead kept\t\there", 4)


def test_boilerplate_filter_preserves_blank_lines(spark):
    """Round-9 review: the empty line is the most frequent 'line' in any
    real corpus; without the trivial-line exemption the defaults
    stripped every blank line corpus-wide — paragraph structure
    silently destroyed (the r7 line_dedup failure mode)."""
    df = spark.createDataFrame(
        [(1, "para one\n\npara two\n"), (2, "other start\n\nother end\n")],
        "doc_id long, text string")
    got = {r.doc_id: r.text
           for r in sp.boilerplate_filter(df, min_doc_frequency=2).collect()}
    assert got[1] == "para one\n\npara two\n"
    assert got[2] == "other start\n\nother end\n"
    # min_line_chars=0 restores the removable-blanks behavior
    got0 = {r.doc_id: r.text for r in sp.boilerplate_filter(
        df, min_doc_frequency=2, min_line_chars=0).collect()}
    assert got0[1] == "para one\npara two"


def test_text_spans_zero_token_docs_emit_no_rows(spark):
    """Round-9 review: the chunk floor emitted one phantom span ('' for
    empty docs) so all-but-the-first empty doc disappeared under
    span_dedup defaults; zero-token docs now emit no span rows and pass
    through span_dedup unchanged — batch and stream twin alike."""
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, "\t \n"), (4, None), (5, "")],
        "doc_id long, text string")
    assert sp.text_spans(df.filter("text is not null"),
                         span_tokens=2).count() == 1
    got = {r.doc_id: (r.text, r.n_spans_kept)
           for r in sp.span_dedup(df, span_tokens=2).collect()}
    assert got == {1: ("alpha beta", 1), 2: ("", 0), 3: ("\t \n", 0),
                   4: (None, 0), 5: ("", 0)}


def test_span_dedup_stream_zero_token_docs_match_batch(spark, tmp_path):
    from kafi_spark.streaming.stateful import span_dedup_stream

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, ""), (3, "\t \n"), (4, None)],
        "doc_id long, text string")
    want = sorted(((r.doc_id, r.text, r.n_spans_kept)
                   for r in sp.span_dedup(df, span_tokens=2).collect()),
                  key=str)
    got = []
    proc = span_dedup_stream(
        "text", "doc_id", str(tmp_path / "state"), span_tokens=2,
        sink=lambda out, e: got.extend(
            (r.doc_id, r.text, r.n_spans_kept) for r in out.collect()))
    proc(df, 0)
    assert sorted(got, key=str) == want
    # no phantom '' fingerprint may salt the state (fp is the engine's
    # xxhash64 long since r13 — derive the sentinel from the engine)
    from pyspark.sql import functions as F

    state = spark.read.parquet(str(tmp_path / "state"))
    empty_fp = spark.range(1).select(
        F.xxhash64(F.lit("")).alias("h")).first()["h"]
    assert state.filter(state["__fp"] == empty_fp).count() == 0
