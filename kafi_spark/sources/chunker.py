"""Oversized-message chunking (reference: kafi/chunker.py:25-63,
kafi/dechunker.py:15-75).

Values larger than ``chunk_size`` split into N messages linked by headers
``kafi_chunked_message_id`` / ``kafi_number_of_chunks`` /
``kafi_chunk_number`` and a ``_NNNNNN`` key suffix (kafi/helpers.py:356-376).
Here the link columns are first-class; converting them to Kafka headers is a
projection. Both directions are single JVM-side plans: chunk = sequence +
explode + substring; dechunk = groupBy + sort + concat.

This module owns the protocol: the chunk count and its key-suffix guard,
the explode/slice (``explode_chunks``), the suffix (``key_suffix`` /
``strip_key_suffix``), and the completeness rule and ordered concat
(``reassemble``). ``chunk``/``dechunk`` are the column form;
``FSTopicStorage.produce(chunk_size_bytes=)``/``consume(dechunk=True)``
wrap the same functions in Kafka headers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def explode_chunks(df: DataFrame, value_col: str, chunk_size: int) -> DataFrame:
    """One row per chunk of ``value_col``: the value is sliced in place and
    ``chunked_message_id`` (uuid string), ``chunk_number`` (0-based) and
    ``number_of_chunks`` are added. A null or short value is one chunk,
    unchanged."""
    # F.length: BYTES for binary values, CHARS for strings — the same
    # unit substring slices in (review r7: octet_length counted bytes
    # while substring sliced characters, so multibyte strings produced
    # an oversized first chunk and empty tails). chunk_size is therefore
    # bytes for binary payloads (the Kafka case) and characters for
    # strings. greatest() skips a null length: a null value is 1 chunk.
    n_chunks = F.greatest(
        F.ceil(F.length(F.col(value_col)) / chunk_size), F.lit(1)).cast("int")
    # the _NNNNNN key suffix holds 6 digits; lpad TRUNCATES past
    # 999999, colliding/corrupting chunk keys and breaking dechunk's
    # fixed-width suffix strip — fail loudly instead (round-8 ADVICE).
    # Row-level guard (the count is data-dependent): raise_error fires
    # during the projection, before any truncated key is emitted.
    n_chunks = F.when(
        n_chunks > 999_999,
        F.raise_error(
            F.concat(
                F.lit("chunking: value needs "),
                n_chunks.cast("string"),
                F.lit(
                    " chunks, past the 999999 the 6-digit key suffix "
                    "can number — increase the chunk size"
                ),
            )
        ).cast("int"),
    ).otherwise(n_chunks)
    # Per-row unique id, like the reference's uuid4 (kafi/chunker.py:37).
    # A content hash would alias identical (key, value) rows: dechunk's
    # completeness filter then sees 2n chunks vs n expected and drops both.
    # uuid() is nondeterministic, so Catalyst won't push it through the
    # Generate below — one id per source row, shared by its chunks.
    return (
        df.withColumn("number_of_chunks", n_chunks)
        .withColumn("chunked_message_id", F.expr("uuid()"))
        .withColumn("chunk_number", F.explode(
            F.sequence(F.lit(0), F.col("number_of_chunks") - 1)))
        .withColumn(value_col, F.substring(
            F.col(value_col), F.col("chunk_number") * chunk_size + 1, chunk_size))
    )


def key_suffix(chunk_number: Column) -> Column:
    """``_NNNNNN``, the chunk key suffix (kafi/helpers.py:356-376)."""
    return F.concat(F.lit("_"), F.lpad(chunk_number.cast("string"), 6, "0"))


def strip_key_suffix(chunk_key: Column) -> Column:
    """The original key: ``chunk_key`` without its 7-character suffix."""
    return F.substring(chunk_key, F.lit(1), F.length(chunk_key) - 7)


def reassemble(df: DataFrame, value_col: str, *aggs: Column) -> DataFrame:
    """Group chunk rows (``chunked_message_id``, ``chunk_number``,
    ``number_of_chunks``, ``value_col``) by message id and concatenate
    each COMPLETE group's values in chunk order. Output:
    ``chunked_message_id``, one column per extra aggregate in ``aggs``,
    ``value_col``. Incomplete groups are dropped (the reference buffers
    until all chunks arrive)."""
    # at-least-once tolerant (review r7): completeness counts DISTINCT
    # chunk numbers and the parts array is deduped — a redelivered
    # duplicate chunk used to fail the count check and silently DROP a
    # fully-delivered message (and would have been concatenated twice
    # had the count passed). A group with conflicting payloads for one
    # chunk number (size(parts) != expect after dedup) is dropped as
    # incomplete rather than reassembled corrupt.
    return (
        df.groupBy("chunked_message_id")
        .agg(
            F.max("number_of_chunks").alias("__expect"),
            F.count_distinct("chunk_number").alias("__got"),
            F.min("chunk_number").alias("__lo"),
            F.max("chunk_number").alias("__hi"),
            F.array_sort(F.array_distinct(
                F.collect_list(F.struct("chunk_number", F.col(value_col).alias("v")))
            )).alias("__parts"),
            *aggs,
        )
        .filter(
            (F.col("__got") == F.col("__expect"))
            & (F.size("__parts") == F.col("__expect"))
            # distinct-COUNT alone accepts any n distinct numbers —
            # corrupt/forged numbering ({0,2} with nof=2) must drop as
            # incomplete, not reassemble a wrong payload: require the
            # exact 0..n-1 span (r10 ADVICE; numbering is 0-based by
            # explode_chunks' sequence(0, n-1))
            & (F.col("__lo") == 0)
            & (F.col("__hi") == F.col("__expect") - 1)
        )
        .withColumn(value_col, F.aggregate(
            "__parts", F.lit(b""), lambda acc, p: F.concat(acc, p["v"])))
        .drop("__expect", "__got", "__lo", "__hi", "__parts")
    )


def chunk(df: DataFrame, value_col: str = "value", id_col: str = "key",
          chunk_size: int = 1000) -> DataFrame:
    """Split oversized binary values into numbered chunks.

    Output: (chunk_key, chunked_message_id, chunk_number, number_of_chunks,
    value). Single-chunk messages pass through with n_chunks=1 (the
    reference only chunks when needed, kafi/chunker.py:29-34).
    """
    return explode_chunks(df, value_col, chunk_size).select(
        F.concat(
            F.coalesce(F.col(id_col).cast("string"), F.lit("")),
            key_suffix(F.col("chunk_number")),
        ).alias("chunk_key"),
        "chunked_message_id",
        "chunk_number",
        "number_of_chunks",
        value_col,
    )


def dechunk(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Reassemble chunked messages (kafi/dechunker.py:15-75): group by
    message id, order chunks, concatenate; incomplete groups are dropped
    (the reference buffers until all chunks arrive)."""
    # recover the original key: chunk_key = "<key>_NNNNNN"
    # (kafi/helpers.py:356-376); originally-null keys come back ''
    # (chunk() coalesced them — the suffix scheme can't tell them
    # apart, same as the reference's dechunker)
    key_part = (
        [F.any_value(strip_key_suffix(F.col("chunk_key"))).alias("key")]
        if "chunk_key" in df.columns else []
    )
    return reassemble(df, value_col, *key_part)
