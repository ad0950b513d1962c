"""Table profiling — one-pass per-column data-quality statistics.

The pipeline-operator complement to ``DESCRIBE``/``ANALYZE``: null
counts, distinct cardinality, min/max, per column, computed in a single
aggregate pass (every statistic is an agg expression over the same scan
— map-side partial everywhere, one exchange total). Values are emitted
as strings in a long (column, metric, value) table so one schema covers
every column type.

``exact_distinct=False`` (default) uses HyperLogLog++
(``approx_count_distinct``) — the only sane choice at 100 TB;
``True`` switches to exact ``count_distinct`` for oracle-checkable
profiles at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


#: column types with no meaningful ordering for min/max in a profile
_UNORDERED_PREFIXES = ("array", "map", "struct", "binary")


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Long-format profile: (column, metric, value STRING).

    Metrics per column: ``count`` (non-null), ``nulls``, ``distinct``
    (approximate unless ``exact_distinct``), and for orderable types
    ``min``/``max``. One aggregate pass; the row count rides along once
    as ``(*, rows)``.
    """
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"unknown columns {missing}")

    aggs = [F.count(F.lit(1)).alias("__rows")]
    per_col: list[tuple[str, str, str]] = []  # (column, metric, agg alias)
    # positional alias index, NOT a name transform: sanitizing "a.b" to
    # "a_b" collides with a literal "a_b" column and breaks the aggregate
    for i, c in enumerate(cols):
        # backtick-escape so a literal dotted NAME is not read as a
        # struct-field path
        col = F.col("`" + c.replace("`", "``") + "`")
        aggs.append(F.count(col).alias(f"__cnt_{i}"))
        per_col.append((c, "count", f"__cnt_{i}"))
        aggs.append(
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"__nul_{i}")
        )
        per_col.append((c, "nulls", f"__nul_{i}"))
        # map-BEARING columns are not groupable/orderable:
        # count_distinct on them throws for the WHOLE aggregate —
        # profile their canonical JSON form instead. "map" anywhere in
        # the dtype (array<map<...>>, struct with a map field), not just
        # top-level: a nested map fails the same way one level down
        # (review r7)
        dcol = F.to_json(col) if "map<" in dtypes[c] else col
        distinct = (
            F.count_distinct(dcol) if exact_distinct
            else F.approx_count_distinct(dcol)
        )
        aggs.append(distinct.alias(f"__dis_{i}"))
        per_col.append((c, "distinct", f"__dis_{i}"))
        if not dtypes[c].startswith(_UNORDERED_PREFIXES):
            aggs.append(F.min(col).alias(f"__min_{i}"))
            per_col.append((c, "min", f"__min_{i}"))
            aggs.append(F.max(col).alias(f"__max_{i}"))
            per_col.append((c, "max", f"__max_{i}"))

    wide = df.agg(*aggs)
    entries = [
        F.struct(
            F.lit("*").alias("column"),
            F.lit("rows").alias("metric"),
            F.col("__rows").cast("string").alias("value"),
        )
    ] + [
        F.struct(
            F.lit(c).alias("column"),
            F.lit(m).alias("metric"),
            F.col(a).cast("string").alias("value"),
        )
        for c, m, a in per_col
    ]
    return wide.select(F.explode(F.array(*entries)).alias("p")).select(
        "p.column", "p.metric", "p.value"
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str | None = None,
    top_langs: int = 10,
    accuracy: int = 10_000,
) -> DataFrame:
    """Dataset-card summary of a document corpus: one long-format
    (section, metric, value STRING) table covering size, exact-duplicate
    rate, token/char distributions, quality moments, Gopher pass rate,
    and the language mix — the numbers every corpus release publishes.

    Cost shape: :func:`~kafi_spark.functions.text.text_stats` is
    computed ONCE (a single scan's projection); the global section is
    one aggregate pass over it (HLL for distinct fingerprints,
    percentile_approx sketches for the distributions — constant memory
    at any corpus size), and the language mix is one small hash
    aggregation. Nothing corpus-sized reaches the driver; the output is
    a few dozen rows. ``group_col`` adds a per-group size section
    (e.g. ``source``) from the same scan.

    Verbosity note: values are STRINGS (like :func:`profile_table`) so
    one schema carries counts, ratios, and language names alike.
    """
    from kafi_spark.functions.text import _with_gopher_rules, text_stats

    bound, rules = _with_gopher_rules(df, text_col)
    gopher_ok = None
    for rule in rules.values():
        gopher_ok = rule if gopher_ok is None else (gopher_ok & rule)
    # ONE projection carries stats + the gopher flag + the group column
    # (keep_cols) — no second scan, no corpus-scale join for row-local
    # values; the checkpoint stops the regex-heavy scan re-executing
    # once per aggregation section below (narrow numeric rows, the
    # sanctioned barrier the streaming twin also uses)
    j = text_stats(
        bound.withColumn("__gopher", gopher_ok), text_col, id_col,
        keep_cols=("__gopher", *((group_col,) if group_col else ())),
    ).localCheckpoint()

    pa = lambda c, q: F.percentile_approx(c, F.lit(q), accuracy)
    g = j.agg(
        F.count(F.lit(1)).alias("rows"),
        F.approx_count_distinct("fingerprint").alias("distinct_texts"),
        F.sum("n_tokens").alias("total_tokens"),
        F.avg("n_tokens").alias("mean_tokens"),
        pa("n_tokens", 0.5).alias("p50_tokens"),
        pa("n_tokens", 0.95).alias("p95_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.avg("quality").alias("mean_quality"),
        pa("quality", 0.5).alias("p50_quality"),
        F.avg(F.col("__gopher").cast("double")).alias("gopher_pass_rate"),
    ).withColumn(
        # clamp: the HLL estimate can overshoot the true row count by a
        # fraction of a percent, which would print a negative dup rate
        "dup_rate",
        F.greatest(
            F.lit(0.0),
            F.lit(1.0) - F.col("distinct_texts") / F.col("rows")),
    )
    order = ["rows", "distinct_texts", "dup_rate", "total_tokens",
             "mean_tokens", "p50_tokens", "p95_tokens", "total_chars",
             "mean_quality", "p50_quality", "gopher_pass_rate"]
    global_rows = g.select(F.explode(F.array(*[
        F.struct(
            F.lit("global").alias("section"),
            F.lit(m).alias("metric"),
            F.col(m).cast("string").alias("value"),
        ) for m in order
    ])).alias("e")).select("e.*")

    lang_rows = (
        j.groupBy("lang_guess").count()
        .orderBy(F.col("count").desc(), "lang_guess").limit(top_langs)
        .select(
            F.lit("lang").alias("section"),
            F.coalesce(F.col("lang_guess"), F.lit("unknown")).alias("metric"),
            F.col("count").cast("string").alias("value"),
        )
    )
    out = global_rows.unionByName(lang_rows)
    if group_col:
        # per-group rows AND tokens (mixture planning weighs sources by
        # token mass, not document count) — one aggregation serves both
        per_group = j.groupBy(group_col).agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("n_tokens").alias("__tok"))
        # null group -> 'unknown', same convention as the lang section:
        # a NULL metric key made the null-source mass unjoinable in
        # downstream mixture planning
        gname = F.coalesce(F.col(group_col).cast("string"), F.lit("unknown"))
        out = out.unionByName(
            per_group.select(
                F.lit(f"group:{group_col}").alias("section"),
                gname.alias("metric"),
                F.col("__n").cast("string").alias("value"),
            )
        ).unionByName(
            per_group.select(
                F.lit(f"group_tokens:{group_col}").alias("section"),
                gname.alias("metric"),
                F.col("__tok").cast("string").alias("value"),
            ))
    return out
