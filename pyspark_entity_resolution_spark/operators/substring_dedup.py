"""Exact substring deduplication (duplicated-span detection).

The third classic dedup axis after exact-document and near-document:
find SPANS of text that repeat verbatim anywhere in the corpus
(boilerplate headers, license blocks, templated paragraphs), the
operation popularized for LLM corpora by "Deduplicating Training Data
Makes Language Models Better" (Lee et al., arXiv:2107.06499). The paper
builds a suffix array; that is inherently sequential and
memory-resident, so this engine uses the distributed formulation:
rolling w-token window fingerprints (every duplicated substring of
length >= w contains a duplicated window, so window-level detection
finds exactly the >=w-token duplicated spans), then a per-document
interval merge that stitches overlapping duplicated windows into
maximal spans.

Scale shape: tokenize once, explode one row per window (corpus token
count x ~1 rows), ONE groupBy on the 16-byte window hash to find
repeats, one semi-join back, and a per-document sort-merge of intervals
(window function over (id) — partition-local). Nothing is pairwise in
documents and nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import tokens


def window_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", w: int = 10
) -> DataFrame:
    """One row per w-token rolling window: (id, start, wh) with
    ``start`` 1-based in token coordinates and ``wh`` a fingerprint of
    the space-joined window. Documents shorter than ``w`` tokens emit no
    windows (nothing of length >= w can repeat out of them).

    ``wh`` is internal (never part of any operator's output); only its
    ability to distinguish distinct windows matters. It is
    ``struct(xxhash64(s), xxhash64(1, s))``: two 64-bit halves under
    distinct seeds, so a false duplicate needs a simultaneous collision
    in both (the 128-bit class of md5, at a fraction of its hash CPU and
    as a 16-byte struct key through the groupBy exchange). The literal
    comes FIRST because Spark chains multi-argument hashes, each
    argument's hash seeding the next: ``xxhash64(s, 1)`` would make the
    second half a pure function of the first.
    """
    # stage the token array as a REAL column behind a lazy-checkpoint
    # projection barrier: without it CollapseProject re-inlines the
    # split/filter tokenization into the per-window lambda, re-tokenizing
    # the document once per window (measured 8.6 s -> 2.5 s at sf0.1 for
    # 226k windows — the same barrier trick as the MinHash stage,
    # operators/dedup.py)
    toks0 = tokens(F.col(text_col))
    base = (
        df.filter(F.size(toks0) >= w)
        .select(F.col(id_col).alias("id"), toks0.alias("__toks"))
        .localCheckpoint(eager=False)
    )
    tk = F.col("__toks")
    # CASE-guard as well as filter: ANSI `sequence` raises on start > stop,
    # and the filter alone does not pin expression evaluation order.
    starts = F.sequence(F.lit(1), F.size(tk) - F.lit(w - 1))

    def fingerprint(s):
        return F.struct(
            F.xxhash64(s).alias("h1"),
            F.xxhash64(F.lit(1), s).alias("h2"),
        )

    # the joined window string is staged through an inner transform so
    # the struct hashes ONE materialized string per window instead of
    # evaluating the join once per struct field
    wins = F.when(
        F.size(tk) >= w,
        F.transform(
            F.transform(starts, lambda i: F.array_join(F.slice(tk, i, w), " ")),
            fingerprint,
        ),
    )
    return (
        base.select("id", wins.alias("__wins"))
        .select("id", F.posexplode("__wins").alias("idx", "wh"))
        .select("id", (F.col("idx") + 1).alias("start"), "wh")
    )


def _dup_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
    min_occurrences: int = 2,
) -> DataFrame:
    """Duplicated window occurrences ``(id, start, wh)``: every rolling
    window whose fingerprint occurs at least ``min_occurrences`` times
    corpus-wide. The shared stage under both span detection and span
    cutting."""
    wf = window_fingerprints(df, id_col, text_col, w)
    dup_hashes = (
        wf.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_occurrences)
        .select("wh")
    )
    return wf.join(dup_hashes, on="wh", how="left_semi")


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
    min_occurrences: int = 2,
) -> DataFrame:
    """Maximal duplicated spans per document, token coordinates.

    A window is duplicated when its fingerprint occurs at least
    ``min_occurrences`` times corpus-wide (across documents OR repeated
    inside one — both are verbatim repetition). Overlapping and adjacent
    duplicated windows merge into maximal spans. Returns
    ``(id, span_start, span_end, span_tokens)``, one row per maximal
    span; a span's text is tokens[span_start .. span_end] inclusive.
    """
    dup_wins = _dup_windows(df, id_col, text_col, w, min_occurrences).select(
        "id", "start", (F.col("start") + F.lit(w - 1)).alias("end")
    )
    return _merge_intervals(dup_wins)


def _merge_intervals(dup_wins: DataFrame) -> DataFrame:
    """Merge (id, start, end) windows into maximal spans: a window
    starting within (or adjacent to) the running max end of earlier
    windows extends the current span. Partition-local per id."""
    order = Window.partitionBy("id").orderBy("start")
    prev_max_end = F.max("end").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup_wins.withColumn(
        "__new",
        F.when(
            prev_max_end.isNull() | (F.col("start") > prev_max_end + 1), 1
        ).otherwise(0),
    )
    grouped = flagged.withColumn(
        "__grp", F.sum("__new").over(order.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        grouped.groupBy("id", "__grp")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select(
            F.col("id"),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def cut_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
    min_occurrences: int = 2,
    keep_first: bool = True,
) -> DataFrame:
    """Rewrite each document with its duplicated spans REMOVED — the
    corpus-cleaning action the span profile exists for (Lee et al.
    arXiv:2107.06499 §4 deletes the duplicated text; detection alone
    leaves the boilerplate in the corpus).

    Keep-first policy (``keep_first=True``): for every duplicated
    window fingerprint, the deterministically-first occurrence (min
    ``(id, start)``) SURVIVES and every later occurrence is cut, so
    exactly one copy of each duplicated region remains corpus-wide.
    With ``keep_first=False`` every occurrence of every duplicated
    window is cut (no survivor), matching ``duplicated_spans``'s span
    set exactly.

    Output ``(id, text, n_tokens, n_tokens_cut)`` — one row per input
    document, including documents with nothing to cut. Reassembly
    contract: ``text`` is the surviving tokens joined with single
    spaces, i.e. whitespace-NORMALIZED relative to the input (the
    operator works in token coordinates; original inter-token
    whitespace is not preserved).

    Scale shape: the same one-groupBy window-hash pipeline as
    ``duplicated_spans`` plus (for keep-first) one ``row_number`` window
    partitioned by the 16-byte hash, then a per-document token filter
    against the doc's own merged cut list (few spans per doc, evaluated
    inside whole-stage codegen). Nothing pairwise, nothing Python.
    """
    dup_wins = _dup_windows(df, id_col, text_col, w, min_occurrences)
    return _cut_from_windows(df, dup_wins, id_col, text_col, w, keep_first)


def _cut_from_windows(
    df: DataFrame,
    dup_wins: DataFrame,
    id_col: str,
    text_col: str,
    w: int,
    keep_first: bool,
) -> DataFrame:
    """Cut stage over precomputed ``(id, start, wh)`` duplicated-window
    occurrences — split out so ``span_report`` can share one
    materialized window set between detection and cutting."""
    if keep_first:
        first = Window.partitionBy("wh").orderBy("id", "start")
        dup_wins = (
            dup_wins.withColumn("__rk", F.row_number().over(first))
            .filter(F.col("__rk") > 1)
            .drop("__rk")
        )
    cuts = _merge_intervals(
        dup_wins.select("id", "start", (F.col("start") + F.lit(w - 1)).alias("end"))
    )
    per_doc = cuts.groupBy("id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("span_start").cast("bigint").alias("span_start"),
                    F.col("span_end").cast("bigint").alias("span_end"),
                )
            )
        ).alias("__cuts")
    )
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
    joined = base.join(per_doc, on="id", how="left")
    cuts_arr = F.coalesce(
        F.col("__cuts"),
        F.array().cast("array<struct<span_start:bigint,span_end:bigint>>"),
    )
    # token at 0-based index i survives unless some cut span covers
    # position i+1; spans per doc are few, so the exists() scan stays
    # cheap and entirely inside codegen
    kept = F.filter(
        F.col("__toks"),
        lambda t, i: ~F.exists(
            cuts_arr,
            lambda c: (i + 1 >= c["span_start"]) & (i + 1 <= c["span_end"]),
        ),
    )
    return joined.select(
        "id",
        F.array_join(kept, " ").alias("text"),
        F.size(kept).cast("bigint").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("bigint").alias("n_tokens_cut"),
    )


def span_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
    min_occurrences: int = 2,
    keep_first: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Both halves of the substring-dedup pass over ONE materialized
    duplicated-window set: ``(spans, cut)`` where ``spans`` is
    ``duplicated_spans``' output and ``cut`` is ``cut_spans``'. The
    tokenize→window→hash→groupBy pipeline (the dominant cost) runs
    once instead of once per half; the shared rows are the small
    ``(id, start, wh)`` duplicated occurrences, checkpointed."""
    dup_wins = _dup_windows(df, id_col, text_col, w, min_occurrences).localCheckpoint()
    spans = _merge_intervals(
        dup_wins.select("id", "start", (F.col("start") + F.lit(w - 1)).alias("end"))
    )
    cut = _cut_from_windows(df, dup_wins, id_col, text_col, w, keep_first)
    return spans, cut


def span_report_with_cut_variants(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
    min_occurrences: int = 2,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`span_report` plus the no-survivor cut in one pass:
    ``(spans, cut_keep_first, cut_all)``, all three sharing ONE
    materialized duplicated-window set. ``cut_all`` removes EVERY
    occurrence of every duplicated window (``keep_first=False``) — its
    cut intervals are by construction exactly the ``spans`` rows, so
    the only extra cost over :func:`span_report` is the second
    per-document token filter, not a second window-hash pipeline."""
    dup_wins = _dup_windows(df, id_col, text_col, w, min_occurrences).localCheckpoint()
    spans = _merge_intervals(
        dup_wins.select("id", "start", (F.col("start") + F.lit(w - 1)).alias("end"))
    )
    cut_first = _cut_from_windows(df, dup_wins, id_col, text_col, w, True)
    cut_all = _cut_from_windows(df, dup_wins, id_col, text_col, w, False)
    return spans, cut_first, cut_all


def duplication_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
    min_occurrences: int = 2,
) -> DataFrame:
    """Per-document duplication summary: total tokens, tokens inside
    duplicated spans, and the duplicated fraction — the signal a corpus
    curator thresholds on before cutting spans. Clean documents are
    kept with zero counts (total report)."""
    toks = tokens(F.col(text_col))
    totals = df.select(
        F.col(id_col).alias("id"), F.size(toks).cast("bigint").alias("n_tokens")
    )
    spans = (
        duplicated_spans(df, id_col, text_col, w, min_occurrences)
        .groupBy("id")
        .agg(
            F.sum("span_tokens").alias("dup_tokens"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )
    return totals.join(spans, on="id", how="left").select(
        "id",
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        # zero-token documents report 0.0, not NULL — the "clean
        # documents kept with zero counts" contract covers the empty doc
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_token_frac"),
    )
