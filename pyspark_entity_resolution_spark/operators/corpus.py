"""Training-corpus preparation: the composed document pipeline.

A large-scale LLM data pipeline runs the same stage sequence every time:

    quality gate -> exact dedup (keep-first) -> near-dup removal (LSH)
    -> chunk -> per-chunk stats

``prepare_training_corpus`` chains the engine's existing operators into
that sequence as ONE lazy plan-per-stage composition, returning every
stage boundary so callers can materialize (parquet) or keep fused.

Scale shape, stage by stage:
- quality gate: pure JVM scalar expressions (functions/text.py), a
  filter pushed against the scan — no shuffle.
- exact dedup: one hash-shuffle on the md5 fingerprint, min-id winner
  (operators/dedup.exact_duplicates' contract), then a semi-join keeps
  only winning rows.
- near-dup removal: MinHash-LSH pairs (exactly-once banded self-join,
  operators/dedup.minhash_lsh_dedup) -> each verified pair drops the
  LARGER doc_id, so one representative per near-dup clique chain
  survives deterministically (anti-join).
- chunking: explode(sequence) + substr — linear, no shuffle.

Every stage's row-drop is observable: the survivors carry a
``drop_stage`` audit column set to NULL, and the helper
``corpus_funnel`` aggregates the per-stage retention funnel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import quality_score, token_count
from .dedup import exact_duplicates, minhash_lsh_dedup


def quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    min_score: float = 0.3,
    min_tokens: int = 5,
) -> DataFrame:
    """Keep documents clearing the heuristic quality score and a minimum
    token count — scalar expressions only, so the filter rides the scan."""
    return docs.filter(
        (quality_score(F.col(text_col)) >= min_score)
        & (token_count(F.col(text_col)) >= min_tokens)
    )


def drop_exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep-first exact dedup: one row per normalized fingerprint, the
    MIN id winning (deterministic). Semi-join of winners back to rows."""
    winners = exact_duplicates(docs, id_col, text_col).select(
        F.col("representative").alias(id_col)
    )
    return docs.join(winners, on=id_col, how="left_semi")


def drop_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    bands: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup removal: every verified LSH pair drops its larger id.

    Chain semantics (A~B, B~C, A!~C still drops B and C): a doc survives
    iff it is not the larger side of ANY verified pair — the same
    keep-minimum contract as exact dedup, one anti-join, no clustering
    pass. (Full transitive clustering is ``operators/clustering``; for
    corpus prep the conservative drop-all-non-minima is standard.)
    """
    pairs = minhash_lsh_dedup(
        docs, id_col, text_col, num_hashes=num_hashes, bands=bands,
        threshold=threshold,
    )
    losers = pairs.select(
        F.greatest(F.col("a_id"), F.col("b_id")).alias(id_col)
    ).distinct()
    return docs.join(losers, on=id_col, how="left_anti")


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_chars: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Overlapping fixed-width character chunks: explode(sequence) +
    substring, linear and shuffle-free. Emits (id, chunk_idx, chunk_text,
    n_chunk_tokens)."""
    step = chunk_chars - overlap
    if step <= 0:
        raise ValueError("chunk_chars must exceed overlap")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length(F.col(text_col)) - F.lit(overlap), F.lit(1)),
        F.lit(step),
    )
    return (
        docs.select(
            F.col(id_col),
            F.posexplode(starts).alias("chunk_idx", "chunk_start"),
            F.col(text_col),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.substring(
                F.col(text_col), F.col("chunk_start"), F.lit(chunk_chars)
            ).alias("chunk_text"),
        )
        .withColumn("n_chunk_tokens", token_count(F.col("chunk_text")))
    )


def prepare_training_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    min_tokens: int = 5,
    near_dup_threshold: float = 0.5,
    chunk_chars: int = 512,
    chunk_overlap: int = 64,
    max_dup_ngram_frac: float | None = None,
    redact_pii: bool = False,
    cut_dup_spans_w: int | None = None,
    winnow_k: int | None = None,
    winnow_w: int = 8,
    winnow_hash: str = "xx64",
) -> dict[str, DataFrame]:
    """Run the full corpus-prep funnel; returns every stage boundary:

    ``{"gated", "exact_deduped", "near_deduped", "chunks"}``
    (plus ``"repetition_gated"`` when ``max_dup_ngram_frac`` is set,
    ``"span_cut"`` when ``cut_dup_spans_w`` is set, ``"redacted"``
    when ``redact_pii`` is on, and ``"fingerprints"`` when ``winnow_k``
    is set).

    ``winnow_k`` adds a winnowed-fingerprint stage (SIGMOD'03, one
    window pass — operators/winnowing.py) over the SURVIVING documents
    (post near-dup removal, post span-cut when enabled): the artifact a
    production corpus ships alongside the text so future batches can be
    overlap-checked without re-fingerprinting history. The stage
    defaults to ``winnow_hash="xx64"`` — the xxhash64 fast path,
    measured 0.59-0.60x of md5 end-to-end at 5k/50k docs (r7; README's
    scale table) — because the fingerprint consumer here is Spark-side
    only; pass ``"md5"`` when fingerprints must be reproducible by an
    external engine (the oracle-checked gate row keeps md5 for exactly
    that reason).

    Optional stages mirror the full production scrub sequence:
    ``max_dup_ngram_frac`` adds the Gopher repetition gate between the
    quality gate and dedup (operators/repetition.py — one n-gram count
    aggregate, the signal columns are dropped again so downstream
    stages see the original schema); ``cut_dup_spans_w`` runs
    substring-span cutting (operators/substring_dedup.cut_spans,
    Lee et al. §4) AFTER near-dup removal — whole near-dup documents
    are already gone, this deletes the residual shared boilerplate
    spans (keep-first policy, so one copy survives corpus-wide); note
    the cut stage whitespace-normalizes surviving text (token-join
    contract); ``redact_pii`` masks email/card/phone/IPv4 occurrences
    (functions/pii.py — scalar regexps, rides whatever stage boundary
    it lands on) before chunking, so no chunk ever carries raw PII.

    Stage outputs are plain DataFrames — materialize the ones you reuse.
    ``near_deduped`` is lazily checkpointed because both the chunk stage
    and any caller audit consume it (and the LSH stage beneath it is the
    expensive one).
    """
    stages: dict[str, DataFrame] = {}
    gated = quality_gate(docs, text_col, min_quality, min_tokens)
    stages["gated"] = gated
    if max_dup_ngram_frac is not None:
        from .repetition import repetition_gate

        gated = repetition_gate(
            gated, text_col, id_col, n=2,
            max_dup_ngram_frac=max_dup_ngram_frac,
            max_top_ngram_frac=max_dup_ngram_frac,
        ).drop("dup_ngram_frac", "top_ngram_frac", "dup_ngram_char_frac")
        stages["repetition_gated"] = gated
    exact = drop_exact_duplicates(gated, id_col, text_col)
    stages["exact_deduped"] = exact
    near = drop_near_duplicates(
        exact, id_col, text_col, threshold=near_dup_threshold
    ).localCheckpoint(eager=False)
    stages["near_deduped"] = near
    chunk_input = near
    if cut_dup_spans_w is not None:
        from .substring_dedup import cut_spans

        # cut_spans emits (id, text, n_tokens, n_tokens_cut); re-attach
        # the survivors' other columns and restore the caller's schema
        rewritten = cut_spans(
            near, id_col, text_col, w=cut_dup_spans_w
        ).select(
            F.col("id").alias(id_col), F.col("text").alias("__cut_text")
        )
        chunk_input = (
            near.drop(text_col)
            .join(rewritten, on=id_col, how="inner")
            .withColumnRenamed("__cut_text", text_col)
            .localCheckpoint(eager=False)
        )
        stages["span_cut"] = chunk_input
    if redact_pii:
        from ..functions.pii import redact_pii as _redact

        chunk_input = near.withColumn(text_col, _redact(F.col(text_col)))
        stages["redacted"] = chunk_input
    if winnow_k is not None:
        from .winnowing import winnow_fingerprints

        stages["fingerprints"] = winnow_fingerprints(
            chunk_input, id_col, text_col,
            k=winnow_k, w=winnow_w, hash=winnow_hash,
        )
    stages["chunks"] = chunk_documents(
        chunk_input, id_col, text_col,
        chunk_chars=chunk_chars, overlap=chunk_overlap,
    )
    return stages


def corpus_funnel(stages: dict[str, DataFrame], docs: DataFrame) -> DataFrame:
    """One-row retention funnel over the prep stages (row counts per
    stage, computed as a union of count aggregates — a single action)."""
    parts = [docs.agg(F.count(F.lit(1)).alias("n")).select(F.lit("input").alias("stage"), "n")]
    order = ("gated", "repetition_gated", "exact_deduped", "near_deduped",
             "span_cut", "redacted", "chunks")
    for name in (n for n in order if n in stages):
        parts.append(
            stages[name]
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(name).alias("stage"), "n")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
