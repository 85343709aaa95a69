"""Text-analysis expression builders for training-data pipelines.

All JVM-side Column expressions (no Python on the hot path): tokenization,
token/char statistics, stopword ratio, quality scoring, language-ID
heuristic, shingling, and fingerprinting. Designed to run over a 100 TB
``documents`` table: every function is a scalar expression that fuses into
whole-stage codegen — no shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .stopwords import ENGLISH_STOPWORDS


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# Whitespace class spelled out for CROSS-ENGINE parity: Java regex
# (Spark) defines \s as [ \t\n\x0B\f\r] while RE2 (the DuckDB oracles)
# defines it as [\t\n\f\r ] — they disagree on U+000B (vertical tab),
# so a document containing VT would tokenize/normalize differently on
# the two sides and hash-mismatch the correctness gate. Every
# parity-critical pattern here and in the oracle SQL uses this
# explicit class (the Java set; both engines parse \x0B identically).
WS_CLASS = r"[ \t\n\x0B\f\r]"


def tokens(c: Column | str, pattern: str = WS_CLASS + "+") -> Column:
    """Whitespace tokenization (empty tokens removed)."""
    return F.filter(F.split(_col(c), pattern), lambda t: t != F.lit(""))


def token_count(c: Column | str) -> Column:
    """Whitespace-token count (BIGINT)."""
    return F.size(tokens(c)).cast("bigint")


def unique_token_count(c: Column | str) -> Column:
    """Distinct whitespace-token count (BIGINT)."""
    return F.size(F.array_distinct(tokens(c))).cast("bigint")


# GPT-2-family pre-tokenizer, LOOKAHEAD-FREE variant: English
# contraction suffixes, space-attached letter runs, space-attached
# digit runs, space-attached symbol runs. Two DELIBERATE divergences
# from the upstream GPT-2 pattern, both forced by RE2 (DuckDB's
# engine, which has no lookahead) and both documented rather than
# hidden: (1) the ``\s+(?!\S)|\s+`` whitespace branches are DROPPED —
# ``regexp_extract_all`` skips unmatched gaps, so whitespace runs
# simply contribute no token here, whereas real GPT-2 emits (and a
# real tokenizer bills) one token per residual whitespace run; on
# newline/tab-heavy text (code, markdown) this count therefore
# undercounts GPT-2's by the number of such runs — it is a LOWER
# BOUND, not an identity. (2) character classes are spelled out with
# the explicit whitespace set (see ``WS_CLASS``): Java and RE2
# disagree on whether \s contains U+000B, and this pattern is
# evaluated by BOTH engines in the correctness gate. Both engines use
# leftmost-first alternation and agree on \p{L}/\p{N}, so the
# non-whitespace token boundaries are identical.
BPE_PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+"
)


def bpe_like_token_count(c: Column | str) -> Column:
    """LLM-tokenizer-shaped token count (BIGINT): matches of the GPT-2
    pre-tokenizer regex (contractions / letter runs / digit runs /
    symbol runs; whitespace runs deliberately unbilled — see the
    pattern comment). A whitespace ``token_count`` undercounts exactly
    the pieces a subword tokenizer bills for — punctuation and digit
    runs — so budget estimation over a training corpus wants this
    signal; the true BPE merge step only SPLITS these pieces further,
    so this is a lower bound on (and in practice tracks) real
    tokenizer counts."""
    return F.size(
        F.regexp_extract_all(_col(c), F.lit(BPE_PRETOKEN_PATTERN), 0)
    ).cast("bigint")


def avg_token_length(c: Column | str) -> Column:
    """Mean token length: int-sum / int-count division — bit-deterministic."""
    toks = tokens(c)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return F.try_divide(total.cast("double"), F.size(toks))


def stopword_ratio(c: Column | str) -> Column:
    """Fraction of tokens that are NLTK English stopwords."""
    toks = tokens(c)
    stop = F.lit(ENGLISH_STOPWORDS)
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    return F.try_divide(n_stop.cast("double"), F.size(toks))


def digit_ratio(c: Column | str) -> Column:
    """Fraction of characters that are decimal digits."""
    c = _col(c)
    n_digits = F.length(c) - F.length(F.regexp_replace(c, r"\d", ""))
    return F.try_divide(n_digits.cast("double"), F.length(c))


def punct_ratio(c: Column | str) -> Column:
    """Fraction of characters that are punctuation (non-word, non-space)."""
    c = _col(c)
    n_punct = F.length(c) - F.length(
        F.regexp_replace(c, r"[^\w \t\n\x0B\f\r]", "")
    )
    return F.try_divide(n_punct.cast("double"), F.length(c))


def quality_score(c: Column | str) -> Column:
    """Heuristic document quality in [0, 1]: rewards moderate length and
    lexical diversity, penalizes stopword-less (non-prose) and digit/punct
    noise. Fixed evaluation order keeps the double bit-identical across
    engines given the same inputs."""
    n = token_count(c)
    diversity = F.try_divide(unique_token_count(c).cast("double"), n)
    len_ok = F.when((n >= 10) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.5))
    stop = stopword_ratio(c)
    prose = F.when((stop >= 0.05) & (stop <= 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    noise = digit_ratio(c) + punct_ratio(c)
    return (
        F.lit(0.4) * diversity + F.lit(0.3) * len_ok + F.lit(0.3) * prose
    ) - F.lit(0.2) * noise


# Marker stopwords per language for the n-gram/marker language-ID
# heuristic. Deliberately tiny — the point is the operator shape
# (score-per-language + argmax), not linguistic accuracy.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "a", "and", "of", "is", "to", "in", "that"],
    "es": ["el", "la", "los", "las", "que", "de", "y", "es"],
    "fr": ["le", "la", "les", "et", "est", "que", "une", "dans"],
}


def lang_scores(c: Column | str) -> dict[str, Column]:
    """Marker-hit count per language."""
    toks = tokens(c)
    return {
        lang: F.size(
            F.filter(toks, lambda t: F.array_contains(F.lit(markers), t))
        ).cast("bigint")
        for lang, markers in LANG_MARKERS.items()
    }


def detect_language(c: Column | str) -> Column:
    """Argmax over marker scores, ties broken by language code order;
    'und' (undetermined) when no marker hits."""
    scores = lang_scores(c)
    best = None
    best_score = None
    for lang in sorted(scores):  # deterministic tie-break: first wins
        s = scores[lang]
        if best is None:
            best, best_score = F.lit(lang), s
        else:
            best = F.when(s > best_score, F.lit(lang)).otherwise(best)
            best_score = F.when(s > best_score, s).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


def char_shingles(c: Column | str, k: int = 3) -> Column:
    """All character k-grams, in order (may repeat).

    Inputs shorter than ``k`` yield ONE truncated shingle (the whole
    string) rather than an empty array — deliberate, so downstream
    ``array_min`` fingerprints stay non-NULL; the DuckDB oracles replicate
    the same ``greatest(1, len-k+1)`` bound."""
    c = _col(c)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.length(c) - F.lit(k - 1))),
        lambda i: c.substr(i, F.lit(k)),
    )


def word_shingles(c: Column | str, w: int = 3) -> Column:
    """All w-word shingles joined with a single space."""
    toks = tokens(c)
    n = F.size(toks)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), n - F.lit(w - 1))),
        lambda i: F.array_join(F.slice(toks, i, w), " "),
    )


def fingerprint_md5(c: Column | str) -> Column:
    """Full-document fingerprint: md5 of the whitespace-normalized text.
    (md5 is available and bit-identical in both Spark and DuckDB, which
    makes fingerprints oracle-checkable; normalization uses the
    explicit ``WS_CLASS`` for the same cross-engine reason.)"""
    normalized = F.trim(F.regexp_replace(_col(c), WS_CLASS + "+", " "))
    return F.md5(normalized)


def minhash_fingerprint(c: Column | str, k: int = 3) -> Column:
    """Rolling-window fingerprint: lexicographic MIN of the md5 of each
    distinct char k-gram — a 1-permutation MinHash over the shingle set.
    The min over the set equals the min over the multiset, so hashing
    each distinct shingle once is the cheaper form."""
    return F.array_min(
        F.transform(F.array_distinct(char_shingles(c, k)), F.md5)
    )
