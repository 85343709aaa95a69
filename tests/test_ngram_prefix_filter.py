"""Prefix-filtered n-gram Jaccard must equal the naive blocked all-pairs
join exactly — prefix filtering (Bayardo et al. WWW'07) is a lossless
candidate pruning, so any divergence is a bug in the prefix math or the
exactly-once admission."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from pyspark_entity_resolution_spark.functions.text import char_shingles
from pyspark_entity_resolution_spark.operators import dedup as D


def _brute_force(df, k, threshold):
    """Reference semantics: all pairs within (lang, source) blocks."""
    grams = F.array_distinct(char_shingles(F.col("text"), k))
    base = df.select("doc_id", "lang", "source", grams.alias("grams"),
                     F.size(grams).alias("ng"))
    a = base.select(F.col("doc_id").alias("a_id"), "lang", "source",
                    F.col("grams").alias("a_grams"), F.col("ng").alias("a_ng"))
    b = base.select(F.col("doc_id").alias("b_id"), "lang", "source",
                    F.col("grams").alias("b_grams"), F.col("ng").alias("b_ng"))
    inter = F.size(F.array_intersect("a_grams", "b_grams"))
    jac = F.try_divide(inter.cast("double"),
                       F.col("a_ng") + F.col("b_ng") - inter)
    return (a.join(b, on=["lang", "source"])
            .filter(F.col("a_id") < F.col("b_id"))
            .withColumn("ngram_jaccard", jac)
            .filter(F.col("ngram_jaccard") >= threshold)
            .select("a_id", "b_id", "ngram_jaccard"))


def _rows(df):
    return sorted((r.a_id, r.b_id, round(r.ngram_jaccard, 9))
                  for r in df.collect())


WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
         "theta", "iota", "kappa", "data", "spark", "query", "join"]


def _corpus(rng, n):
    """Docs with planted near-duplicates: ~1/3 are light mutations of an
    earlier doc, so the threshold band is actually exercised."""
    rows = []
    for i in range(n):
        if i > 0 and rng.random() < 0.35:
            base_text = rows[rng.randrange(len(rows))][1]
            toks = base_text.split()
            j = rng.randrange(len(toks))
            toks[j] = rng.choice(WORDS)
            text = " ".join(toks)
        else:
            text = " ".join(rng.choice(WORDS)
                            for _ in range(rng.randint(3, 10)))
        rows.append((i, text, rng.choice(["en", "de"]),
                     rng.choice(["web", "books"])))
    return rows


@pytest.mark.parametrize("strategy", ["blocked", "prefix"])
@pytest.mark.parametrize("seed,threshold", [(1, 0.6), (2, 0.4), (3, 0.8)])
def test_pruned_strategies_equal_brute_force(spark, strategy, seed, threshold):
    rng = random.Random(seed)
    df = spark.createDataFrame(_corpus(rng, 120),
                               ["doc_id", "text", "lang", "source"])
    fast = D.ngram_jaccard_pairs(df, threshold=threshold, strategy=strategy)
    slow = _brute_force(df, k=3, threshold=threshold)
    got, want = _rows(fast), _rows(slow)
    assert len(want) > 0, "corpus must exercise the threshold band"
    assert got == want


def _brute_force_tokens(df, w, threshold):
    """Reference semantics for token shingles: all pairs within blocks
    over whitespace-token w-shingles."""
    from pyspark_entity_resolution_spark.functions.text import word_shingles

    grams = F.array_distinct(word_shingles(F.col("text"), w))
    base = df.select("doc_id", "lang", "source", grams.alias("grams"),
                     F.size(grams).alias("ng"))
    a = base.select(F.col("doc_id").alias("a_id"), "lang", "source",
                    F.col("grams").alias("a_grams"), F.col("ng").alias("a_ng"))
    b = base.select(F.col("doc_id").alias("b_id"), "lang", "source",
                    F.col("grams").alias("b_grams"), F.col("ng").alias("b_ng"))
    inter = F.size(F.array_intersect("a_grams", "b_grams"))
    jac = F.try_divide(inter.cast("double"),
                       F.col("a_ng") + F.col("b_ng") - inter)
    return (a.join(b, on=["lang", "source"])
            .filter(F.col("a_id") < F.col("b_id"))
            .withColumn("ngram_jaccard", jac)
            .filter(F.col("ngram_jaccard") >= threshold)
            .select("a_id", "b_id", "ngram_jaccard"))


@pytest.mark.parametrize("strategy", ["blocked", "prefix"])
@pytest.mark.parametrize("seed,threshold", [(11, 0.5), (12, 0.3)])
def test_token_shingles_equal_brute_force(spark, strategy, seed, threshold):
    # token shingles are the selective-vocabulary regime the prefix
    # strategy exists for — both strategies must still be lossless there
    rng = random.Random(seed)
    df = spark.createDataFrame(_corpus(rng, 120),
                               ["doc_id", "text", "lang", "source"])
    fast = D.ngram_jaccard_pairs(df, k=2, threshold=threshold,
                                 strategy=strategy, shingle="token")
    slow = _brute_force_tokens(df, w=2, threshold=threshold)
    got, want = _rows(fast), _rows(slow)
    assert len(want) > 0, "corpus must exercise the threshold band"
    assert got == want


def test_unknown_shingle_unit_raises(spark):
    df = spark.createDataFrame([(1, "a b c", "en", "web")],
                               ["doc_id", "text", "lang", "source"])
    with pytest.raises(ValueError, match="shingle unit"):
        D.ngram_jaccard_pairs(df, shingle="byte")


def test_hash_injectivity_certificate(spark):
    # the planning-time certificate must accept a clean vocabulary and
    # hash-verified jaccard must equal string jaccard exactly
    from pyspark_entity_resolution_spark.operators.dedup import (
        _hash_injective)

    rng = random.Random(7)
    df = spark.createDataFrame(_corpus(rng, 60),
                               ["doc_id", "text", "lang", "source"])
    grams = F.array_distinct(char_shingles(F.col("text"), 3))
    assert _hash_injective(df, grams) is True
    # under injectivity, per-pair hash intersection == string intersection
    base = df.select(
        "doc_id", grams.alias("g"),
        F.transform(grams, lambda g: F.xxhash64(g)).alias("h"))
    a = base.select(F.col("doc_id").alias("a_id"), F.col("g").alias("ag"),
                    F.col("h").alias("ah"))
    b = base.select(F.col("doc_id").alias("b_id"), F.col("g").alias("bg"),
                    F.col("h").alias("bh"))
    mism = (a.crossJoin(b).filter(F.col("a_id") < F.col("b_id"))
            .filter(F.size(F.array_intersect("ag", "bg"))
                    != F.size(F.array_intersect("ah", "bh"))).count())
    assert mism == 0


def test_prefix_filter_identical_docs_and_shorties(spark):
    # duplicates (jaccard 1.0), sub-k strings (single truncated shingle),
    # and whitespace-only docs must neither crash nor drop pairs
    df = spark.createDataFrame(
        [(1, "hello world", "en", "web"),
         (2, "hello world", "en", "web"),
         (3, "ab", "en", "web"),
         (4, "ab", "en", "web"),
         (5, "  ", "en", "web"),
         (6, "", "en", "web"),
         (7, "hello world", "de", "web")],  # other block: never paired
        ["doc_id", "text", "lang", "source"])
    got = _rows(D.ngram_jaccard_pairs(df, threshold=0.5))
    want = _rows(_brute_force(df, k=3, threshold=0.5))
    assert got == want
    assert (1, 2, 1.0) in got
    assert (3, 4, 1.0) in got
    assert all(7 not in (a, b) for a, b, _ in got)


def test_string_fallback_path_equals_brute_force(spark, monkeypatch):
    # a vocabulary hash collision (probability ~C(V,2)/2^64) must fall
    # back to string-array verification with identical results — force
    # the certificate to fail to exercise that path
    from pyspark_entity_resolution_spark.operators import dedup as dd

    monkeypatch.setattr(dd, "_hash_injective", lambda df, grams: False)
    rng = random.Random(5)
    df = spark.createDataFrame(_corpus(rng, 80),
                               ["doc_id", "text", "lang", "source"])
    got = _rows(dd.ngram_jaccard_pairs(df, threshold=0.5))
    want = _rows(_brute_force(df, k=3, threshold=0.5))
    assert len(want) > 0
    assert got == want


def test_certificate_memoizes_across_equal_plans(spark, tmp_path):
    """The injectivity certificate must be paid once per session for a
    given (corpus plan, gram expression): a SECOND call over a freshly
    re-read but semantically equal plan must hit the memo (proved by
    poisoning the cached verdict), and a different gram expression must
    NOT share the entry."""
    from pyspark_entity_resolution_spark.operators import dedup as dd

    path = str(tmp_path / "memo_corpus.parquet")
    rng = random.Random(13)
    spark.createDataFrame(
        _corpus(rng, 30), ["doc_id", "text", "lang", "source"]
    ).write.parquet(path)

    def fresh_grams():
        # independently-built Column: lambda-variable counters differ
        # between constructions, which is exactly what the plan-hash key
        # must normalize away
        return F.array_distinct(char_shingles(F.col("text"), 3))

    before = dict(dd._INJECTIVITY_CACHE)
    try:
        assert dd._hash_injective(spark.read.parquet(path), fresh_grams()) is True
        new_keys = set(dd._INJECTIVITY_CACHE) - set(before)
        assert len(new_keys) == 1
        (key,) = new_keys
        dd._INJECTIVITY_CACHE[key] = False  # poison: only a memo hit returns this
        assert dd._hash_injective(spark.read.parquet(path), fresh_grams()) is False
        # a different gram expression keys separately (recomputes, True)
        other = F.array_distinct(char_shingles(F.col("text"), 4))
        assert dd._hash_injective(spark.read.parquet(path), other) is True
    finally:
        dd._INJECTIVITY_CACHE.clear()
        dd._INJECTIVITY_CACHE.update(before)


def test_certificate_tolerates_null_grams(spark):
    """Null gram elements hash to the xxhash64 seed (a real value), and
    the certificate only refuses when a null SHARES its bucket with a
    distinct real value — a preimage of the seed, which no constructible
    corpus contains. What IS constructible: corpora with null elements
    must still certify (nulls map to the seed consistently on both sides
    of a hash intersection, so they are not a correctness hazard on
    their own), including the null-only-bucket and null-beside-values
    layouts that a naive count_distinct-based check mishandles."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from pyspark_entity_resolution_spark.operators import dedup as dd

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("grams", ArrayType(StringType(), containsNull=True)),
    ])
    df = spark.createDataFrame(
        [(1, ["alpha", None]), (2, ["beta", None]), (3, [None])], schema
    )
    assert dd._hash_injective(df, F.col("grams")) is True


def _subset_pair(spark):
    """A 100-token doc and its 55-token prefix: Jaccard exactly 0.55,
    where the float product ``0.55 * 100`` is ``55.00000000000001``."""
    words = [f"w{i:03d}" for i in range(100)]
    return spark.createDataFrame(
        [(1, " ".join(words), "en", "web"), (2, " ".join(words[:55]), "en", "web")],
        ["doc_id", "text", "lang", "source"],
    )


@pytest.mark.parametrize("strategy", ["blocked", "prefix"])
def test_pair_at_exact_threshold_is_kept(spark, strategy):
    # both the size band (55 >= 0.55 * 100) and the prefix length
    # (100 - ceil(0.55 * 100) + 1 = 46) must use the exact product
    got = _rows(D.ngram_jaccard_pairs(
        _subset_pair(spark), k=1, threshold=0.55, strategy=strategy,
        shingle="token",
    ))
    assert got == [(1, 2, 0.55)]


def test_verify_keeps_pair_at_exact_threshold(spark):
    cands = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    got = D.verify_token_jaccard(cands, _subset_pair(spark), threshold=0.55)
    assert [(r.a_id, r.b_id, r.jaccard) for r in got.collect()] == [(1, 2, 0.55)]
