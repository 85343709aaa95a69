"""Exact substring dedup tests (operators/substring_dedup.py)."""

from pyspark_entity_resolution_spark.operators.substring_dedup import (
    cut_spans,
    duplicated_spans,
    duplication_profile,
    window_fingerprints,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _tok(i):
    return f"t{i:03d}"


def _text(*idx):
    return " ".join(_tok(i) for i in idx)


def test_shared_block_found_in_both_docs(spark):
    shared = list(range(100, 112))  # 12 shared tokens, w=10 -> 3 windows each
    d0 = _text(*range(0, 5), *shared, *range(200, 205))
    d1 = _text(*range(300, 308), *shared, *range(400, 403))
    df = _docs(spark, [(0, d0), (1, d1)])
    spans = {
        (r.id, r.span_start, r.span_end, r.span_tokens)
        for r in duplicated_spans(df, w=10).collect()
    }
    # doc 0: shared block at token positions 6..17; doc 1: 9..20
    assert spans == {(0, 6, 17, 12), (1, 9, 20, 12)}


def test_unique_corpus_has_no_spans(spark):
    df = _docs(
        spark,
        [(0, _text(*range(0, 30))), (1, _text(*range(100, 130)))],
    )
    assert duplicated_spans(df, w=10).count() == 0


def test_within_doc_repeat_counts(spark):
    block = list(range(50, 60))  # exactly w tokens
    df = _docs(spark, [(0, _text(*block, *range(200, 210), *block))])
    spans = {
        (r.span_start, r.span_end)
        for r in duplicated_spans(df, w=10).collect()
    }
    assert spans == {(1, 10), (21, 30)}


def test_disjoint_spans_stay_separate(spark):
    b1, b2 = list(range(10, 20)), list(range(30, 40))
    d0 = _text(*b1, *range(500, 520), *b2)
    d1 = _text(*b2, *range(600, 620), *b1)
    df = _docs(spark, [(0, d0), (1, d1)])
    assert duplicated_spans(df, w=10).count() == 4  # 2 spans per doc


def test_short_docs_emit_no_windows(spark):
    df = _docs(spark, [(0, _text(*range(0, 5))), (1, _text(*range(0, 5)))])
    # 5 tokens < w=10: identical docs, but nothing of length >= w repeats
    assert window_fingerprints(df, w=10).count() == 0
    assert duplicated_spans(df, w=10).count() == 0


def test_cut_spans_keeps_first_occurrence(spark):
    shared = list(range(100, 112))  # 12 shared tokens
    d0 = _text(*range(0, 5), *shared, *range(200, 205))
    d1 = _text(*range(300, 308), *shared, *range(400, 403))
    df = _docs(spark, [(0, d0), (1, d1)])
    out = {r.id: r for r in cut_spans(df, w=10).collect()}
    # doc 0 is the first occurrence (min doc_id): the shared block SURVIVES
    assert out[0].text == d0
    assert out[0].n_tokens_cut == 0
    # doc 1 loses the shared block but keeps its unique flanks
    assert out[1].text == _text(*range(300, 308), *range(400, 403))
    assert out[1].n_tokens_cut == 12
    # exactly one copy of the duplicated region remains corpus-wide
    assert sum(1 for r in out.values() if _text(*shared) in r.text) == 1


def test_cut_spans_no_survivor_mode_and_full_report(spark):
    shared = list(range(100, 110))
    df = _docs(
        spark,
        [(0, _text(*shared)), (1, _text(*shared)), (2, _text(*range(300, 305)))],
    )
    out = {r.id: r for r in cut_spans(df, w=10, keep_first=False).collect()}
    # no-survivor mode cuts every occurrence, first included
    assert out[0].text == "" and out[1].text == ""
    # clean documents appear in the output untouched (total report)
    assert out[2].text == _text(*range(300, 305))
    assert out[2].n_tokens_cut == 0


def test_cut_spans_within_doc_repeat_keeps_earliest(spark):
    block = list(range(50, 60))
    df = _docs(spark, [(7, _text(*block, *range(200, 210), *block))])
    out = cut_spans(df, w=10).collect()[0]
    # first in-document occurrence survives, the later repeat is cut
    assert out.text == _text(*block, *range(200, 210))
    assert out.n_tokens_cut == 10


def test_cut_spans_randomized_invariants(spark):
    """Seeded random corpora over a tiny vocabulary (forces heavy
    repetition): token conservation (kept + cut == original per doc),
    report totality (one row per input doc), and determinism under
    repartition."""
    import random

    for seed in range(4):
        rng = random.Random(seed)
        vocab = [f"w{k}" for k in range(6)]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
            for i in range(12)
        ]
        df = _docs(spark, rows)
        out = {r.id: r for r in cut_spans(df, w=5).collect()}
        assert set(out) == set(range(12)), f"seed {seed}: report not total"
        for i, text in rows:
            orig_n = len(text.split())
            r = out[i]
            assert r.n_tokens + r.n_tokens_cut == orig_n, (
                f"seed {seed} doc {i}: {r.n_tokens}+{r.n_tokens_cut} != {orig_n}"
            )
            assert len(r.text.split()) == r.n_tokens, f"seed {seed} doc {i}"
        again = {
            r.id: (r.text, r.n_tokens_cut)
            for r in cut_spans(df.repartition(7), w=5).collect()
        }
        assert again == {i: (r.text, r.n_tokens_cut) for i, r in out.items()}, (
            f"seed {seed}: not deterministic under repartition"
        )


def test_span_report_halves_match_standalone_operators(spark):
    shared = list(range(100, 112))
    df = _docs(
        spark,
        [(0, _text(*range(0, 5), *shared)), (1, _text(*shared, *range(200, 205)))],
    )
    from pyspark_entity_resolution_spark.operators.substring_dedup import span_report

    spans_df, cut_df = span_report(df, w=10)
    assert {tuple(r) for r in spans_df.collect()} == {
        tuple(r) for r in duplicated_spans(df, w=10).collect()
    }
    assert {tuple(r) for r in cut_df.collect()} == {
        tuple(r) for r in cut_spans(df, w=10).collect()
    }


def test_profile_fraction_and_clean_doc_retention(spark):
    shared = list(range(100, 110))
    df = _docs(
        spark,
        [
            (0, _text(*shared, *range(200, 210))),  # 20 tokens, 10 duplicated
            (1, _text(*shared)),                    # fully duplicated
            (2, _text(*range(300, 320))),           # clean
        ],
    )
    prof = {r.id: r for r in duplication_profile(df, w=10).collect()}
    assert prof[0].dup_token_frac == 0.5
    assert prof[1].dup_token_frac == 1.0
    assert (prof[2].dup_tokens, prof[2].n_spans, prof[2].dup_token_frac) == (0, 0, 0.0)


def test_xx128_halves_are_independent(spark):
    """Spark chains multi-argument hashes (each argument's hash seeds
    the next), so ``xxhash64(s, lit(1))`` would make the second half
    ``XXH64.hashInt(1, seed=h1)`` — a pure function of the first and a
    64-bit collision class. The literal-first form must not be."""
    shared = list(range(100, 115))
    df = _docs(spark, [(0, _text(*range(0, 5), *shared)), (1, _text(*shared))])
    rows = window_fingerprints(df, w=10).select("wh.h1", "wh.h2").collect()
    assert rows
    xxh64 = spark._jvm.org.apache.spark.sql.catalyst.expressions.XXH64
    for h1, h2 in rows:
        # instance form of the static XXH64.hashInt(1, h1): py4j's static
        # lookup on this class fails once other reflection calls ran
        assert h2 != xxh64(h1).hashInt(1)
