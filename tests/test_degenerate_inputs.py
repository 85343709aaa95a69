"""Degenerate-input robustness: empty frames, empty/whitespace/NULL text,
single rows — library operators must return sane results, never raise
(Spark 4 ANSI mode turns div-by-zero and bad indexing into errors)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from pyspark_entity_resolution_spark.functions import text as T
from pyspark_entity_resolution_spark.operators import clustering
from pyspark_entity_resolution_spark.operators import dedup as D
from pyspark_entity_resolution_spark.operators.asof import as_of_join
from pyspark_entity_resolution_spark.operators.clustering import connected_components


def test_text_stats_on_degenerate_text(spark):
    schema = StructType([StructField("text", StringType(), True)])
    df = spark.createDataFrame([("",), ("   ",), ("one two",), (None,)], schema)
    rows = df.select(
        T.token_count("text").alias("n"),
        T.avg_token_length("text").alias("avg"),
        T.stopword_ratio("text").alias("sr"),
        T.digit_ratio("text").alias("dr"),
        T.quality_score("text").alias("q"),
        T.detect_language("text").alias("lang"),
    ).collect()
    by_n = sorted((r for r in rows if r["n"] is not None), key=lambda r: r["n"])
    # empty / whitespace-only: zero tokens, NULL ratios (not a crash)
    assert by_n[0]["n"] == 0 and by_n[0]["avg"] is None
    assert by_n[1]["n"] == 0
    # real text behaves
    assert by_n[2]["n"] == 2 and by_n[2]["avg"] == 3.0
    assert by_n[2]["lang"] == "und"  # no marker words


# values of clustering.DRIVER_BOUND: the default labels these graphs on
# the driver; a bound of 0 edges sends any non-empty graph through the
# star rounds
CC_PATHS = (clustering.DRIVER_BOUND, 0)


def test_connected_components_empty_edges(spark, monkeypatch):
    edges = spark.createDataFrame([], "src string, dst string")
    for bound in CC_PATHS:
        monkeypatch.setattr(clustering, "DRIVER_BOUND", bound)
        assert connected_components(edges).count() == 0, bound


def test_connected_components_self_loops_only(spark, monkeypatch):
    edges = spark.createDataFrame([("a", "a"), ("b", "b")], ["src", "dst"])
    # self-loops carry no connectivity, but the nodes still exist ->
    # singleton components (contract: every node appearing in edges)
    for bound in CC_PATHS:
        monkeypatch.setattr(clustering, "DRIVER_BOUND", bound)
        labels = connected_components(edges).collect()
        rows = [(r["node"], r["component"]) for r in labels]
        assert sorted(rows) == [("a", "a"), ("b", "b")], bound


def test_dedup_on_empty_documents(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert D.exact_duplicates(docs).count() == 0
    assert D.minhash_lsh_dedup(docs).count() == 0
    assert D.simhash_signatures(docs).count() == 0


def test_asof_with_empty_right(spark):
    from datetime import datetime

    left = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), "L")], ["k", "ts", "tag"]
    )
    right = spark.createDataFrame([], "k long, ts timestamp, val string")
    rows = as_of_join(left, right, on=["k"]).collect()
    assert len(rows) == 1 and rows[0]["val_right"] is None


def test_match_pipeline_with_no_surviving_records(spark, tmp_path):
    from pyspark_entity_resolution_spark.pipeline import (
        ERConfig,
        match_publications,
        prepare_publications,
    )

    # record outside year range + decoy venue -> prepare yields 0 rows
    path = tmp_path / "empty.txt"
    path.write_text("#*t\n#@a b\n#t1970\n#cICDE\n#indexx1")
    cfg = ERConfig(window=3)
    cleaned = prepare_publications(spark, str(path), cfg)
    assert cleaned.count() == 0
    assert match_publications(cleaned, cleaned, cfg).count() == 0


def test_jaccard_verify_on_empty_token_docs(spark):
    # two docs with zero tokens share an LSH bucket (identical empty
    # signature); Jaccard denominator is 0 -> NULL -> pair dropped, no
    # ANSI DIVIDE_BY_ZERO crash
    docs = spark.createDataFrame(
        [(1, "  "), (2, ""), (3, "real words here")], ["doc_id", "text"]
    )
    D.minhash_lsh_dedup(docs, threshold=0.5).collect()  # must not raise
    D.ngram_jaccard_pairs(
        docs.withColumn("lang", F.lit("x")).withColumn("source", F.lit("y")),
        threshold=0.5,
    ).collect()  # must not raise


def test_asof_explicit_right_cols_including_ts(spark):
    from datetime import datetime

    left = spark.createDataFrame([(1, datetime(2024, 1, 2), "L")], ["k", "ts", "tag"])
    right = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), "R")], ["k", "ts", "val"]
    )
    # explicitly naming ts in right_cols must not duplicate columns
    row = as_of_join(left, right, on=["k"], right_cols=["ts", "val"]).collect()[0]
    assert row["val_right"] == "R"
    assert row["ts_right"] == datetime(2024, 1, 1)


def test_corpus_prep_on_empty_and_null_docs(spark):
    from pyspark_entity_resolution_spark.operators.corpus import (
        corpus_funnel,
        prepare_training_corpus,
    )

    schema = "doc_id long, text string"
    empty = spark.createDataFrame([], schema)
    stages = prepare_training_corpus(empty)
    funnel = {r["stage"]: r["n"] for r in corpus_funnel(stages, empty).collect()}
    assert funnel == {"input": 0, "gated": 0, "exact_deduped": 0,
                      "near_deduped": 0, "chunks": 0}

    nulls = spark.createDataFrame([(1, None), (2, ""), (3, "   ")], schema)
    stages = prepare_training_corpus(nulls)
    # NULL/empty text fails the quality gate cleanly, no crash
    assert stages["gated"].count() == 0
    assert stages["chunks"].count() == 0


def test_chunking_short_doc_single_chunk(spark):
    from pyspark_entity_resolution_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame([(1, "short text")], "doc_id long, text string")
    chunks = chunk_documents(df, chunk_chars=512, overlap=64).collect()
    assert len(chunks) == 1
    assert chunks[0]["chunk_text"] == "short text"


def test_header_probes_on_empty_media(spark):
    from pyspark_entity_resolution_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        probe_audio_metadata,
        probe_image_metadata,
        probe_video_metadata,
    )

    empty = spark.createDataFrame([], MEDIA_SCHEMA)
    assert probe_image_metadata(empty).count() == 0
    assert probe_audio_metadata(empty).count() == 0
    assert probe_video_metadata(empty).count() == 0

    null_payload = spark.createDataFrame(
        [(1, "image", None, "image/png", "u"), (2, "audio", None, "audio/wav", "u"),
         (3, "video", None, "video/mp4", "u")],
        MEDIA_SCHEMA,
    )
    img = probe_image_metadata(null_payload).collect()
    aud = probe_audio_metadata(null_payload).collect()
    vid = probe_video_metadata(null_payload).collect()
    assert len(img) == len(aud) == len(vid) == 1
    assert img[0]["format"] is None and img[0]["n_bytes"] == 0
    assert aud[0]["format"] is None and vid[0]["format"] is None


def test_winnow_on_empty_frame_and_degenerate_text(spark):
    from pyspark_entity_resolution_spark.operators.winnowing import (
        fingerprint_overlap_pairs,
        winnow_fingerprints,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert winnow_fingerprints(empty).isEmpty()
    assert fingerprint_overlap_pairs(winnow_fingerprints(empty)).isEmpty()
    # whitespace-only and NULL docs emit nothing; a 1-char doc emits
    # its single truncated-gram fingerprint
    d = spark.createDataFrame(
        [(1, None), (2, "  \t "), (3, "x")], "doc_id long, text string"
    )
    rows = winnow_fingerprints(d).collect()
    assert {r["doc_id"] for r in rows} == {3}


def test_pq_empty_corpus_raises_cleanly(spark):
    import pytest as _pytest

    from pyspark_entity_resolution_spark.operators.pq import pq_assign, pq_train

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="empty corpus"):
        pq_train(empty, dim=8, m=2, k=4, quantize=0)
    with _pytest.raises(ValueError, match="empty codebook"):
        pq_assign(empty, [[], []], dim=8, quantize=0)


def test_pq_corpus_smaller_than_k(spark):
    from pyspark_entity_resolution_spark.operators.pq import pq_assign, pq_train

    one = spark.createDataFrame(
        [(1, [float(i) for i in range(8)])], "vec_id long, embedding array<double>"
    )
    books = pq_train(one, dim=8, m=2, k=4, quantize=0)
    assert [len(b) for b in books] == [1, 1]  # fewer rows than k: that many codes
    rows = pq_assign(one, books, dim=8, quantize=0).collect()
    assert rows[0]["code_1"] == 1 and rows[0]["code_2"] == 1
