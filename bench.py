"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is forced end-to-end with the noop sink (full execution, no
collect/driver materialization cost in the measurement).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_entity_resolution_spark.plans.registry import all_queries
from pyspark_entity_resolution_spark.session import get_spark

# Pack provenance: which constituent operators each multi-operator
# headline entry executes, and (where a pack absorbed a previously
# separate bench entry) which old entries its time now contains. This
# rides in the bench JSON so a round-over-round delta caused by a pack
# absorbing more arms is visible in the artifact itself, not just in
# COVERAGE.md prose. Single-operator queries are omitted.
PACK_PROVENANCE: dict[str, dict[str, list[str]]] = {
    "ann_methods_topk": {
        "constituents": [
            "bruteforce", "lsh", "multiprobe_lsh", "multitable_lsh_L4",
            "ivf_nprobe1", "ivf_nprobe3",
        ],
        "renamed_from": ["ann_bruteforce_topk", "ann_multitable_lsh"],
    },
    "text_vector_pack": {
        "constituents": ["tfidf_top_terms", "doc_cosine_tf_pairs"],
        "renamed_from": ["tfidf_top_terms", "doc_cosine_tf_pairs"],
    },
    "events_windowed_agg": {
        "constituents": ["tumbling_1h", "sliding_1h_30m"],
        "renamed_from": [],
    },
    "events_sessions_pack": {
        "constituents": ["lag_gap_sessionize", "native_session_window"],
        "renamed_from": [],
    },
    "orders_topk_pack": {
        # r6 absorbed the standalone array_agg_order_years entry as
        # scope 'order_years' (slot freed for doc_fingerprint_winnow /
        # ann_pq_adc_topk inside the driver's 50-query window)
        "constituents": ["global_topn", "per_group_topk",
                         "order_years_collect_set (r6)"],
        "renamed_from": ["array_agg_order_years (standalone, r1-r5)"],
    },
    "join_kinds_pack": {
        # r6 absorbed semi_anti_join_customers as two more join_kind
        # arms (same slot-freeing consolidation)
        "constituents": ["cross_postfilter", "left_broadcast_dim",
                         "left_semi_exists (r6)", "left_anti_not_exists (r6)"],
        "renamed_from": ["semi_anti_join_customers (standalone, r1-r5)"],
    },
    "deterministic_sample": {
        # r8 widened in place: rule 'mix' adds mix_sources (weight-
        # targeted no-oversample source mixing) — the oracle recomputes
        # the K-row rate arithmetic from scratch, bit-identical IEEE
        # threshold math on both engines
        "constituents": ["flat", "stratified", "mix (r8)"],
        "renamed_from": [],
    },
    "dedup_ngram_jaccard": {
        # r8 widened in place: section 'char_blocked' is the r1-r7 row
        # set (char-3-grams, blocked strategy); section 'token_prefix'
        # adds the AllPairs/PPJoin prefix-filtered strategy over
        # token-3-shingles — each candidate strategy driver-verified in
        # its right vocabulary regime
        "constituents": ["char_blocked", "token_prefix (r8)"],
        "renamed_from": [],
    },
    "text_analysis_pack": {
        # r6 widened in place: n_bpe_tokens column (GPT-2-family
        # pre-tokenizer count) joins the per-doc stats row set
        "constituents": ["token_char_stats", "bpe_pretoken_count (r6)",
                         "lang_id", "fingerprints", "remove_stopwords"],
        "renamed_from": [],
    },
    "doc_fingerprint_winnow": {
        "constituents": ["winnow_fingerprints (r6)",
                         "fingerprint_overlap_pairs (r6)"],
        "renamed_from": [],
    },
    "dedup_substring_spans": {
        # r4 extended this entry: section 'span' (detection, the r3
        # output) + section 'cut' (keep-first span cutting, Lee et al.
        # §4). r5 added section 'cut_all' (no-survivor cutting,
        # keep_first=False); all three sections now share ONE
        # materialized duplicated-window set, so the window pipeline
        # runs once, not per section.
        "constituents": [
            "duplicated_spans",
            "cut_spans_keep_first",
            "cut_spans_no_survivor (r5)",
        ],
        "renamed_from": ["dedup_substring_spans (spans only, r3)"],
    },
    "embedding_near_dup_lsh": {
        # r5 widened this entry: section 'pairs' (the r3-r4 output,
        # unblocked multi-table LSH self-join) + section 'ingest_match'
        # (lsh_corpus_index of vec_id%10=0 probed by vec_id%10=1 via
        # incremental_embedding_matches — the embedding twin of the
        # minhash ingest path).
        "constituents": [
            "unblocked_embedding_lsh_pairs",
            "incremental_embedding_matches (r5)",
        ],
        "renamed_from": ["embedding_near_dup_lsh (pairs only, r3-r4)"],
    },
    "multimodal_pack": {
        # r9: the media family's first bench row (bench-only, like the
        # er_pipeline rows — binary payloads have no DuckDB oracle; the
        # pytest pixel/sample pins stay the correctness layer). One
        # timed pass = PNG pixel decode (png-stdlib, filter-2 rows) +
        # WAV waveform features + fingerprints + banded near-dup join;
        # the planted-pair count is asserted untimed after the runs.
        "constituents": [
            "extract_image_features png-stdlib (r9)",
            "extract_image_features jpeg-stdlib (r9)",
            "sample_video_frames gif-stdlib (r9)",
            "extract_audio_features wav-stdlib (r9)",
            "audio_fingerprints + audio_near_dup_pairs (r9)",
            # r11 widened this entry (corpus v3 -> v4, +400 MJPEG-AVI
            # clips): the sixth arm RIFF-walks each AVI and
            # JPEG-decodes only the SAMPLED frames, with an untimed
            # sampled-frame-count tripwire at arm build. Headline
            # multimodal_pack totals are therefore not comparable to
            # r<=10 without subtracting the new arm's section time.
            "sample_video_frames mjpeg-stdlib (r11)",
        ],
        "renamed_from": ["multimodal_pack (5 kernels, corpus v3, r9-r10)"],
    },
    "dedup_minhash_lsh": {
        # r3 switched this entry from label-blocked to UNBLOCKED LSH
        # (commit 2dcc36e); r4 added the ingest-time sections (band-key
        # index of doc_id%10=0 probed by doc_id%10=1) — recorded here so
        # round-over-round deltas are attributable from the artifact.
        "constituents": [
            "unblocked_minhash_lsh",
            "incremental_minhash_matches (r4)",
            "incremental_minhash_dedup history anti-join (r4)",
        ],
        "renamed_from": ["blocked_minhash_lsh (r2 and earlier)",
                         "dedup_minhash_lsh (pairs only, r3)"],
    },
}

HEADLINE = [
    "tpch_q1_pricing_summary",
    "join_agg_revenue_by_segment",
    "tpch_q6_forecast_revenue",
    "levenshtein_blocked_pairs",
    "er_flagship_doc_matching",
    "connected_components_labels",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_substring_spans",
    "doc_fingerprint_winnow",
    "ann_methods_topk",
    "embedding_near_dup_lsh",
    "text_vector_pack",
    "contamination_ngram_overlap",
    "events_asof_join",
    "events_windowed_agg",
    "events_sessions_pack",
    "orders_topk_pack",
]


def _gen_er_corpus(
    path: str, n_per_side: int = 3000, seed: int = 11, n_years: int = 10
) -> tuple[str, str]:
    """Deterministic AMiner-format corpus at the reference workload's
    post-filter scale (~2.5-3k records/side, SIGMOD/VLDB 1995-2004,
    ~8% planted cross-side duplicates — report.pdf p.7: 1,604 dups in
    ~2.3-2.6k records/side). Cached on disk across runs.

    ``n_years`` widens the year span (records/year held at
    n_per_side/n_years) for scale probes: year-window blocking makes
    candidate pairs quadratic in PER-YEAR density, so an n-fold corpus
    with the default fixed 10-year span measures n² OUTPUT growth, not
    engine scaling — growing the span with n keeps block sizes constant
    and the blocked workload exactly linear (the ER analog of the
    dedup probes' per-copy token salting). Callers widening n_years
    must run the pipeline with a matching ``ERConfig.year_upper``."""
    import random

    from pyspark_entity_resolution_spark.sources.aminer import format_aminer_record

    pa, pb = f"{path}/dump_a.txt", f"{path}/dump_b.txt"
    if os.path.exists(pa) and os.path.exists(pb):
        return pa, pb
    # generation params surface in the bench JSON via er_corpus_meta()
    os.makedirs(path, exist_ok=True)
    rng = random.Random(seed)
    first = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi",
             "ivan", "judy", "karl", "lena", "mike", "nina", "oscar", "pia"]
    last = ["smith", "jones", "chen", "garcia", "muller", "dubois", "kim",
            "patel", "rossi", "novak", "silva", "weber", "tanaka", "olsen"]
    words = ["efficient", "query", "processing", "distributed", "systems",
             "index", "join", "optimization", "streaming", "graphs",
             "transactions", "storage", "adaptive", "parallel", "learning",
             "approximate", "columnar", "vectorized", "consistency", "replication"]
    venues_a = ["SIGMOD Conference", "VLDB"]
    venues_b = ["Proceedings of SIGMOD", "VLDB Journal"]

    recs_a, recs_b = [], []
    idx = 0
    for i in range(n_per_side):
        idx += 1
        title = " ".join(rng.sample(words, 6))
        authors = ", ".join(
            f"{rng.choice(first)} {rng.choice(last)}" for _ in range(1 + i % 3)
        )
        year = 1995 + (i % n_years)
        v = i % 2
        recs_a.append(
            format_aminer_record(title, authors, year, venues_a[v], f"a{idx:06d}")
        )
        if i % 12 == 0:  # ~8% planted duplicates
            idx += 1
            recs_b.append(
                format_aminer_record(title, authors, year, venues_b[v], f"b{idx:06d}")
            )
        else:
            idx += 1
            title_b = " ".join(rng.sample(words, 6))
            authors_b = ", ".join(
                f"{rng.choice(first)} {rng.choice(last)}" for _ in range(1 + (i + 1) % 3)
            )
            recs_b.append(
                format_aminer_record(
                    title_b, authors_b, 1995 + ((i + 3) % n_years), venues_b[v],
                    f"b{idx:06d}",
                )
            )
    rng.shuffle(recs_a)
    rng.shuffle(recs_b)
    with open(pa, "w") as f:
        f.write("\n\n".join(recs_a))
    with open(pb, "w") as f:
        f.write("\n\n".join(recs_b))
    return pa, pb


def er_corpus_meta(n_per_side: int = 3000, seed: int = 11) -> dict:
    """Deterministic description of the ER bench corpus (the same params
    `_gen_er_corpus` uses), emitted into the bench JSON so a regenerated
    or re-parameterized corpus shows up in the artifact."""
    return {
        "generator": "_gen_er_corpus",
        "n_per_side": n_per_side,
        "seed": seed,
        "records_a": n_per_side,
        "records_b": n_per_side,
        "planted_cross_side_dups": sum(1 for i in range(n_per_side) if i % 12 == 0),
    }


def _bench_er_pipeline(spark) -> float:
    """Full ER pipeline (parse -> clean -> block N=3 -> match) on the
    reference-scale corpus; comparable to BASELINE's python pipeline rows
    (reference: matching stage alone 22 s at N=3, full python pipeline
    54 s, report.pdf p.8 Table 2)."""
    from pyspark_entity_resolution_spark.pipeline import (
        ERConfig,
        match_publications,
        prepare_publications,
    )

    pa, pb = _gen_er_corpus("/tmp/er_bench_corpus_v1")
    cfg = ERConfig(window=3)
    best = None
    # min of 3, same as the headline queries: run 1 pays Python-worker
    # startup for the accent-folding pandas UDF plus plan codegen
    for _ in range(3):
        start = time.perf_counter()
        left = prepare_publications(spark, pa, cfg)
        right = prepare_publications(spark, pb, cfg)
        match_publications(left, right, cfg).write.format("noop").mode(
            "overwrite"
        ).save()
        elapsed = time.perf_counter() - start
        best = elapsed if best is None else min(best, elapsed)
    return round(best, 3)


def _bench_er_pipeline_e2e(spark) -> float:
    """TRUE end-to-end ER pipeline: parse -> clean -> block N=3 -> match
    -> connected-components cluster -> representative resolve -> CSV
    entity table with part rename — the full stage set behind BASELINE's
    python-pipeline column (reference 54 s at N=3 incl. cluster + pivot
    + write, report.pdf p.8 Table 2)."""
    import shutil
    import tempfile

    from pyspark_entity_resolution_spark.pipeline import ERConfig, run_er_pipeline
    from pyspark_entity_resolution_spark.sources.io import write_csv

    pa, pb = _gen_er_corpus("/tmp/er_bench_corpus_v1")
    dest = tempfile.mkdtemp(prefix="er_bench_out_")
    try:
        best = None
        # min of 3, same as the headline queries (stage outputs are
        # checkpointed inside run_er_pipeline, so each run recomputes the
        # full pipeline from the raw dumps)
        for i in range(3):
            start = time.perf_counter()
            out = run_er_pipeline(spark, pa, pb, ERConfig(window=3))
            write_csv(out["entities"], f"{dest}/entities_{i}", sep="\t")
            elapsed = time.perf_counter() - start
            best = elapsed if best is None else min(best, elapsed)
        return round(best, 3)
    finally:
        shutil.rmtree(dest, ignore_errors=True)


def multimodal_sections(spark, sf_dir: str | None = None) -> dict:
    """Per-kernel arms of the media-family pack over a deterministic
    synthetic corpus (tools/media_corpus.py: planted near-dup WAV
    clips, noise PNGs with filter-2 scanlines, coefficient-seeded
    baseline JPEGs, MJPEG-AVI clips; cached on disk): real stdlib PNG
    + JPEG pixel decode, real GIF frame sampling, real MJPEG-in-AVI
    sampled-frame decode (r11), real WAV waveform features, and the
    banded audio near-dup join. ``sf_dir`` is accepted for
    provider-signature uniformity and ignored — the corpus is
    scale-independent. The planted-pair tripwire (the media analog of
    query_result_rows) runs UNTIMED at arm-build time over the exact
    on-disk parquet every timed arm reads, so a silent workload change
    can never masquerade as a perf delta (r10: moved here from
    post-run so headline aggregate and full-mode per-section timing
    share one guard)."""
    from pyspark.sql import functions as F

    from pyspark_entity_resolution_spark.operators.multimodal import (
        audio_fingerprints,
        audio_near_dup_pairs,
        extract_audio_features,
        extract_image_features,
        sample_video_frames,
    )
    from tools.media_corpus import (
        WINDOW_FRAMES,
        build_media_corpus,
        expected_audio_pairs,
        expected_mjpeg_frames,
    )

    n_audio = n_images = n_jpegs = n_gifs = n_avis = 400
    path = build_media_corpus(
        spark, "/tmp/media_bench_corpus_v4.parquet",
        n_audio=n_audio, n_images=n_images, n_jpegs=n_jpegs, n_gifs=n_gifs,
        n_avis=n_avis,
    )
    media = spark.read.parquet(path)
    pngs = media.filter(F.col("mime") == "image/png")
    jpgs = media.filter(F.col("mime") == "image/jpeg")
    gifs = media.filter(F.col("mime") == "image/gif")
    avis = media.filter(F.col("mime") == "video/x-msvideo")
    fps = audio_fingerprints(media, window_frames=WINDOW_FRAMES)
    pairs = audio_near_dup_pairs(fps, min_match_fraction=0.9)
    n_pairs = pairs.count()
    want = expected_audio_pairs(n_audio)
    if n_pairs != want:
        raise AssertionError(
            f"multimodal bench corpus drifted: {n_pairs} near-dup pairs, "
            f"expected the planted {want}"
        )
    mjpeg = sample_video_frames(avis, every_n_seconds=1,
                                codec="mjpeg-stdlib")
    n_frames = mjpeg.count()
    want_frames = expected_mjpeg_frames(n_avis)
    if n_frames != want_frames:
        raise AssertionError(
            f"multimodal bench corpus drifted: {n_frames} sampled MJPEG "
            f"frames, expected the planted {want_frames}"
        )
    return {
        "png_decode": extract_image_features(pngs, codec="png-stdlib"),
        "jpeg_decode": extract_image_features(jpgs, codec="jpeg-stdlib"),
        "gif_frame_sample": sample_video_frames(
            gifs, every_n_seconds=1, codec="gif-stdlib"
        ),
        "audio_features": extract_audio_features(media),
        "audio_near_dup_join": pairs,
        "mjpeg_frame_sample": mjpeg,
    }


def _bench_multimodal(spark) -> "tuple[float, dict]":
    """Headline aggregate over the six multimodal_sections arms (r11:
    +mjpeg_frame_sample; the tripwires fire inside the provider).

    r12 (r11 verdict task 5): returns ``(total_best, per_arm)`` so the
    HEADLINE artifact carries per-kernel section times too — the r11
    PERF comparison read the pack 0.63x because a sixth kernel joined
    the total and only full mode could have shown the split. The timed
    region per pass is unchanged (the same arm loop; per-arm
    perf_counter reads between arms are the only addition); per-arm
    values are min over the same 3 passes the total takes its min from."""
    arms = multimodal_sections(spark)
    best = None
    arm_times: dict[str, list[float]] = {name: [] for name in arms}
    for _ in range(3):
        start = time.perf_counter()
        for name, df in arms.items():
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            arm_times[name].append(time.perf_counter() - t0)
        elapsed = time.perf_counter() - start
        best = elapsed if best is None else min(best, elapsed)
    per_arm = {
        name: {"min": round(min(ts), 3),
               "spread": round(max(ts) - min(ts), 3)}
        for name, ts in arm_times.items()
    }
    return round(best, 3), per_arm


def media_corpus_meta(n_audio: int = 400, n_images: int = 400,
                      n_jpegs: int = 400, n_gifs: int = 400,
                      n_avis: int = 400) -> dict:
    from tools.media_corpus import (
        N_WINDOWS,
        WINDOW_FRAMES,
        expected_audio_pairs,
        expected_mjpeg_frames,
    )

    return {
        "generator": "tools/media_corpus.py",
        "n_audio": n_audio,
        "n_images_png": n_images,
        "n_images_jpeg": n_jpegs,
        "n_gifs": n_gifs,
        "n_avis": n_avis,
        "windows_per_clip": N_WINDOWS,
        "window_frames": WINDOW_FRAMES,
        "planted_near_dup_pairs": expected_audio_pairs(n_audio),
        "planted_mjpeg_sampled_frames": expected_mjpeg_frames(n_avis),
    }


def main(full: bool = False) -> None:
    """Default: the HEADLINE set, min-of-3, plus the two ER pipeline
    rows — the driver's ``BENCH_r{N}.json`` artifact. ``--full``: every
    registry query (all 50 of the correctness gate), min-of-2 — the
    regression net for the ~30 queries the headline never times, where
    a perf regression was previously invisible round-over-round. Same
    tail-safe two-line emission either way."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    match = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(match.group(1).rstrip(".")) if match else None

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    # JVM/codegen warmup outside the measurement; the one-row pandas-UDF
    # evaluation brings up the Arrow Python worker pool so no measured
    # query pays worker-fork cost
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from pyspark.sql import functions as F

    from pyspark_entity_resolution_spark.functions.cleaning import remove_accents

    spark.range(1).select(remove_accents(F.lit("café"))).count()

    names = sorted(specs) if full else HEADLINE
    runs = 2 if full else 3
    per_query: dict[str, float] = {}
    query_spread: dict[str, float] = {}
    query_rows: dict[str, int] = {}
    build_exec_sec: dict[str, dict] = {}
    total = 0.0
    for name in names:
        fn = specs[name].fn
        print(f"[bench] {name} ...", file=sys.stderr, flush=True)
        # min of 3 runs for EVERY headline query: the first pays
        # codegen/JIT warmup for this plan, and machine-state noise
        # between runs reaches ~50% on sub-3 s queries —
        # round-over-round deltas on unchanged code were masking real
        # regressions at min-of-2. (--full runs min-of-2: 50 queries x3
        # would double a regression net whose per-query precision bar
        # is lower.) The per-query SPREAD (max - min across the runs)
        # rides in the workload metadata so the next round can separate
        # regression from machine noise without a rerun.
        times = []
        for attempt in range(runs):
            start = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - start)
        best = round(min(times), 3)
        if full:
            # r12 (r11 verdict task 8): UNTIMED build-vs-exec split —
            # one extra warm pass per query, timing plan construction
            # (fn(), which includes any plan-build actions: collects,
            # eager checkpoints, Lloyd iterations) apart from execution
            # (the noop write of the built plan). Rides in metadata so
            # the next round can target exec-bound rows without
            # re-profiling; the gate numbers above are untouched.
            t0 = time.perf_counter()
            built = fn(spark, sf_dir)
            t1 = time.perf_counter()
            built.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            build_exec_sec[name] = {
                "build": round(t1 - t0, 3), "exec": round(t2 - t1, 3),
            }
        query_spread[name] = round(max(times) - min(times), 3)
        # untimed result-cardinality probe: a changed row count on an
        # unchanged query name = workload (testdata/pack) change, which
        # is exactly what kept masquerading as a perf regression in r2/r3
        query_rows[name] = fn(spark, sf_dir).count()
        print(f"[bench] {name}: {best}s (±{query_spread[name]})  "
              f"({query_rows[name]} rows)",
              file=sys.stderr, flush=True)
        per_query[name] = best
        total += best

    pack_section_sec: dict[str, dict] | None = None
    if full:
        # per-section timing for the multi-arm packs (r7 task: the ANN
        # pack's 4.5 s spread; r9 extends to every widened pack per r8
        # finding #2 — dedup_ngram_jaccard mixes ~1 s of data work with
        # ~4 s of fixed prefix-pipeline overhead at sf0.1, and
        # deterministic_sample's 'mix' rule pays a K-row collect the
        # other rules don't): localize which constituent wobbles or
        # carries the cost. The pack rows above stay the gate entries;
        # these ride in metadata only.
        from pyspark_entity_resolution_spark.plans.queries_relational import (
            deterministic_sample_sections,
        )
        from pyspark_entity_resolution_spark.plans.queries_text import (
            dedup_ngram_sections,
        )
        from pyspark_entity_resolution_spark.plans.queries_vector import (
            ann_methods_arms,
        )

        pack_section_sec = {}
        for pack, provider in (
            ("ann_methods_topk", ann_methods_arms),
            ("dedup_ngram_jaccard", dedup_ngram_sections),
            ("deterministic_sample", deterministic_sample_sections),
            # r10 (r9 verdict task 4): five kernels shared one headline
            # number; a JPEG Huffman-stage regression could hide behind
            # a GIF win. Full mode now times each arm separately.
            ("multimodal_pack", multimodal_sections),
        ):
            pack_section_sec[pack] = {}
            for arm, df in provider(spark, sf_dir).items():
                times = []
                for _ in range(runs):
                    start = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    times.append(time.perf_counter() - start)
                pack_section_sec[pack][arm] = {
                    "min": round(min(times), 3),
                    "spread": round(max(times) - min(times), 3),
                }
                print(f"[bench] {pack} section {arm}: "
                      f"{pack_section_sec[pack][arm]['min']}s "
                      f"(±{pack_section_sec[pack][arm]['spread']})",
                      file=sys.stderr, flush=True)

    if not full:
        er_elapsed = _bench_er_pipeline(spark)
        print(f"[bench] er_pipeline_blocked_n3: {er_elapsed}s",
              file=sys.stderr, flush=True)
        per_query["er_pipeline_blocked_n3"] = er_elapsed
        total += er_elapsed

        e2e_elapsed = _bench_er_pipeline_e2e(spark)
        print(
            f"[bench] er_pipeline_e2e_n3: {e2e_elapsed}s",
            file=sys.stderr, flush=True,
        )
        per_query["er_pipeline_e2e_n3"] = e2e_elapsed
        total += e2e_elapsed

        mm_elapsed, mm_sections = _bench_multimodal(spark)
        print(f"[bench] multimodal_pack: {mm_elapsed}s",
              file=sys.stderr, flush=True)
        per_query["multimodal_pack"] = mm_elapsed
        total += mm_elapsed
        # r12: per-kernel sections in HEADLINE mode too (r11 verdict
        # task 5) so the next PERF comparison can subtract a widened
        # arm instead of reading workload growth as a regression
        pack_section_sec = {"multimodal_pack": mm_sections}

    # --- workload self-description (untimed) -------------------------
    # Table cardinalities come from parquet footer metadata (cheap); the
    # driver regenerates /root/testdata between rounds, so these pin
    # down the exact corpus each bench number was measured against.
    tables = {}
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        try:
            tables[t] = spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        except Exception:  # table absent in this testdata vintage
            tables[t] = None

    workload = {
        "sf_dir": sf_dir,
        "mode": "full" if full else "headline",
        "runs_per_query": runs,
        "query_spread_sec": query_spread,
        "table_rows": tables,
        "query_result_rows": query_rows,
        "er_corpus": er_corpus_meta(),
        # like er_corpus, this is fixture self-description (generator
        # params), not a claim the pack ran — the ER and multimodal
        # rows themselves are headline-mode-only
        "media_corpus": media_corpus_meta(),
        "pack_provenance": PACK_PROVENANCE,
    }
    if pack_section_sec is not None:
        workload["pack_section_sec"] = pack_section_sec
        if "ann_methods_topk" in pack_section_sec:
            # r8 artifact continuity: the ANN arms rode under this key
            workload["ann_methods_arm_sec"] = pack_section_sec["ann_methods_topk"]
    if build_exec_sec:
        workload["build_exec_sec"] = build_exec_sec
    metric = "full_total_runtime" if full else "headline_total_runtime"
    emit_bench_artifact(total, per_query, sf, workload, metric=metric)
    spark.stop()


def emit_bench_artifact(
    total: float, per_query: dict, sf: float, workload: dict,
    metric: str = "headline_total_runtime",
) -> None:
    """Two stdout lines, metadata FIRST and the compact headline LAST:
    the driver keeps only a bounded tail of stdout and parses the final
    JSON line. In round 4 a single combined line put the large workload
    blob at the end, the tail caught only the blob, and the official
    per-query timings were lost ("parsed": null). The headline line is
    small and stable-size; the self-describing workload metadata stays
    available on its own preceding line. Contract pinned by
    tests/test_cli.py::test_bench_artifact_tail_parses."""
    print(
        json.dumps({"metric": "workload_metadata", "sf": sf, "workload": workload}),
        flush=True,
    )
    print(
        json.dumps(
            {
                "metric": metric,
                "value": round(total, 3),
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main(full="--full" in sys.argv[1:])
