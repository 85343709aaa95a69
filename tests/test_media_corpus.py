"""tools/media_corpus.py — the deterministic fixture generator behind
the multimodal bench row. Its pair-count contract (EXACTLY 3 qualifying
pairs per 10-clip group, n-fold corpus -> n-fold pairs) is what makes an
n-fold scale reading's output assertion meaningful, so pin it here
against brute force."""

from tools.media_corpus import (
    N_WINDOWS,
    WINDOW_FRAMES,
    build_media_corpus,
    clip_levels,
    expected_audio_pairs,
    synth_png,
    synth_wav,
)


def _qualifying_pairs_bruteforce(n: int, threshold: float = 0.9):
    sigs = {i: clip_levels(i) for i in range(n)}
    out = set()
    for a in range(n):
        for b in range(a + 1, n):
            m = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
            if m / N_WINDOWS >= threshold:
                out.add((a, b))
    return out


def test_planted_pair_count_exact_and_scale_linear():
    got = _qualifying_pairs_bruteforce(100)
    assert len(got) == expected_audio_pairs(100) == 30
    # the planted structure, not accidents: every pair is within-group
    assert all(a // 10 == b // 10 and {a % 10, b % 10} <= {0, 1, 2}
               for a, b in got)
    # linearity is by construction (disjoint hash seed domains), spot-
    # checked one size up
    assert len(_qualifying_pairs_bruteforce(300)) == expected_audio_pairs(300)


def test_synth_wav_fingerprints_recover_designed_levels(spark):
    from pyspark_entity_resolution_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_fingerprints,
    )

    rows = [(i, "audio", synth_wav(clip_levels(i)), "audio/wav", "s")
            for i in range(5)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r["sig"]
           for r in audio_fingerprints(
               media, window_frames=WINDOW_FRAMES, levels=8).collect()}
    for i in range(5):
        assert got[i] == clip_levels(i), i


def test_synth_png_decodes_via_stdlib_kernel():
    from pyspark_entity_resolution_spark.operators.multimodal import (
        _png_decode,
    )

    w, h, c, raw = _png_decode(synth_png(7, size=16))
    assert (w, h, c) == (16, 16, 3)
    assert len(raw) == 16 * 16 * 3
    # determinism: same id -> same payload
    assert synth_png(7, size=16) == synth_png(7, size=16)
    assert synth_png(7, size=16) != synth_png(8, size=16)


def test_build_media_corpus_distributed_write(spark, tmp_path):
    from pyspark_entity_resolution_spark.operators.multimodal import (
        audio_fingerprints,
        audio_near_dup_pairs,
    )

    path = build_media_corpus(
        spark, str(tmp_path / "media.parquet"), n_audio=50, n_images=10
    )
    media = spark.read.parquet(path)
    assert media.count() == 60
    assert media.filter("media_type = 'image'").count() == 10
    pairs = audio_near_dup_pairs(
        audio_fingerprints(media, window_frames=WINDOW_FRAMES),
        min_match_fraction=0.9,
    ).count()
    assert pairs == expected_audio_pairs(50) == 15
    # cached: a second call returns without rewriting
    assert build_media_corpus(spark, path, n_audio=50, n_images=10) == path


def test_synth_jpeg_decodes_via_stdlib_kernel():
    from pyspark_entity_resolution_spark.operators.multimodal import (
        _jpeg_decode,
    )
    from tools.media_corpus import synth_jpeg

    w, h, c, raw = _jpeg_decode(synth_jpeg(3, size=32))
    assert (w, h, c) == (32, 32, 1)
    assert len(raw) == 32 * 32
    assert synth_jpeg(3) == synth_jpeg(3)
    assert synth_jpeg(3) != synth_jpeg(4)


def test_synth_gif_samples_via_stdlib_kernel(spark):
    from pyspark_entity_resolution_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _gif_decode_frames,
        sample_video_frames,
    )
    from tools.media_corpus import synth_gif

    frames = list(_gif_decode_frames(synth_gif(5)))
    assert len(frames) == 3
    assert all(f[1] == 50 for f in frames)          # 0.5 s per frame
    assert synth_gif(5) == synth_gif(5) != synth_gif(6)
    media = spark.createDataFrame(
        [(1, "video", synth_gif(5), "image/gif", "s")], MEDIA_SCHEMA)
    got = sample_video_frames(
        media, every_n_seconds=1, codec="gif-stdlib").collect()
    # frames at 0.0/0.5/1.0 s; sampler keeps t=0 and the first frame at
    # or after the 1 s boundary
    assert [r["frame_idx"] for r in got] == [0, 2]


def test_shifted_audio_derived_defaults_recall_floor(spark):
    """r10 (r9 verdict task 3): the shifted path's derived shingle
    length (min_match_fraction=0.9 -> w=4) must recover >=0.9 of the
    planted pairs INCLUDING the double-mismatch (m1, m2) pair of every
    group — the pairs the old fixed w=8 default mostly missed (measured
    74/90 at w=8 vs 90/90 at the derived w=4 on this corpus)."""
    from pyspark_entity_resolution_spark.operators.multimodal import (
        audio_fingerprints,
        audio_near_dup_pairs_shifted,
    )

    n_audio = 200
    path = build_media_corpus(
        spark, "/tmp/media_recall_floor_corpus.parquet",
        n_audio=n_audio, n_images=0, n_jpegs=0, n_gifs=0,
    )
    fps = audio_fingerprints(
        spark.read.parquet(path), window_frames=WINDOW_FRAMES
    )
    got = {
        (r.a_id, r.b_id)
        for r in audio_near_dup_pairs_shifted(
            fps, min_match_fraction=0.9
        ).collect()
    }
    planted = set()
    double = set()
    for g in range(n_audio // 10):
        base = 10 * g
        planted |= {(base, base + 1), (base, base + 2),
                    (base + 1, base + 2)}
        double.add((base + 1, base + 2))
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"aggregate recall {recall:.3f} < 0.9"
    # the double-mismatch pairs are the hard class the derivation fixes
    d_recall = len(got & double) / len(double)
    assert d_recall >= 0.8, f"double-mismatch recall {d_recall:.3f} < 0.8"
    # no false candidates survive exact verification on this corpus
    assert got <= planted


def test_shifted_audio_shingle_derivation_formula():
    """Pin the derivation so a silent change shows up here, not as a
    recall regression three rounds later: w = floor(f / (2*(1-f)))
    clipped to [3, 16], and f=1.0 (exact match, zero budget) takes the
    cap."""
    from pyspark_entity_resolution_spark.operators.multimodal import (
        audio_near_dup_pairs_shifted,
    )

    def derived(f):
        d = 1.0 - f
        return 16 if d <= 0 else max(3, min(16, int((1.0 - d) / (2.0 * d))))

    assert derived(0.9) == 4
    assert derived(0.95) == 9
    assert derived(0.8) == 3      # clipped up from 2
    assert derived(0.99) == 16    # clipped down from 49
    assert derived(1.0) == 16


def test_synth_mjpeg_avi_samples_via_stdlib_kernel(spark):
    from pyspark_entity_resolution_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        _avi_mjpeg_frames,
        sample_video_frames,
    )
    from tools.media_corpus import (
        MJPEG_FPS,
        MJPEG_FRAMES,
        expected_mjpeg_frames,
        synth_mjpeg_avi,
    )

    avi = synth_mjpeg_avi(5)
    assert synth_mjpeg_avi(5) == avi != synth_mjpeg_avi(6)
    (num, den), frames = _avi_mjpeg_frames(avi)
    assert (num, den) == (1_000_000, MJPEG_FPS)
    jpegs = list(frames)
    assert len(jpegs) == MJPEG_FRAMES
    assert len(set(jpegs)) == MJPEG_FRAMES  # frames differ

    media = spark.createDataFrame(
        [(1, "video", avi, "video/x-msvideo", "s")], MEDIA_SCHEMA)
    got = sample_video_frames(
        media, every_n_seconds=1, codec="mjpeg-stdlib").collect()
    # 6 frames at 2 fps: keep t=0.0, 1.0, 2.0 -> frames 0, 2, 4
    assert [r["frame_idx"] for r in got] == [0, 2, 4]
    assert len(got) == expected_mjpeg_frames(1) == 3
    assert len({r["frame_hash"] for r in got}) == 3


def test_build_media_corpus_with_avis(spark, tmp_path):
    from tools.media_corpus import expected_mjpeg_frames

    path = build_media_corpus(
        spark, str(tmp_path / "media.parquet"),
        n_audio=0, n_gifs=4, n_avis=6,
    )
    media = spark.read.parquet(path)
    assert media.filter("mime = 'video/x-msvideo'").count() == 6
    assert media.filter("mime = 'image/gif'").count() == 4
    from pyspark_entity_resolution_spark.operators.multimodal import (
        sample_video_frames,
    )
    from pyspark.sql import functions as F

    avis = media.filter(F.col("mime") == "video/x-msvideo")
    got = sample_video_frames(
        avis, every_n_seconds=1, codec="mjpeg-stdlib").count()
    assert got == expected_mjpeg_frames(6)
