"""Deterministic synthetic media corpus (WAV clips + PNG images) for the
multimodal bench row.

Layout: MEDIA_SCHEMA rows. Audio ids come in groups of 10 — member 0 is
the group's base clip, members 1-2 are planted near-duplicates (one
level-window bumped each, at distinct positions, so with 24 windows the
within-group match fractions are 23/24, 23/24, and 22/24 — all above
the 0.9 default), members 3-9 are unrelated patterns. Every level
pattern is a pure integer hash of (group, member, window), so an n-fold
corpus has exactly n-fold groups and EXACTLY n-fold qualifying pairs
(3 per group): the pair-count assertion of an n-fold scale reading.
Images are 32x32 RGB PNGs with id-seeded noise, encoded with the stdlib
(zlib + filter-0 scanlines) — real decode work for the png-stdlib
kernel.

Generation is DISTRIBUTED (mapInPandas over spark.range): a x100
corpus never funnels through the driver.
"""

from __future__ import annotations

import struct
import zlib

N_WINDOWS = 24
WINDOW_FRAMES = 512
_GROUP = 10


def _mix(a: int, b: int) -> int:
    x = (a * 2654435761 + b * 40503 + 9176) & 0xFFFFFFFF
    x ^= x >> 13
    x = (x * 2246822519) & 0xFFFFFFFF
    x ^= x >> 16
    return x


def clip_levels(media_id: int) -> list[int]:
    """The designed level pattern for one audio id (see module doc)."""
    g, m = divmod(media_id, _GROUP)
    if m < 3:
        # base seeds are even, unrelated-member seeds odd: the _mix
        # inputs are distinct across groups, so cross-group pattern
        # collisions are astronomically unlikely (disjoint seed
        # domains through a 32-bit mixer) — but not impossible; a
        # one-in-a-billion exact-planted-pair probe failure would
        # trace here
        levels = [_mix(2 * g, w) % 8 for w in range(N_WINDOWS)]
        if m:  # near-dup: bump one window, distinct position per member
            pos = (m * 7) % N_WINDOWS
            levels[pos] = (levels[pos] + 1) % 8
        return levels
    return [_mix(2 * (g * _GROUP + m) + 1, w) % 8 for w in range(N_WINDOWS)]


def synth_wav(levels: list[int], window_frames: int = WINDOW_FRAMES,
              rate: int = 8000) -> bytes:
    """16-bit mono PCM WAV whose per-window RMS recovers ``levels``
    exactly under ``audio_fingerprints(levels=8)`` (square wave at
    amplitude (level + 0.5)/8 of full scale per window)."""
    import numpy as np

    amps = np.array([int(((lv + 0.5) / 8) * 32767) for lv in levels],
                    dtype=np.int64)
    sig = np.repeat(amps, window_frames)
    toggle = np.where(np.arange(sig.size) % 2 == 0, 1, -1)
    pcm = (sig * toggle).astype("<i2").tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
    hdr += b"data" + struct.pack("<I", len(pcm))
    return hdr + pcm


def synth_png(img_id: int, size: int = 32) -> bytes:
    """Small RGB PNG with id-seeded noise pixels, stdlib-encoded. Rows
    after the first use filter 2 (Up), so decoding pays the real
    per-byte unfilter loop, not just a zlib inflate + copy."""
    import numpy as np

    rng = np.random.RandomState(img_id % (2 ** 31 - 1))
    pix = rng.randint(0, 256, (size, 3 * size), dtype=np.uint8)
    rows = [b"\x00" + pix[0].tobytes()]
    for r in range(1, size):
        rows.append(b"\x02" + (pix[r] - pix[r - 1]).tobytes())
    raw = b"".join(rows)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body)))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", size, size, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b""))


def synth_jpeg(img_id: int, size: int = 32) -> bytes:
    """Small grayscale baseline JPEG with id-seeded quantized
    coefficients (DC + a few low-frequency AC terms per 8x8 block),
    encoded by the hand-rolled tools/jpeg_fixture encoder — real
    Huffman + dequant + IDCT decode work for the jpeg-stdlib kernel."""
    import numpy as np

    from tools.jpeg_fixture import encode_jpeg

    rng = np.random.RandomState((img_id * 31 + 7) % (2 ** 31 - 1))
    nb = size // 8
    blocks = {}
    for by in range(nb):
        for bx in range(nb):
            coeffs = [0] * 64
            coeffs[0] = int(rng.randint(-400, 401))
            for idx in (1, 8, 9, 2, 16):
                coeffs[idx] = int(rng.randint(-60, 61))
            blocks[(by, bx)] = coeffs
    comps = [{"id": 1, "h": 1, "v": 1, "tq": 0, "blocks": blocks}]
    return encode_jpeg(size, size, comps, {0: [4] + [2] * 63})


def synth_gif(img_id: int, size: int = 16, frames: int = 3) -> bytes:
    """Small animated GIF with id-seeded 4-color noise frames at 0.5 s
    delays (trivially-valid LZW: every pixel a literal code preceded by
    CLEAR) — real LZW decode + canvas compositing work for the
    gif-stdlib frame-sampling kernel."""
    import struct

    import numpy as np

    rng = np.random.RandomState((img_id * 17 + 3) % (2 ** 31 - 1))
    pal = bytes(rng.randint(0, 256, 12, dtype=np.uint8))  # 4 colors
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", size, size)
    out += bytes([0x81, 0, 0]) + pal  # GCT present, 2-bit table
    for _f in range(frames):
        out += bytes([0x21, 0xF9, 4, 0]) + struct.pack("<H", 50) + b"\x00\x00"
        out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, size, size)
        out += bytes([0])  # no LCT, not interlaced
        codes = []
        for px in rng.randint(0, 4, size * size):
            codes += [4, int(px)]  # CLEAR, literal
        codes.append(5)            # END
        val = bits = 0
        data = bytearray()
        for c in codes:            # 3-bit codes, LSB-first
            val |= c << bits
            bits += 3
            while bits >= 8:
                data.append(val & 0xFF)
                val >>= 8
                bits -= 8
        if bits:
            data.append(val & 0xFF)
        out += bytes([2])          # LZW minimum code size
        for i in range(0, len(data), 255):
            chunk = data[i:i + 255]
            out += bytes([len(chunk)]) + bytes(chunk)
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


MJPEG_FRAMES = 6
MJPEG_FPS = 2


def synth_mjpeg_avi(vid_id: int, frames: int = MJPEG_FRAMES,
                    fps: int = MJPEG_FPS, size: int = 16) -> bytes:
    """MJPEG-in-AVI clip: ``frames`` coefficient-seeded grayscale
    baseline JPEGs at ``fps`` (hand-rolled tools/avi_fixture muxer +
    tools/jpeg_fixture encoder). At ``every_n_seconds=1`` the sampler
    keeps every other frame at 2 fps, so the kernel demonstrates its
    key property — only SAMPLED frames pay the JPEG decode."""
    import numpy as np

    from tools.avi_fixture import mux_mjpeg_avi
    from tools.jpeg_fixture import encode_jpeg

    nb = size // 8
    jpegs = []
    for f in range(frames):
        rng = np.random.RandomState((vid_id * 131 + f * 31 + 11) % (2 ** 31 - 1))
        blocks = {}
        for by in range(nb):
            for bx in range(nb):
                coeffs = [0] * 64
                coeffs[0] = int(rng.randint(-400, 401))
                for idx in (1, 8, 9):
                    coeffs[idx] = int(rng.randint(-60, 61))
                blocks[(by, bx)] = coeffs
        comps = [{"id": 1, "h": 1, "v": 1, "tq": 0, "blocks": blocks}]
        jpegs.append(encode_jpeg(size, size, comps, {0: [4] + [2] * 63}))
    return mux_mjpeg_avi(jpegs, size, size, rate=fps, scale=1)


def expected_mjpeg_frames(n_avis: int, frames: int = MJPEG_FRAMES,
                          fps: int = MJPEG_FPS,
                          every_n_seconds: int = 1) -> int:
    """Sampled-frame tripwire: replay of the sampler's exact rational
    clock (frame i at ``i * 1e6 * scale // rate`` microseconds, keep
    the first frame at or after each boundary) over one clip, times
    ``n_avis``."""
    num, den = 1_000_000, fps
    next_us = kept = 0
    for i in range(frames):
        t = i * num // den
        if t >= next_us:
            kept += 1
            next_us = t + every_n_seconds * 1_000_000
    return kept * n_avis


def expected_audio_pairs(n_audio: int) -> int:
    """Qualifying near-dup pairs the generator plants: 3 per full group
    of 10 (plus the partial-group tail, which the callers avoid by
    sizing n_audio to a multiple of 10)."""
    full, rem = divmod(n_audio, _GROUP)
    tail = {0: 0, 1: 0, 2: 1}.get(min(rem, 3), 3)
    return 3 * full + tail


def build_media_corpus(spark, path: str, n_audio: int,
                       n_images: int = 0, n_jpegs: int = 0,
                       n_gifs: int = 0, n_avis: int = 0) -> str:
    """Write (once, cached) a MEDIA_SCHEMA parquet of ``n_audio`` WAV
    clips + ``n_images`` PNGs + ``n_jpegs`` JPEGs + ``n_gifs`` animated
    GIFs + ``n_avis`` MJPEG-AVI clips (GIFs and AVIs both media_type
    'video' — kernel callers select by MIME) at ``path``; returns the
    path. Generation is distributed — each task synthesizes its own id
    range. Callers changing the size mix must change the path (the
    cache is keyed on nothing else)."""
    import os

    if os.path.exists(path + "/_SUCCESS"):
        return path

    import pandas as pd

    from pyspark_entity_resolution_spark.operators.multimodal import (
        MEDIA_SCHEMA,
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if i < n_audio:
                    rows.append((i, "audio", synth_wav(clip_levels(i)),
                                 "audio/wav", f"synth://audio/{i}.wav"))
                elif i < n_audio + n_images:
                    rows.append((i, "image", synth_png(i),
                                 "image/png", f"synth://image/{i}.png"))
                elif i < n_audio + n_images + n_jpegs:
                    rows.append((i, "image", synth_jpeg(i),
                                 "image/jpeg", f"synth://image/{i}.jpg"))
                elif i < n_audio + n_images + n_jpegs + n_gifs:
                    rows.append((i, "video", synth_gif(i),
                                 "image/gif", f"synth://video/{i}.gif"))
                else:
                    rows.append((i, "video", synth_mjpeg_avi(i),
                                 "video/x-msvideo",
                                 f"synth://video/{i}.avi"))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    total = n_audio + n_images + n_jpegs + n_gifs + n_avis
    # r11: file count floors at the session parallelism — the bench's
    # 2000-row corpus wrote 8 files, so every downstream Arrow decode
    # kernel scanned on 8 of 32 cores (payload rows can't be re-split
    # below the file count without shuffling the binary blobs, which
    # measured SLOWER than the lost parallelism). Row content is
    # id-deterministic and partition-independent.
    n_part = max(8, spark.sparkContext.defaultParallelism, total // 2000)
    (spark.range(total, numPartitions=n_part)
     .mapInPandas(kernel, MEDIA_SCHEMA)
     .write.mode("overwrite").parquet(path))
    return path
