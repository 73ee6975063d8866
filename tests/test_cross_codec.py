"""Round-11: cross-CODEC near-duplicates — the real-world dup class
where the SAME content circulates under different encodings.  The
perceptual hashes are computed on decoded pixels/samples, so a raw
AVI and its MJPEG re-encode (or a PCM WAV and its ADPCM re-encode)
must land in the same banded-Hamming bucket and verify as near-dups,
while unrelated content never pairs.  One mixed-modality hash pass
(phash.media_hashes) over all codecs together."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from prod2vec_spark.operators import phash as PH
from prod2vec_spark.operators.multimodal import (
    encode_avi_gray8,
    encode_avi_mjpeg,
    encode_wav_adpcm,
    encode_wav_pcm16,
)

W, H = 36, 24


def _frames(seed: int, n: int = 6) -> list[bytes]:
    y, x = np.mgrid[0:H, 0:W]
    out = []
    for t in range(n):
        rng = np.random.default_rng(seed * 100 + t)
        v = 128 + 90 * np.sin(x / 7 + t + seed) * np.cos(y / 5 - t / 2)
        out.append(
            np.clip(v + rng.integers(-4, 5, size=(H, W)), 0, 255)
            .astype(np.uint8)
            .tobytes()
        )
    return out


def _audio(seed: int, n: int = 4000) -> list[int]:
    t = np.arange(n)
    rng = np.random.default_rng(seed)
    env = 2000 + 1800 * np.sin(2 * np.pi * t / n * (2 + seed % 5) + rng.uniform(0, 6))
    return (env * np.sin(2 * np.pi * 440 * t / 8000 + seed)).astype(int).tolist()


def test_cross_codec_neardup_pairs(spark):
    rows = [
        # content A: raw AVI (id 1) + MJPEG re-encode (id 2)
        (1, bytearray(encode_avi_gray8(_frames(1), W, H))),
        (2, bytearray(encode_avi_mjpeg(_frames(1), W, H, quality=90))),
        # content B: PCM WAV (id 3) + ADPCM re-encode (id 4)
        (3, bytearray(encode_wav_pcm16(_audio(2)))),
        (4, bytearray(encode_wav_adpcm(_audio(2)))),
        # unrelated distractors, one per modality
        (5, bytearray(encode_avi_mjpeg(_frames(9), W, H, quality=90))),
        (6, bytearray(encode_wav_adpcm(_audio(8)))),
        (7, bytearray(b"not media at all")),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    hashes = PH.media_hashes(media)
    got = {r["media_id"]: r for r in hashes.collect()}
    assert got[1]["modality"] == got[2]["modality"] == "video"
    assert got[3]["modality"] == got[4]["modality"] == "audio"
    assert got[7]["mhash"] is None  # auditable miss, never a fake hash

    pairs = PH.media_neardup_pairs(hashes, max_distance=3).collect()
    found = {(r["id_a"], r["id_b"]): r["modality"] for r in pairs}
    assert found == {(1, 2): "video", (3, 4): "audio"}, found


def test_cross_codec_hashes_bit_identical_for_video(spark):
    """MJPEG loss does not move the keyframe-mean dHash at q90 on
    envelope-shaped frames: the re-encode hashes BIT-IDENTICAL to the
    original, so cross-codec pairs survive any banding scheme."""
    fr = _frames(3)
    assert PH.media_hash(encode_avi_gray8(fr, W, H))[1] == PH.media_hash(
        encode_avi_mjpeg(fr, W, H, quality=90)
    )[1]
