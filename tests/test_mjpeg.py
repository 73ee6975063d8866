"""Round-11: compressed video — baseline JPEG codec (operators/
jpeg.py) + MJPEG-in-AVI (operators/multimodal.py: encode_avi_mjpeg /
avi_frames 'MJPG' branch).  JPEG is lossy, so roundtrips bound pixel
error instead of pinning bytes; fingerprint tests mirror
test_video.py's planted-family strategy over MJPEG fixtures.

ENGINE scope beyond the reference (media anchor `/root/reference/Img/`
ships static images only)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

import prod2vec_spark.operators.jpeg as J
from prod2vec_spark.operators.jpeg import decode_jpeg_gray, encode_jpeg_gray
from prod2vec_spark.operators.multimodal import (
    avi_frames,
    decode_blob,
    encode_avi_gray8,
    encode_avi_mjpeg,
)
from prod2vec_spark.operators.phash import media_hash

W, H = 36, 24


def _frame(seed: int, t: int = 0, w: int = W, h: int = H) -> bytes:
    """Smooth sinusoid + small seeded noise — JPEG-friendly content
    with full dynamic range."""
    rng = np.random.default_rng(seed * 1000 + t)
    y, x = np.mgrid[0:h, 0:w]
    v = 128 + 90 * np.sin(x / 7 + t + seed) * np.cos(y / 5 - t / 2)
    return (
        np.clip(v + rng.integers(-4, 5, size=(h, w)), 0, 255)
        .astype(np.uint8)
        .tobytes()
    )


def _clip(seed: int, n_frames: int = 5, w: int = W, h: int = H) -> list[bytes]:
    return [_frame(seed, t, w, h) for t in range(n_frames)]


def _err(a: bytes, b: bytes) -> int:
    return int(
        np.abs(
            np.frombuffer(a, np.uint8).astype(int)
            - np.frombuffer(b, np.uint8).astype(int)
        ).max()
    )


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


# ------------------------------------------------------------- jpeg
def test_jpeg_roundtrip_bounded_error():
    f = _frame(1)
    g, w, h = decode_jpeg_gray(encode_jpeg_gray(f, W, H, quality=90))
    assert (w, h) == (W, H)
    assert _err(f, g) <= 12  # q90 on smooth content: small, never exact


def test_jpeg_quality_monotone_size():
    f = _frame(2)
    sizes = [len(encode_jpeg_gray(f, W, H, quality=q)) for q in (30, 60, 90)]
    assert sizes == sorted(sizes)
    # lower quality -> worse reconstruction
    e30 = _err(f, decode_jpeg_gray(encode_jpeg_gray(f, W, H, quality=30))[0])
    e90 = _err(f, decode_jpeg_gray(encode_jpeg_gray(f, W, H, quality=90))[0])
    assert e90 < e30


def test_jpeg_nonmultiple_of_8_dims():
    f = _frame(3, w=11, h=13)
    g, w, h = decode_jpeg_gray(encode_jpeg_gray(f, 11, 13, quality=90))
    assert (w, h) == (11, 13) and len(g) == 11 * 13
    assert _err(f, g) <= 16  # edge-replicated partial blocks


def test_jpeg_color_variant_y_plane_identical():
    """3-component 4:4:4 with neutral chroma: the interleaved MCU path
    must yield the exact same Y plane as the 1-component encode."""
    f = _frame(4)
    gray = decode_jpeg_gray(encode_jpeg_gray(f, W, H, quality=85))[0]
    color = decode_jpeg_gray(encode_jpeg_gray(f, W, H, quality=85, color=True))[0]
    assert color == gray


def test_jpeg_restart_markers_roundtrip():
    """DRI + RSTn every 3 MCUs decodes identically to the unsegmented
    stream (predictors reset, byte-aligned markers consumed)."""
    f = _frame(5)
    plain = decode_jpeg_gray(encode_jpeg_gray(f, W, H, quality=90))[0]
    blob = encode_jpeg_gray(f, W, H, quality=90, restart_interval=3)
    assert b"\xff\xdd" in blob  # DRI present
    assert decode_jpeg_gray(blob)[0] == plain


def test_jpeg_pure_python_path_matches_numpy():
    """The no-numpy fallback must agree with the vectorized path —
    encode byte-identical on this input, decode pixel-identical."""
    f = _frame(6, w=16, h=16)
    blob = encode_jpeg_gray(f, 16, 16, quality=90)
    g_np = decode_jpeg_gray(blob)[0]
    saved = J._np
    try:
        J._np = None
        assert encode_jpeg_gray(f, 16, 16, quality=90) == blob
        assert decode_jpeg_gray(blob)[0] == g_np
    finally:
        J._np = saved


def test_jpeg_single_scan_uses_component_grid_not_mcu_geometry():
    """T.81 A.2.2: a single-component scan is non-interleaved — one
    block per MCU on the COMPONENT's grid.  A grayscale JPEG that
    declares 2x2 sampling (legal; ratio to hmax is still 1) must
    decode identically to the 1x1 declaration; the frame-level MCU
    geometry would silently permute block placement."""
    f = _frame(20, w=32, h=16)
    blob = bytearray(encode_jpeg_gray(f, 32, 16, quality=90))
    base = decode_jpeg_gray(bytes(blob))[0]
    i = bytes(blob).index(b"\xff\xc0")
    assert blob[i + 11] == 0x11  # component 1 sampling byte
    blob[i + 11] = 0x22
    assert decode_jpeg_gray(bytes(blob))[0] == base


def test_jpeg_rejects_non_luma_first_scan():
    """A multi-component file whose first scan is a chroma component
    would yield a bogus 'luma' plane — reject loudly instead."""
    f = _frame(21, w=16, h=16)
    blob = bytearray(encode_jpeg_gray(f, 16, 16, quality=90, color=True))
    i = bytes(blob).index(b"\xff\xda")
    ns = blob[i + 4]
    assert ns == 3  # interleaved 3-component scan from our encoder
    blob[i + 4] = 1  # claim a single-component scan...
    blob[i + 5] = 2  # ...of component id 2 (Cb)
    # truncate the now-too-long SOS header is unnecessary: length byte
    # still covers it; the decoder must reject before entropy decode
    with pytest.raises(ValueError, match="scan order|unsupported"):
        decode_jpeg_gray(bytes(blob))


def test_jpeg_rejects_malformed_and_garbage():
    """Round-13: progressive (SOF2) now DECODES (see
    test_jpeg_image_plane.py); what must still fail loudly: a
    baseline stream whose SOF marker is flipped to SOF2 (its full-band
    Ss=0/Se=63 scan is illegal for progressive DC), non-JPEG bytes,
    truncation, and the still-unsupported codings (lossless,
    arithmetic)."""
    f = _frame(7, w=16, h=16)
    blob = bytearray(encode_jpeg_gray(f, 16, 16))
    i = blob.index(b"\xff\xc0")
    blob[i + 1] = 0xC2  # SOF0 -> SOF2: scan header is now inconsistent
    with pytest.raises(ValueError, match="progressive DC scan"):
        decode_jpeg_gray(bytes(blob))
    blob[i + 1] = 0xC3  # lossless: still rejected, never mis-decoded
    with pytest.raises(ValueError, match="unsupported JPEG coding"):
        decode_jpeg_gray(bytes(blob))
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg_gray(b"png? no")
    with pytest.raises(ValueError):
        decode_jpeg_gray(bytes(encode_jpeg_gray(f, 16, 16))[:40])  # truncated


# ------------------------------------------------------------ mjpeg avi
def test_mjpeg_avi_roundtrip_bounded_error():
    frames = _clip(8)
    blob = encode_avi_mjpeg(frames, W, H, fps=5, quality=90)
    got, meta = avi_frames(blob)
    assert meta == {
        "width": W, "height": H, "n_frames": 5, "fps": 5.0,
        "bit_count": 24, "codec": "mjpg",
    }
    assert len(got) == 5
    assert all(_err(a, b) <= 12 for a, b in zip(frames, got))


def test_mjpeg_decode_avi_features_and_dispatch():
    frames = _clip(9, n_frames=10)
    blob = encode_avi_mjpeg(frames, W, H, fps=5)
    got, m = avi_frames(blob)
    assert (m["width"], m["height"], m["n_frames"]) == (W, H, 10)
    assert m["n_frames"] / m["fps"] * 1000.0 == 2000.0
    assert decode_blob(blob)[:3] == ("avi", "decoded", "video")
    assert decode_blob(blob[:60])[:2] == ("avi", "corrupt")


def test_mjpeg_frame_dims_must_match_header():
    frames = _clip(10, n_frames=2)
    blob = bytearray(encode_avi_mjpeg(frames, W, H))
    # corrupt the avih width so the per-frame JPEG dims disagree
    i = bytes(blob).index(b"avih") + 8
    blob[i + 32 : i + 36] = struct.pack("<I", W + 8)
    with pytest.raises(ValueError, match="disagree"):
        avi_frames(bytes(blob))


def test_other_compressed_fourccs_still_rejected():
    blob = bytearray(encode_avi_gray8(_clip(11, n_frames=2, w=16, h=16), 16, 16))
    i = bytes(blob).index(b"strf") + 8
    blob[i + 16 : i + 20] = struct.pack("<I", 0x34363248)  # 'H264'
    with pytest.raises(ValueError, match="unsupported AVI codec"):
        avi_frames(bytes(blob))


# -------------------------------------------------------- fingerprints
def test_vhash_stable_across_codec_and_compression():
    """The keyframe-mean dHash must not move under JPEG loss: the
    same clip encoded raw and MJPEG hashes identically (or within 2
    bits), while an unrelated clip stays far."""
    frames = _clip(12, n_frames=8)
    h_raw = media_hash(encode_avi_gray8(frames, W, H))[1]
    h_mjpg = media_hash(encode_avi_mjpeg(frames, W, H, quality=90))[1]
    assert _ham(h_raw, h_mjpg) <= 2
    h_other = media_hash(encode_avi_mjpeg(_clip(77, n_frames=8), W, H))[1]
    assert _ham(h_mjpg, h_other) > 10


def test_mjpeg_neardup_planted_families(spark):
    """Planted near-duplicate clip families survive MJPEG compression:
    media_hashes + banded-Hamming recovers every within-family pair and
    no cross-family pair — the compressed twin of
    test_phash_videos_neardup_planted_families."""
    import collections

    from pyspark.sql import functions as F

    from prod2vec_spark.operators import phash as PH

    rows = []
    for fam in range(5):
        base = _clip(100 + fam, n_frames=4, w=16, h=16)
        for member in range(3):
            frames = [bytearray(f) for f in base]
            if member:
                pos = (member * 41) % 256
                frames[member % 4][pos] = (frames[member % 4][pos] + 9) % 256
            rows.append(
                (
                    fam * 10 + member,
                    bytearray(
                        encode_avi_mjpeg(
                            [bytes(f) for f in frames], 16, 16, quality=90
                        )
                    ),
                )
            )
    rows.append((999, bytearray(b"undecodable")))
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    hashes = PH.media_hashes(media).select(
        "media_id", F.col("mhash").alias("vhash")
    )
    assert hashes.where(F.col("media_id") == 999).collect()[0]["vhash"] is None
    pairs = PH.phash_neardup(hashes, hash_col="vhash", max_distance=3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    counts = collections.Counter()
    for fam in range(5):
        ids = [fam * 10 + m for m in range(3)]
        for i in range(3):
            for j in range(i + 1, 3):
                assert (ids[i], ids[j]) in got, (fam, ids[i], ids[j])
                counts[fam] += 1
    for a, b in got:  # no cross-family pair
        assert a // 10 == b // 10, (a, b)
