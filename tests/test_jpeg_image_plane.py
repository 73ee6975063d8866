"""Round-12: standalone JPEG joins the image plane.  The decoder
existed since round 11 (operators/jpeg.py, written for MJPEG) but a
bare ``\\xff\\xd8`` blob fell to ``format='raw'`` byte stats and hashed
to (NULL, NULL) — exempting the dominant real-world image format from
media dedup.  These tests lock the two new dispatch branches
(multimodal.decode_media → decode_jpeg, phash.media_hashes → the
JPEG branch of multimodal.decode_blob) and the PNG↔JPEG cross-codec pairing, the image edition of
the raw↔MJPEG video test (tests/test_cross_codec.py)."""

from __future__ import annotations

import hashlib

import numpy as np

from prod2vec_spark.operators import phash as PH
from prod2vec_spark.operators.jpeg import decode_jpeg_gray, encode_jpeg_gray
from prod2vec_spark.operators.multimodal import (
    decode_blob,
    encode_png_gray8,
)

W, H = 40, 24


def _image(seed: int) -> bytes:
    """Smooth envelope-shaped grayscale image (the same content family
    the video cross-codec test uses — q90 JPEG loss does not move the
    8x8 area-average dHash grid on these)."""
    y, x = np.mgrid[0:H, 0:W]
    v = 128 + 90 * np.sin(x / 7 + seed) * np.cos(y / 5 - seed / 2)
    return np.clip(v, 0, 255).astype(np.uint8).tobytes()


def test_decode_media_dispatches_jpeg_and_flags_corrupt():
    blob = encode_jpeg_gray(_image(1), W, H, quality=90)
    d = decode_blob(blob)
    assert d[:3] == ("jpeg", "decoded", "image")
    assert d.gray.shape == (H, W)
    gray, w, h = decode_jpeg_gray(blob)
    assert hashlib.md5(d.gray.astype(np.uint8).tobytes()).hexdigest() == (
        hashlib.md5(gray).hexdigest()
    )
    assert abs(d.gray.mean() - sum(gray) / len(gray)) < 1e-9
    # corrupt: valid SOI but truncated stream -> 'corrupt', never a throw
    assert decode_blob(blob[:20])[:2] == ("jpeg", "corrupt")
    # a progressive frame with no scan data also flags corrupt, not mis-decode
    assert decode_blob(b"\xff\xd8\xff\xc2\x00\x04\x00\x00")[:2] == (
        "jpeg",
        "corrupt",
    )


def test_decode_jpeg_feature_row_matches_png_shape():
    """A JPEG decodes to the same record shape as a PNG of the same
    size — an image-modality (H, W) gray plane and nothing else — so
    every image operator reads both unchanged."""
    px = _image(2)
    jpg = decode_blob(encode_jpeg_gray(px, W, H))
    png = decode_blob(encode_png_gray8(px, W, H))
    for d in (jpg, png):
        assert d.modality == "image" and d.status == "decoded"
        assert d.gray.shape == (H, W)
        assert d.audio is None and d.video is None


def test_standalone_markers_do_not_break_the_walk():
    """TEM (0xFF01) and stray RSTn before SOS are zero-payload markers
    (T.81 B.1.1.3); the walk must skip them instead of reading a fake
    length field."""
    blob = encode_jpeg_gray(_image(3), W, H, quality=90)
    want = decode_jpeg_gray(blob)
    injected = blob[:2] + b"\xff\x01" + b"\xff\xd3" + blob[2:]
    assert decode_jpeg_gray(injected) == want


def test_png_jpeg_cross_codec_hash_identical():
    """q90 JPEG loss does not move the dHash on envelope-shaped images:
    the re-encode hashes BIT-IDENTICAL to the PNG original, so
    cross-codec image pairs survive any banding scheme."""
    px = _image(4)
    h_png = PH.media_hash(encode_png_gray8(px, W, H))[1]
    h_jpg = PH.media_hash(encode_jpeg_gray(px, W, H, quality=90))[1]
    assert h_png is not None and h_png == h_jpg


def test_dhash_jpeg_auditable_misses():
    assert PH.media_hash(b"not a jpeg")[1] is None
    assert PH.media_hash(b"\xff\xd8truncated")[1] is None
    assert PH.media_hash(None)[1] is None


def test_media_hashes_pairs_and_dedup_png_jpeg(spark):
    rows = [
        # content A: PNG original (1) + JPEG re-encode (2)
        (1, bytearray(encode_png_gray8(_image(1), W, H))),
        (2, bytearray(encode_jpeg_gray(_image(1), W, H, quality=90))),
        # content B: the same JPEG at two quality settings (3, 4)
        (3, bytearray(encode_jpeg_gray(_image(5), W, H, quality=90))),
        (4, bytearray(encode_jpeg_gray(_image(5), W, H, quality=75))),
        # unrelated JPEG distractor + non-media blob
        (5, bytearray(encode_jpeg_gray(_image(9), W, H, quality=90))),
        (6, bytearray(b"not media at all")),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    hashes = PH.media_hashes(media)
    got = {r["media_id"]: r for r in hashes.collect()}
    for mid in (1, 2, 3, 4, 5):
        assert got[mid]["modality"] == "image"
        assert got[mid]["mhash"] is not None  # JPEG no longer (NULL, NULL)
    assert got[6]["mhash"] is None

    pairs = PH.media_neardup_pairs(hashes, max_distance=3).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert found == {(1, 2), (3, 4)}, found

    # dedup: one canonical per planted family, singletons self-canonical
    dd = PH.media_dedup(
        hashes.withColumnRenamed("mhash", "dhash"), max_distance=3
    ).collect()
    by_cluster: dict = {}
    for r in dd:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert len(dd) == 6  # every input row covered
    canon = {c: sum(x["is_canonical"] for x in v) for c, v in by_cluster.items()}
    assert all(n == 1 for n in canon.values())
    fam_a = {r["cluster_id"] for r in dd if r["media_id"] in (1, 2)}
    fam_b = {r["cluster_id"] for r in dd if r["media_id"] in (3, 4)}
    assert len(fam_a) == 1 and len(fam_b) == 1 and fam_a != fam_b


# ------------------------------------------------ round-13: progressive
def test_progressive_jpeg_decodes_bit_identical_to_baseline():
    """The round-13 headline: a progressive (SOF2) re-encode of the
    same pixels decodes to EXACTLY the baseline's gray plane (the
    6-scan script delivers identical quantized coefficients), across
    sizes incl. non-multiple-of-8 and low quality (EOB/ZRL-heavy
    streams), gray and 3-component (whose chroma AC scans are omitted
    — exercising the decoder's chroma-scan skip)."""
    from prod2vec_spark.operators.jpeg import encode_jpeg_gray_progressive

    rng = np.random.RandomState(13)
    for (w, h) in [(16, 16), (24, 17), (33, 9), (8, 8)]:
        px = rng.randint(0, 256, (h, w), dtype=np.uint8).tobytes()
        for q in (90, 50, 10):
            for color in (False, True):
                prog = decode_jpeg_gray(
                    encode_jpeg_gray_progressive(px, w, h, quality=q, color=color)
                )
                base = decode_jpeg_gray(
                    encode_jpeg_gray(px, w, h, quality=q, color=color)
                )
                assert prog == base, (w, h, q, color)


def test_progressive_jpeg_dhash_bit_identical_and_corrupt_unchanged():
    """The dHash of the progressive re-encode is BIT-IDENTICAL to the
    baseline's (same pixels in, same hash out), so progressive blobs
    join media dedup in the same banded bucket; garbage and truncated
    progressive streams still map to the auditable miss (None /
    'corrupt'), never a fake hash."""
    from prod2vec_spark.operators.jpeg import encode_jpeg_gray_progressive

    px = _image(5)
    base = encode_jpeg_gray(px, W, H, quality=90)
    prog = encode_jpeg_gray_progressive(px, W, H, quality=90)
    assert PH.media_hash(prog)[1] == PH.media_hash(base)[1]
    assert PH.media_hash(prog)[1] is not None
    # image_gray door: identical planes -> the tile plane agrees too
    assert np.array_equal(PH.image_gray(prog), PH.image_gray(base))
    # corrupt handling unchanged
    assert PH.media_hash(prog[:60])[1] is None
    assert decode_blob(prog[:60])[:2] == ("jpeg", "corrupt")
    d = decode_blob(prog)
    assert d[:2] == ("jpeg", "decoded")
    assert hashlib.md5(d.gray.astype(np.uint8).tobytes()).hexdigest() == (
        hashlib.md5(decode_jpeg_gray(prog)[0]).hexdigest()
    )


def test_progressive_parity_property():
    """Property test (hypothesis): for ANY small image and quality,
    the progressive encoding decodes to EXACTLY the baseline's gray
    plane — the strongest statement of the 6-scan script's
    coefficient-identity contract, beyond the pinned cases."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from prod2vec_spark.operators.jpeg import encode_jpeg_gray_progressive

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(4, 28),
        h=st.integers(4, 28),
        q=st.integers(5, 95),
        seed=st.integers(0, 2**31 - 1),
        color=st.booleans(),
    )
    def check(w, h, q, seed, color):
        px = np.random.RandomState(seed).randint(
            0, 256, (h, w), dtype=np.uint8
        ).tobytes()
        prog = decode_jpeg_gray(
            encode_jpeg_gray_progressive(px, w, h, quality=q, color=color)
        )
        base = decode_jpeg_gray(
            encode_jpeg_gray(px, w, h, quality=q, color=color)
        )
        assert prog == base

    check()
