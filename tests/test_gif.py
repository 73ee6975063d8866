"""Round-13 (VERDICT r12 ask #5): GIF joins the image plane.
operators/gif.py is a stdlib LZW codec; these tests lock the LZW
roundtrip (incl. dictionary reset and the KwKwK case), interlace,
palette compositing, the PNG↔GIF cross-codec pairing (gray palettes
have r=g=b, so the shared ``_gray`` fold makes dHash BIT-IDENTICAL),
corrupt handling, and the documented WebP boundary."""

from __future__ import annotations

import numpy as np
import pytest

from prod2vec_spark.operators import phash as PH
from prod2vec_spark.operators.gif import (
    _lzw_decode,
    _lzw_encode,
    encode_gif_gray8,
    gif_pixels,
)
from prod2vec_spark.operators.multimodal import decode_blob, encode_png_gray8

W, H = 40, 24


def _noise(seed: int, h: int = H, w: int = W) -> np.ndarray:
    return np.random.RandomState(seed).randint(0, 256, (h, w), dtype=np.uint8)


def test_lzw_roundtrip_including_dictionary_reset():
    rng = np.random.RandomState(1)
    for n in (1, 7, 300, 20_000):  # 20k forces a 4096-table reset
        data = bytes(rng.randint(0, 256, n, dtype=np.uint8))
        assert bytes(_lzw_decode(8, _lzw_encode(8, data), n)) == data
    # the KwKwK case: aaa... emits a code equal to next_code
    runs = b"\x05" * 50
    assert bytes(_lzw_decode(8, _lzw_encode(8, runs), 50)) == runs


def test_gif_roundtrip_and_feature_row():
    a = _noise(3)
    blob = encode_gif_gray8(a.tobytes(), W, H)
    rgb, m = gif_pixels(blob)
    assert (m["width"], m["height"], m["channels"]) == (W, H, 3)
    got = np.frombuffer(rgb, dtype=np.uint8).reshape(H, W, 3)
    for c in range(3):  # gray palette: every channel IS the index
        assert np.array_equal(got[:, :, c], a)
    d = decode_blob(blob)
    assert d[:3] == ("gif", "decoded", "image")
    assert d.gray.shape == (H, W)
    assert np.array_equal(d.gray, a)


def test_gif_interlaced_rows_deinterlaced():
    """Hand-build an interlaced variant by permuting rows into GIF's
    four-pass order and setting the interlace flag; decode must return
    the original top-down image."""
    a = _noise(4, h=16, w=8)
    order = (
        list(range(0, 16, 8))
        + list(range(4, 16, 8))
        + list(range(2, 16, 4))
        + list(range(1, 16, 2))
    )
    interlaced_rows = np.vstack([a[y] for y in order])
    blob = bytearray(encode_gif_gray8(interlaced_rows.tobytes(), 8, 16))
    # image descriptor packed byte: offset = 6 (header) + 7 (LSD) +
    # 768 (GCT) + 9 into the 0x2C block
    idesc = 6 + 7 + 768
    assert blob[idesc] == 0x2C
    blob[idesc + 9] |= 0x40  # set interlace flag
    rgb, m = gif_pixels(bytes(blob))
    assert m["interlaced"] is True
    got = np.frombuffer(rgb, dtype=np.uint8).reshape(16, 8, 3)[:, :, 0]
    assert np.array_equal(got, a)


def test_gif_dhash_bit_identical_to_png():
    """The cross-codec property: the SAME gray pixels through PNG and
    GIF produce the SAME dHash (and the same image_gray plane, so the
    tile/span plane agrees too)."""
    a = _noise(5)
    png = encode_png_gray8(a.tobytes(), W, H)
    gif = encode_gif_gray8(a.tobytes(), W, H)
    assert PH.media_hash(png)[1] == PH.media_hash(gif)[1]
    assert PH.media_hash(gif)[1] is not None
    assert np.array_equal(PH.image_gray(png), PH.image_gray(gif))


def test_gif_corrupt_and_webp_boundary():
    a = _noise(6)
    blob = encode_gif_gray8(a.tobytes(), W, H)
    assert PH.media_hash(blob[:40])[1] is None  # truncated
    assert decode_blob(blob[:40])[:2] == ("gif", "corrupt")
    assert PH.media_hash(b"not a gif")[1] is None
    # WebP lossy: pixels stay the documented out-of-scope boundary —
    # never mis-decoded; the header parser rejects an all-zero payload
    # (no RFC 6386 start code)
    from prod2vec_spark.operators.webp import webp_info

    webp = b"RIFF\x24\x00\x00\x00WEBPVP8 " + bytes(24)
    assert decode_blob(webp)[:2] == ("webp", "unsupported_format")
    with pytest.raises(ValueError):
        webp_info(webp)
    assert PH.image_gray(webp) is None
    # a WELL-FORMED lossy header gets real dims
    from tests.test_webp import make_lossy_webp

    good_hdr = webp_info(make_lossy_webp(40, 30))
    assert (good_hdr["width"], good_hdr["height"]) == (40, 30)
    assert PH.image_gray(make_lossy_webp(40, 30)) is None  # still no pixels


def test_gif_cross_codec_pairing_in_media_plane(spark):
    """A PNG and a GIF encode of the same image pair in media_neardup
    (the PNG↔JPEG test's shape); unrelated images don't."""
    a, b = _noise(7), _noise(8)
    rows = [
        (1, bytearray(encode_png_gray8(a.tobytes(), W, H))),
        (2, bytearray(encode_gif_gray8(a.tobytes(), W, H))),
        (3, bytearray(encode_gif_gray8(b.tobytes(), W, H))),
        (4, bytearray(b"RIFF\x10\x00\x00\x00WEBPVP8 garbage!")),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    hashes = PH.media_hashes(media)
    got = {r["media_id"]: r for r in hashes.collect()}
    assert got[2]["modality"] == got[3]["modality"] == "image"
    # round-15: a WEBP container is a recognized IMAGE container now
    # (VP8L decodes); this lossy-VP8 payload keeps modality with a
    # NULL hash — the "container recognized, codec boundary" class
    assert got[4]["modality"] == "image" and got[4]["mhash"] is None
    pairs = PH.media_neardup_pairs(hashes, max_distance=3).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_gif_joins_the_tile_span_plane(spark):
    """image_tile_hashes accepts GIF blobs through the shared decode
    door: a GIF crop of a PNG original pairs in span_pairs(IMAGE_PLANE) —
    the cross-codec partial-image case, GIF edition."""
    from prod2vec_spark.operators.phash import IMAGE_PLANE, span_pairs

    base = _noise(9, h=48, w=48)
    crop = base[16:, 16:]
    rows = [
        (1, bytearray(encode_png_gray8(base.tobytes(), 48, 48))),
        (2, bytearray(encode_gif_gray8(np.ascontiguousarray(crop).tobytes(), 32, 32))),
        (3, bytearray(encode_gif_gray8(_noise(10, 48, 48).tobytes(), 48, 48))),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    got = {
        (r["id_a"], r["id_b"]): r["n_shared_tiles"]
        for r in span_pairs(IMAGE_PLANE, media, min_shared=4).collect()
    }
    assert set(got) == {(1, 2)}, got


def test_gif_roundtrip_property():
    """Property test (hypothesis): ANY byte content survives the
    GIF encode→decode roundtrip exactly (LZW width switching, table
    resets, sub-block framing — all content-dependent paths)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=20, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, seed):
        a = np.random.RandomState(seed).randint(
            0, 256, (h, w), dtype=np.uint8
        )
        rgb, m = gif_pixels(encode_gif_gray8(a.tobytes(), w, h))
        got = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)[:, :, 0]
        assert np.array_equal(got, a)

    check()


def test_animated_gif_frames_and_disposal():
    """gif_frames decodes every frame on the GCE-delay timeline;
    'restore to background' disposal refills the frame region after
    capture (the next frame starts from background, not the previous
    pixels)."""
    from prod2vec_spark.operators.gif import encode_gif_animated, gif_frames

    rng = np.random.RandomState(2)
    frames = [
        rng.randint(0, 256, (12, 16), dtype=np.uint8).tobytes()
        for _ in range(3)
    ]
    blob = encode_gif_animated(frames, 16, 12, delay_ms=80)
    got, m = gif_frames(blob)
    assert (m["n_frames"], m["delays_ms"]) == (3, [80, 80, 80])
    assert [g for g in got] == frames  # full-screen frames: exact
    # disposal=2: set the flag on frame 1's GCE; frame 2 is a PARTIAL
    # overlay so the disposed region shows background, not frame 1
    from prod2vec_spark.operators.gif import _lzw_encode
    import struct as _s

    partial = rng.randint(0, 256, (4, 6), dtype=np.uint8).tobytes()
    out = bytearray(blob[:-1])  # strip the trailing 0x3b trailer byte
    out += b"\x21\xf9\x04" + bytes([0]) + _s.pack("<H", 8) + b"\x00\x00"
    out += b"\x2c" + _s.pack("<HHHHB", 2, 3, 6, 4, 0)
    out.append(8)
    lz = _lzw_encode(8, partial)
    for i in range(0, len(lz), 255):
        c = lz[i : i + 255]
        out.append(len(c))
        out += c
    out += b"\x00\x3b"
    # flag disposal=2 on the THIRD frame's GCE (the one before partial
    # would matter; set it on frame 3 so the partial starts from bg)
    # find the 3rd GCE and set its disposal bits
    idx = -1
    for _ in range(3):
        idx = bytes(out).index(b"\x21\xf9\x04", idx + 1)
    out[idx + 3] |= 2 << 2
    got2, m2 = gif_frames(bytes(out))
    assert m2["n_frames"] == 4
    # the partial frame composites over BACKGROUND (index 0 -> gray 0)
    # everywhere outside its 6x4 region at (2,3)
    import numpy as _np

    last = _np.frombuffer(got2[3], dtype=_np.uint8).reshape(12, 16)
    assert (last[:3, :] == 0).all() and (last[:, :2] == 0).all()
    assert _np.array_equal(
        last[3:7, 2:8],
        _np.frombuffer(partial, dtype=_np.uint8).reshape(4, 6),
    )


def test_animated_gif_joins_the_frame_span_plane(spark):
    """An animated GIF embedding another clip's scene pairs in
    span_pairs(VIDEO_PLANE) (frame_hashes now dispatches GIF ≥2 frames), and
    a GIF scene embedded in an AVI host pairs CROSS-CONTAINER; static
    GIFs stay out of the frame plane (the image plane owns them)."""
    from prod2vec_spark.operators.gif import encode_gif_animated
    from prod2vec_spark.operators.multimodal import encode_avi_gray8
    from prod2vec_spark.operators.phash import (
        VIDEO_PLANE,
        frame_hashes,
        span_pairs,
    )

    rng = np.random.RandomState(5)

    def fr(n, seed):
        r = np.random.RandomState(seed)
        return [r.randint(0, 256, (24, 32), dtype=np.uint8).tobytes() for _ in range(n)]

    scene = fr(4, 1)
    rows = [
        (1, bytearray(encode_gif_animated(scene, 32, 24, delay_ms=250))),
        (2, bytearray(encode_avi_gray8(fr(3, 2) + scene + fr(2, 3), 32, 24, fps=4))),
        (3, bytearray(encode_gif_animated(fr(5, 9), 32, 24, delay_ms=250))),
        (4, bytearray(encode_gif_gray8(scene[0], 32, 24))),  # static
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    fh = frame_hashes(media, every_ms=250)
    ids = {r["media_id"] for r in fh.select("media_id").distinct().collect()}
    assert ids == {1, 2, 3}  # static GIF emits no frame rows
    got = {
        (r["id_a"], r["id_b"]): r["n_shared_frames"]
        for r in span_pairs(
            VIDEO_PLANE, media, every_ms=250, min_shared=2
        ).collect()
    }
    assert set(got) == {(1, 2)}, got
    assert got[(1, 2)] == 4  # the whole scene, cross-container


def test_animated_gif_transparency_composites_deltas():
    """ADVICE r13 (medium): GCE transparency — delta-coded frames mark
    unchanged pixels with the transparent index; compositing must keep
    the canvas pixel there, not draw the palette color."""
    from prod2vec_spark.operators.gif import encode_gif_animated, gif_frames

    rng = np.random.RandomState(7)
    base = rng.randint(0, 255, (12, 16), dtype=np.uint8)  # avoid 255
    # frame 2 changes only a 4x6 region; everything else transparent
    delta = np.full((12, 16), 255, dtype=np.uint8)
    patch = rng.randint(0, 255, (4, 6), dtype=np.uint8)
    delta[3:7, 2:8] = patch
    expected2 = base.copy()
    expected2[3:7, 2:8] = patch
    blob = encode_gif_animated(
        [base.tobytes(), delta.tobytes()], 16, 12, transparent_idx=255
    )
    got, m = gif_frames(blob)
    assert m["n_frames"] == 2
    assert np.array_equal(
        np.frombuffer(got[0], dtype=np.uint8).reshape(12, 16), base
    )
    assert np.array_equal(
        np.frombuffer(got[1], dtype=np.uint8).reshape(12, 16), expected2
    )


def test_gif_pixels_transparency_and_local_palette_bg():
    """ADVICE r13 (low): gif_pixels fills the background in RGB space
    from the GLOBAL table; a partial first frame with a LOCAL palette
    must not re-color the uncovered background, and transparent pixels
    leave the background visible."""
    import struct as _s

    from prod2vec_spark.operators.gif import _lzw_encode

    # global table: index 1 = (10, 200, 30); background index = 1
    out = bytearray(b"GIF89a")
    out += _s.pack("<HHBBB", 8, 8, 0x80 | 0x00, 1, 0)  # 2-entry GCT
    out += bytes((0, 0, 0)) + bytes((10, 200, 30))
    # GCE: transparency on, transparent index = 3
    out += b"\x21\xf9\x04" + bytes([0x01]) + _s.pack("<H", 10) + bytes([3, 0])
    # partial 4x4 frame at (2,2) with a 4-entry LOCAL palette
    out += b"\x2c" + _s.pack("<HHHHB", 2, 2, 4, 4, 0x80 | 0x01)
    out += bytes((255, 0, 0)) + bytes((0, 0, 255)) + bytes((7, 7, 7)) + bytes((9, 9, 9))
    idx = np.zeros((4, 4), dtype=np.uint8)
    idx[:, 2:] = 1  # right half blue
    idx[0, 0] = 3  # one TRANSPARENT pixel at frame (0,0) -> canvas (2,2)
    out.append(2)  # LZW min code size
    lz = _lzw_encode(2, idx.tobytes())
    for i in range(0, len(lz), 255):
        c = lz[i : i + 255]
        out.append(len(c))
        out += c
    out += b"\x00\x3b"
    rgb, m = gif_pixels(bytes(out))
    a = np.frombuffer(rgb, dtype=np.uint8).reshape(8, 8, 3)
    bg = np.array([10, 200, 30], dtype=np.uint8)
    # uncovered background = GLOBAL bg color (not local palette index 1)
    assert np.array_equal(a[0, 0], bg) and np.array_equal(a[7, 7], bg)
    # transparent pixel inside the frame shows the background
    assert np.array_equal(a[2, 2], bg)
    # opaque frame pixels map through the LOCAL palette
    assert np.array_equal(a[2, 3], np.array([255, 0, 0], dtype=np.uint8))
    assert np.array_equal(a[3, 4], np.array([0, 0, 255], dtype=np.uint8))
