"""Round-15 (VERDICT r14 ask #4): the lossless-WebP (VP8L) codec —
operators/webp.py — and its wiring through the image plane's shared
pixel door (phash.image_gray / media_hash), the media classifier, and
the format audit.  Beyond the encoder roundtrips, the transform and
entropy paths our minimal encoder does not emit (predictor, color
transform, color indexing, color cache, meta prefix groups) are
exercised through HAND-CRAFTED bitstreams, so the decoder's claim to
the spec's surface is test-backed, not encoder-shaped."""

from __future__ import annotations

import hashlib
import struct

import pytest

from prod2vec_spark.operators import phash as PH
from prod2vec_spark.operators.multimodal import (
    decode_blob,
    encode_png_gray8,
)
from prod2vec_spark.operators.webp import (
    _BitWriter,
    _Bits,
    _distance_map,
    _prefix_decode,
    _write_simple_code,
    encode_webp_lossless_gray8,
    webp_info,
    webp_pixels,
)


def _gray_bytes(tag: str, n: int) -> bytes:
    return b"".join(
        hashlib.md5(f"{tag}|{k}".encode()).digest() for k in range(n // 16 + 1)
    )[:n]


# --------------------------------------------------- encoder roundtrip


def test_roundtrip_literals_and_backrefs():
    raw = _gray_bytes("rt", 256)
    for use_br in (False, True):
        blob = encode_webp_lossless_gray8(raw, 16, 16, use_backrefs=use_br)
        rgb, meta = webp_pixels(blob)
        assert (meta["width"], meta["height"], meta["channels"]) == (16, 16, 3)
        assert rgb[0::3] == rgb[1::3] == rgb[2::3]
        assert bytes(rgb[0::3]) == raw


def test_backrefs_compress_runs_and_roundtrip():
    runs = bytes([7] * 50 + [200] * 30 + list(range(100)) + [7] * 76)
    br_blob = encode_webp_lossless_gray8(runs, 16, 16, use_backrefs=True)
    lit_blob = encode_webp_lossless_gray8(runs, 16, 16, use_backrefs=False)
    assert len(br_blob) < len(lit_blob)
    rgb, _ = webp_pixels(br_blob)
    assert bytes(rgb[0::3]) == runs


def test_non_square_and_single_pixel():
    raw = _gray_bytes("ns", 35)
    rgb, meta = webp_pixels(encode_webp_lossless_gray8(raw, 7, 5))
    assert (meta["width"], meta["height"]) == (7, 5)
    assert bytes(rgb[0::3]) == raw
    rgb, meta = webp_pixels(encode_webp_lossless_gray8(b"\x42", 1, 1))
    assert rgb == b"\x42\x42\x42"


# -------------------------------------------------- cross-codec parity


def test_png_webp_dhash_parity():
    """The ask's acceptance test: a PNG and a lossless-WebP encode of
    the SAME grayscale pixels hash bit-identically through the shared
    gray door — a WebP re-encode of a known image lands in the same
    banded bucket."""
    raw = _gray_bytes("parity", 256)
    png = encode_png_gray8(raw, 16, 16)
    webp = encode_webp_lossless_gray8(raw, 16, 16)
    h_png = PH.media_hash(bytes(png))[1]
    h_webp = PH.media_hash(webp)[1]
    assert h_png is not None and h_png == h_webp
    g = PH.image_gray(webp)
    assert g is not None and g.shape == (16, 16)


# ------------------------------------------- classifier / format audit


def test_classify_media_webp_classes():
    raw = _gray_bytes("cls", 256)
    good = encode_webp_lossless_gray8(raw, 16, 16)
    assert decode_blob(good)[:2] == ("webp", "decoded")
    # truncated VP8L payload -> corrupt, never mis-decoded
    assert decode_blob(good[:-10])[:2] == ("webp", "corrupt")
    # lossy VP8 chunk -> the remaining declared boundary
    vp8 = b"RIFF" + struct.pack("<I", 20) + b"WEBP" + b"VP8 " + struct.pack("<I", 8) + bytes(8)
    assert decode_blob(vp8)[:2] == ("webp", "unsupported_format")
    # the VP8L-decodable blob yields its 16x16 gray plane
    assert decode_blob(good).gray.shape == (16, 16)
    # a degenerate 8-byte lossy payload is structurally TRUNCATED (a
    # VP8 key-frame header needs >= 10 bytes): the header parser
    # rejects it; well-formed lossy headers parse
    # (test_decode_media_lossy_webp_feature_row)
    with pytest.raises(ValueError):
        webp_info(vp8)


def test_media_hashes_webp_joins_image_plane(spark):
    from prod2vec_spark.operators.phash import media_hashes

    raw = _gray_bytes("mh", 256)
    rows = [
        (1, bytearray(encode_png_gray8(raw, 16, 16))),
        (2, bytearray(encode_webp_lossless_gray8(raw, 16, 16))),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    got = {r["media_id"]: (r["modality"], r["mhash"]) for r in media_hashes(media).collect()}
    assert got[1][0] == got[2][0] == "image"
    assert got[1][1] == got[2][1] is not None


# ----------------------------------- hand-crafted transform bitstreams


def _wrap_riff(payload: bytes) -> bytes:
    out = b"RIFF" + struct.pack("<I", 4 + 8 + len(payload) + (len(payload) & 1))
    out += b"WEBP" + b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        out += b"\x00"
    return out


def _write_uniform_code(bw: _BitWriter, n8: int = 256, n9: int = 0) -> None:
    """A Kraft-exact code with n8 symbols at 8 bits then n9 at 9
    (n8·2⁻⁸ + n9·2⁻⁹ must equal 1: 256/0, 232/48 for the 280-symbol
    green alphabet, 216/80 for 296) — written through the normal
    code-length path.  With n9=0 the CL code is the degenerate
    single-symbol {8} (0 bits per length)."""
    bw.u(0, 1)  # not simple
    bw.u(19 - 4, 4)
    order = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
    cl = {8: 1, 9: 1} if n9 else {8: 1}
    for sym in order:
        bw.u(cl.get(sym, 0), 3)
    bw.u(0, 1)  # no cap
    if n9:
        for i in range(n8 + n9):
            bw.u(0 if i < n8 else 1, 1)
    # n9 == 0: every length is the 0-bit single CL symbol '8'


def _uniform_emit(bw: _BitWriter, sym: int, n8: int = 256) -> None:
    if sym < n8:
        bw.code(sym, 8)
    else:
        bw.code(2 * n8 + (sym - n8), 9)


def _header(bw: _BitWriter, w: int, h: int) -> None:
    bw.u(w - 1, 14)
    bw.u(h - 1, 14)
    bw.u(0, 1)
    bw.u(0, 3)


def _sub_image_constant(bw: _BitWriter, green: int, red: int = 0, blue: int = 0) -> None:
    """An entropy-coded sub-image whose every pixel is the same ARGB
    value — five single-symbol codes, 0 bits per pixel."""
    bw.u(0, 1)  # no cache
    _write_simple_code(bw, [green])
    _write_simple_code(bw, [red])
    _write_simple_code(bw, [blue])
    _write_simple_code(bw, [0])  # alpha
    _write_simple_code(bw, [0])  # distance


def test_predictor_transform_inverse():
    """PREDICTOR transform, one 4px tile of mode 2 (top) over a 4x4
    gray image; residuals computed per the spec's edge rules (L on
    row 0, T on column 0, ARGB black at the origin)."""
    w = h = 4
    gray = list(_gray_bytes("pred", 16))
    # forward residuals
    res = []
    for y in range(h):
        for x in range(w):
            v = gray[y * w + x]
            if x == 0 and y == 0:
                pa, pc = 0xFF, 0x00
            elif y == 0:
                pa, pc = 0xFF, gray[y * w + x - 1]
            else:  # x==0 or mode 2 both predict from T
                pa, pc = 0xFF, gray[(y - 1) * w + x]
            res.append(((0xFF - pa) & 0xFF, (v - pc) & 0xFF))
    bw = _BitWriter()
    _header(bw, w, h)
    bw.u(1, 1)
    bw.u(0, 2)  # PREDICTOR
    bw.u(2 - 2, 3)  # bits=2 -> one 4x4 tile
    _sub_image_constant(bw, green=2)  # mode 2 rides the green byte
    bw.u(0, 1)  # end transforms
    bw.u(0, 1)  # no cache
    bw.u(0, 1)  # no meta
    _write_uniform_code(bw, 232, 48)  # green+24 lengths
    _write_uniform_code(bw)  # red
    _write_uniform_code(bw)  # blue
    _write_uniform_code(bw)  # alpha
    _write_simple_code(bw, [0])  # distance
    for ra, rc in res:
        _uniform_emit(bw, rc, 232)  # green residual
        _uniform_emit(bw, rc)  # red residual (gray: same)
        _uniform_emit(bw, rc)  # blue
        _uniform_emit(bw, ra)  # alpha residual
    rgb, meta = webp_pixels(_wrap_riff(b"\x2f" + bw.done()))
    assert bytes(rgb[0::3]) == bytes(gray)
    assert rgb[0::3] == rgb[1::3] == rgb[2::3]


def test_color_transform_inverse():
    """COLOR transform with a constant element (green_to_red=80,
    green_to_blue=0, red_to_blue=36): forward-subtract the deltas,
    decode, expect the originals back."""
    w = h = 4
    g2r, r2b = 80, 36

    def s8(v):
        return v - 256 if v >= 128 else v

    def delta(t, c):
        return (s8(t) * s8(c)) >> 5

    pix = []
    raw = _gray_bytes("ct", 48)
    for i in range(16):
        r, g, b = raw[3 * i], raw[3 * i + 1], raw[3 * i + 2]
        pix.append((r, g, b))
    res = []
    for r, g, b in pix:
        rr = (r - delta(g2r, g)) & 0xFF
        bb = (b - delta(r2b, r)) & 0xFF  # g2b = 0
        res.append((rr, g, bb))
    bw = _BitWriter()
    _header(bw, w, h)
    bw.u(1, 1)
    bw.u(1, 2)  # COLOR
    bw.u(2 - 2, 3)
    # element pixel: blue byte = g2r, green byte = g2b, red byte = r2b
    _sub_image_constant(bw, green=0, red=r2b, blue=g2r)
    bw.u(0, 1)
    bw.u(0, 1)
    bw.u(0, 1)
    _write_uniform_code(bw, 232, 48)
    _write_uniform_code(bw)
    _write_uniform_code(bw)
    _write_simple_code(bw, [255])  # alpha
    _write_simple_code(bw, [0])
    for rr, g, bb in res:
        _uniform_emit(bw, g, 232)
        _uniform_emit(bw, rr)
        _uniform_emit(bw, bb)
    rgb, _ = webp_pixels(_wrap_riff(b"\x2f" + bw.done()))
    got = [(rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2]) for i in range(16)]
    assert got == pix


def test_color_indexing_bundled_palette():
    """COLOR_INDEXING with a 4-color palette: indices bundle 4-per-byte
    (width_bits=2) into a packed image of width 2; palette entries are
    delta-coded.  8x2 image of a known index pattern."""
    w, h = 8, 2
    palette = [(255, 10, 20, 30), (255, 200, 100, 50), (255, 0, 0, 0), (255, 90, 91, 92)]
    idx = [0, 1, 2, 3, 3, 2, 1, 0, 1, 1, 0, 0, 2, 2, 3, 3]
    bw = _BitWriter()
    _header(bw, w, h)
    bw.u(1, 1)
    bw.u(3, 2)  # COLOR_INDEXING
    bw.u(4 - 1, 8)  # palette size 4
    # palette sub-image: 4x1, delta-coded per channel
    deltas = []
    prev = (0, 0, 0, 0)
    for a, r, g, b in palette:
        deltas.append(((a - prev[0]) & 0xFF, (r - prev[1]) & 0xFF,
                       (g - prev[2]) & 0xFF, (b - prev[3]) & 0xFF))
        prev = (a, r, g, b)
    bw.u(0, 1)  # no cache in palette image
    _write_uniform_code(bw, 232, 48)  # green
    _write_uniform_code(bw)  # red
    _write_uniform_code(bw)  # blue
    _write_uniform_code(bw)  # alpha
    _write_simple_code(bw, [0])
    for a, r, g, b in deltas:
        _uniform_emit(bw, g, 232)
        _uniform_emit(bw, r)
        _uniform_emit(bw, b)
        _uniform_emit(bw, a)
    bw.u(0, 1)  # end transforms
    # main image: packed width 2, indices in the green byte
    bw.u(0, 1)
    bw.u(0, 1)
    _write_uniform_code(bw, 232, 48)
    _write_simple_code(bw, [0])
    _write_simple_code(bw, [0])
    _write_simple_code(bw, [255])
    _write_simple_code(bw, [0])
    for y in range(h):
        for xp in range(2):  # packed column
            packed = 0
            for k in range(4):
                packed |= idx[y * w + xp * 4 + k] << (2 * k)
            _uniform_emit(bw, packed, 232)
    rgb, meta = webp_pixels(_wrap_riff(b"\x2f" + bw.done()))
    assert (meta["width"], meta["height"]) == (w, h)
    got = [(rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2]) for i in range(w * h)]
    want = [palette[i][1:] for i in idx]
    assert got == want


def test_color_cache_roundtrip():
    """Color cache (4 bits): a literal pixel then a cache-symbol
    reference to it must reproduce the pixel; green alphabet grows to
    256+24+16."""
    w, h = 2, 1
    px_g = 123  # gray literal (alpha 255)
    argb = (255 << 24) | (px_g << 16) | (px_g << 8) | px_g
    cache_idx = ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - 4)
    bw = _BitWriter()
    _header(bw, w, h)
    bw.u(0, 1)  # no transforms
    bw.u(1, 1)  # cache on
    bw.u(4, 4)  # cache bits
    bw.u(0, 1)  # no meta
    _write_uniform_code(bw, 216, 80)  # 296-symbol green alphabet
    _write_uniform_code(bw)
    _write_uniform_code(bw)
    _write_simple_code(bw, [255])
    _write_simple_code(bw, [0])
    _uniform_emit(bw, px_g, 216)  # literal green
    _uniform_emit(bw, px_g)  # red
    _uniform_emit(bw, px_g)  # blue
    _uniform_emit(bw, 256 + 24 + cache_idx, 216)  # cache hit
    rgb, _ = webp_pixels(_wrap_riff(b"\x2f" + bw.done()))
    assert rgb == bytes([px_g] * 6)


def test_meta_prefix_groups():
    """META prefix image: an 8x4 image split into 4px tiles, tiles
    selecting group 0 (constant gray 10) or group 1 (constant 200)."""
    w, h = 8, 4
    bw = _BitWriter()
    _header(bw, w, h)
    bw.u(0, 1)  # no transforms
    bw.u(0, 1)  # no cache
    bw.u(1, 1)  # meta prefix on
    bw.u(2 - 2, 3)  # meta bits = 2 -> meta image 2x1
    # meta sub-image: pixel green byte = group index (red<<8|green)
    bw.u(0, 1)  # no cache
    _write_uniform_code(bw, 232, 48)
    _write_simple_code(bw, [0])
    _write_simple_code(bw, [0])
    _write_simple_code(bw, [0])
    _write_simple_code(bw, [0])
    _uniform_emit(bw, 0, 232)  # tile 0 -> group 0
    _uniform_emit(bw, 1, 232)  # tile 1 -> group 1
    for v in (10, 200):  # two groups, constant-pixel codes
        _write_simple_code(bw, [v])
        _write_simple_code(bw, [v])
        _write_simple_code(bw, [v])
        _write_simple_code(bw, [255])
        _write_simple_code(bw, [0])
    rgb, _ = webp_pixels(_wrap_riff(b"\x2f" + bw.done()))
    for y in range(h):
        for x in range(w):
            want = 10 if x < 4 else 200
            assert rgb[3 * (y * w + x)] == want, (x, y)


# ---------------------------------------------------------- internals


def test_distance_map_matches_spec_prefix():
    dm = _distance_map()
    assert len(dm) == 120
    assert dm[:12] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0),
        (1, 2), (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2),
    ]
    assert dm[-1][0] * dm[-1][0] + dm[-1][1] * dm[-1][1] == max(
        dx * dx + dy * dy for dx, dy in dm
    )


def test_prefix_decode_values():
    """Length/distance prefix decoding: codes 0-3 literal, then
    (2 + (code & 1)) << extra + extra bits + 1."""
    for code, want in ((0, 1), (1, 2), (2, 3), (3, 4)):
        assert _prefix_decode(code, _Bits(b"")) == want
    # code 4: 1 extra bit
    assert _prefix_decode(4, _Bits(b"\x00")) == 5
    assert _prefix_decode(4, _Bits(b"\x01")) == 6
    # code 13: 5 extra bits, offset 96 -> 24 extra = 121 (the
    # encoder's dist-1 escape: 121 - 120 = 1)
    assert _prefix_decode(13, _Bits(bytes([24]))) == 121


def test_corrupt_streams_raise():
    raw = _gray_bytes("bad", 256)
    good = encode_webp_lossless_gray8(raw, 16, 16)
    with pytest.raises(ValueError):
        webp_pixels(good[:20])  # truncated chunk
    with pytest.raises(ValueError):
        webp_pixels(b"RIFF" + good[4:8] + b"WAVE" + good[12:])
    bad_sig = bytearray(good)
    bad_sig[20] ^= 0xFF  # clobber inside the payload
    with pytest.raises(ValueError):
        webp_pixels(bytes(bad_sig[:21]))
    assert PH.media_hash(good[:-8])[1] is None  # auditable miss, no raise


def test_webp_crosscodec_neardup_query_self_audit(spark):
    """The round-15 superset entry: every emitted pair is
    within-family, cross-codec pairs exist (the PNG corpus pairs with
    its WebP re-shoots through the mixed-modality door), and the pair
    set equals the golden-hash replay computed directly from the
    fixtures."""
    import os

    import pyarrow.parquet as pq

    from prod2vec_spark.queries.media import q_webp_crosscodec_neardup
    from tests.conftest import SF_SMOKE

    rows = q_webp_crosscodec_neardup(spark, SF_SMOKE).collect()
    assert rows and all(r["same_family"] == 1 for r in rows)
    assert any(r["cross_codec"] == 1 for r in rows)
    # golden replay: banded candidates + hamming <= 3 over the fixture
    # hashes must give the exact same pair set
    fixdir = os.path.join(os.path.dirname(__file__), "fixtures")
    ids = {}
    for name, off in (("images", 0), ("webp", 1)):
        t = pq.read_table(os.path.join(fixdir, f"phash_pairs_{name}.parquet"))
        for m, h in zip(t["media_id"].to_pylist(), t["dhash"].to_pylist()):
            ids[m * 2 + off] = h & 0xFFFFFFFFFFFFFFFF
    import collections

    buckets = collections.defaultdict(list)
    for m, h in ids.items():
        for band in range(4):
            buckets[(band, (h >> (band * 16)) & 0xFFFF)].append(m)
    want = set()
    for members in buckets.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                x, y = min(a, b), max(a, b)
                if bin(ids[x] ^ ids[y]).count("1") <= 3:
                    want.add((x, y))
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert got == want


def test_webp_joins_the_tile_span_plane(spark):
    """image_tile_hashes accepts lossless-WebP blobs through the
    shared decode door: a WebP crop of a PNG original pairs in
    span_pairs(IMAGE_PLANE) — the cross-codec partial-image case, WebP
    edition (the GIF test's shape)."""
    import numpy as np

    from prod2vec_spark.operators.phash import IMAGE_PLANE, span_pairs

    base = np.random.RandomState(21).randint(0, 256, (48, 48), dtype=np.uint8)
    crop = np.ascontiguousarray(base[16:, 16:])
    other = np.random.RandomState(22).randint(0, 256, (48, 48), dtype=np.uint8)
    rows = [
        (1, bytearray(encode_png_gray8(base.tobytes(), 48, 48))),
        (2, bytearray(encode_webp_lossless_gray8(crop.tobytes(), 32, 32))),
        (3, bytearray(encode_webp_lossless_gray8(other.tobytes(), 48, 48))),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    got = {
        (r["id_a"], r["id_b"]): r["n_shared_tiles"]
        for r in span_pairs(IMAGE_PLANE, media, min_shared=4).collect()
    }
    assert set(got) == {(1, 2)}, got


def test_image_thumbnails_resize_all_codecs(spark):
    """Round-15 'resize' op: thumbnails decode through the shared
    image door (PNG/GIF/WebP here), downsample with the dHash cell
    geometry (exact parity with phash._area_resize), and re-encode as
    gray8 PNG; undecodable blobs yield NULL thumbs (auditable miss)."""
    import numpy as np

    from prod2vec_spark.operators.gif import encode_gif_gray8
    from prod2vec_spark.operators.multimodal import image_thumbnails, png_pixels
    from prod2vec_spark.operators.phash import _area_resize

    base = np.random.RandomState(31).randint(0, 256, (48, 48), dtype=np.uint8)
    rows = [
        (1, bytearray(encode_png_gray8(base.tobytes(), 48, 48))),
        (2, bytearray(encode_gif_gray8(base.tobytes(), 48, 48))),
        (3, bytearray(encode_webp_lossless_gray8(base.tobytes(), 48, 48))),
        (4, bytearray(b"not an image at all")),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    got = {r["media_id"]: r for r in image_thumbnails(media, 8, 8).collect()}
    want = np.clip(
        np.rint(_area_resize(base.astype(np.float64), 8, 8)), 0, 255
    ).astype(np.uint8)
    for mid, fmt in ((1, "png"), (2, "gif"), (3, "webp")):
        r = got[mid]
        assert (r["src_width"], r["src_height"], r["src_format"]) == (48, 48, fmt)
        px, hdr = png_pixels(bytes(r["thumb"]))
        assert (hdr["width"], hdr["height"]) == (8, 8)
        assert px == want.tobytes(), f"thumb pixels diverge for {fmt}"
    r = got[4]
    assert r["thumb"] is None and r["src_format"] is None
    # upscales repeat edge cells deterministically (no crash, exact dims)
    up = {r["media_id"]: r for r in image_thumbnails(media.where("media_id = 1"), 96, 64).collect()}
    px, hdr = png_pixels(bytes(up[1]["thumb"]))
    assert (hdr["width"], hdr["height"]) == (96, 64)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="positive"):
        image_thumbnails(media, 0, 8)


def test_thumb_goldens_match_live_chain():
    """Honesty lock: the persisted thumbnail digests must equal the
    live decode→resize→encode chain over the fixture blobs."""
    import hashlib
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from prod2vec_spark.operators.multimodal import encode_png_gray8
    from prod2vec_spark.operators.phash import _area_resize, image_gray

    fixdir = os.path.join(os.path.dirname(__file__), "fixtures")
    src = pq.read_table(os.path.join(fixdir, "phash_pairs_images.parquet"))
    gold = pq.read_table(os.path.join(fixdir, "thumb_goldens.parquet"))
    want = dict(zip(gold["media_id"].to_pylist(), gold["thumb_md5"].to_pylist()))
    for m, b in zip(src["media_id"].to_pylist(), src["blob"].to_pylist()):
        g = image_gray(b)
        px = np.clip(np.rint(_area_resize(g, 8, 8)), 0, 255).astype(np.uint8)
        thumb = bytes(encode_png_gray8(px.tobytes(), 8, 8))
        assert hashlib.md5(thumb).hexdigest() == want[m]


def test_image_thumbnails_runs_on_a_stream(spark, tmp_path):
    """The resize op is stream-safe as-is: mapInPandas runs unchanged
    on a readStream frame — per-batch thumbnails equal the batch
    operator's output over the same blobs (the media-stage streaming
    convention)."""
    import numpy as np

    from prod2vec_spark.operators.multimodal import image_thumbnails

    base = np.random.RandomState(41).randint(0, 256, (32, 32), dtype=np.uint8)
    rows = [
        (1, bytearray(encode_png_gray8(base.tobytes(), 32, 32))),
        (2, bytearray(encode_webp_lossless_gray8(base.tobytes(), 32, 32))),
        (3, bytearray(b"junk")),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    landing = str(tmp_path / "landing")
    media.coalesce(1).write.mode("overwrite").parquet(landing)
    out = str(tmp_path / "thumbs")
    stream = spark.readStream.schema("media_id long, blob binary").parquet(
        landing
    )
    q = (
        image_thumbnails(stream, 8, 8)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["media_id"]: (bytes(r["thumb"]) if r["thumb"] is not None else None,
                        r["src_format"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["media_id"]: (bytes(r["thumb"]) if r["thumb"] is not None else None,
                        r["src_format"])
        for r in image_thumbnails(media, 8, 8).collect()
    }
    assert got == want and got[3] == (None, None)
    assert got[1][0] == got[2][0] is not None  # cross-codec identical


# ------------------------- round-16: lossy header features (webp_info)
def make_lossy_webp(
    w: int,
    h: int,
    *,
    version: int = 2,
    show: bool = True,
    part_size: int = 17,
    upscale_w: int = 0,
    upscale_h: int = 0,
    extended: bool = False,
    alpha: bool = False,
    animated: bool = False,
    body: bytes = b"\x00" * 16,
) -> bytes:
    """Minimal VP8 key-frame container: RFC 6386 §9.1 frame tag +
    start code + 14-bit dims with 2-bit upscale codes (header only —
    webp_info never reads past it), optionally VP8X-wrapped."""
    tag3 = (0) | (version << 1) | (int(show) << 4) | (part_size << 5)
    hdr = (
        bytes([tag3 & 0xFF, (tag3 >> 8) & 0xFF, (tag3 >> 16) & 0xFF])
        + b"\x9d\x01\x2a"
        + struct.pack("<H", (upscale_w << 14) | w)
        + struct.pack("<H", (upscale_h << 14) | h)
        + body
    )
    chunks = b"VP8 " + struct.pack("<I", len(hdr)) + hdr
    if len(hdr) & 1:
        chunks += b"\x00"
    if extended:
        flags = (0x10 if alpha else 0) | (0x02 if animated else 0)
        x = bytes([flags, 0, 0, 0]) + struct.pack("<I", w - 1)[:3] + struct.pack("<I", h - 1)[:3]
        chunks = b"VP8X" + struct.pack("<I", len(x)) + x + chunks
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


def test_webp_info_lossy_key_frame_header():
    """Round-16 (VERDICT r15 'missing' #1 fallback): lossy VP8 blobs
    yield auditable header features — dims, frame-tag fields, upscale
    codes — while pixels stay the declared boundary."""
    from prod2vec_spark.operators.webp import webp_info

    inf = webp_info(
        make_lossy_webp(
            481, 270, version=3, show=True, part_size=1234,
            upscale_w=1, upscale_h=2,
        )
    )
    assert inf["variant"] == "lossy"
    assert (inf["width"], inf["height"]) == (481, 270)
    assert inf["vp8_version"] == 3 and inf["show_frame"] is True
    assert inf["first_partition_size"] == 1234
    assert (inf["upscale_w"], inf["upscale_h"]) == (1, 2)


def test_webp_info_extended_variants():
    from prod2vec_spark.operators.webp import webp_info

    ext = webp_info(make_lossy_webp(64, 48, extended=True, alpha=True))
    assert ext["variant"] == "extended-lossy"
    assert (ext["width"], ext["height"]) == (64, 48)
    assert ext["has_alpha"] is True and ext["animated"] is False
    anim = webp_info(make_lossy_webp(32, 32, extended=True, animated=True))
    assert anim["variant"] == "extended-animation"
    # lossless side: webp_info agrees with webp_pixels' own header
    from prod2vec_spark.operators.webp import encode_webp_lossless_gray8

    wl = bytes(encode_webp_lossless_gray8(bytes(range(12)), 4, 3))
    infl = webp_info(wl)
    assert infl["variant"] == "lossless"
    assert (infl["width"], infl["height"]) == (4, 3)


def test_webp_info_corrupt_headers_raise():
    import pytest as _pytest

    from prod2vec_spark.operators.webp import webp_info

    with _pytest.raises(ValueError, match="not a WebP"):
        webp_info(b"RIFF\x00\x00\x00\x00WAVE")
    # inter-frame first = structurally invalid still image
    bad = bytearray(make_lossy_webp(8, 8))
    off = bad.index(b"VP8 ") + 8
    bad[off] |= 1  # set the inter-frame bit
    with _pytest.raises(ValueError, match="key frame"):
        webp_info(bytes(bad))
    # bad start code
    bad2 = bytearray(make_lossy_webp(8, 8))
    bad2[bad2.index(b"\x9d\x01\x2a")] = 0x00
    with _pytest.raises(ValueError, match="start code"):
        webp_info(bytes(bad2))


def test_decode_media_lossy_webp_feature_row():
    """Lossy WebP: the key-frame header parses to real dims while the
    pixels remain the classified unsupported boundary."""
    blob = make_lossy_webp(320, 200)
    d = webp_info(blob)
    assert d["variant"] == "lossy"
    assert (d["width"], d["height"]) == (320, 200)
    # the decode door still reports the pixel boundary, with no pixels
    dec = decode_blob(blob)
    assert dec[:2] == ("webp", "unsupported_format") and dec.gray is None
    # structurally corrupt lossy header -> the header parser raises
    bad = bytearray(blob)
    bad[bad.index(b"\x9d\x01\x2a")] = 0x00
    with pytest.raises(ValueError):
        webp_info(bytes(bad))
