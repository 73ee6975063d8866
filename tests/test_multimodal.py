"""Multimodal plumbing: schema contract, Arrow batch shape, REAL
stdlib PNG/WAV decode with golden values, and the Spark-side dataflow
end-to-end."""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib

from pyspark.sql import functions as F

from prod2vec_spark.operators.multimodal import (
    PNG_SIG,
    attach_blobs,
    decode_blob,
    frame_sample_plan,
    media_format_rows,
    png_header,
    png_pixels,
    wav_samples,
)
from prod2vec_spark.sources.io import read_table
from tests.conftest import SF_SMOKE

REF_IMG = "/root/reference/Img"


# ------------------------------------------------- fixture encoders
# Independent, test-only PNG writer implementing the spec's filters
# FORWARD (the decoder reverses them) — a round-trip through every
# filter type is therefore a two-implementation cross-check, not a
# self-fulfilling assertion.
def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def make_png(width, height, rows, filters, channels=3, bit_depth=8):
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 0)
    bpp = max(1, channels * bit_depth // 8)
    raw = bytearray()
    prev = bytes(len(rows[0]))
    for row, f in zip(rows, filters):
        raw.append(f)
        line = bytearray(row)
        enc = bytearray()
        for i in range(len(line)):
            a = line[i - bpp] if i >= bpp else 0
            b, c = prev[i], (prev[i - bpp] if i >= bpp else 0)
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc.append((line[i] - pred) & 0xFF)
        raw += enc
        prev = line
    idat = zlib.compress(bytes(raw))
    return PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def make_wav(samples, sample_rate=8000, sampwidth=2, channels=1):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(sample_rate)
        fmt = {1: "B", 2: "h", 4: "i"}[sampwidth]
        w.writeframes(struct.pack(f"<{len(samples)}{fmt}", *samples))
    return buf.getvalue()


# ------------------------------------------------- decoder goldens
def test_png_decode_golden_all_filters():
    """3×2 RGB8 image with known pixel bytes, encoded with every
    filter-type combination: decode must reproduce the exact raw
    pixel bytes (digest) and header fields each time."""
    rows = [bytes([10, 20, 30, 40, 50, 60, 70, 80, 90]),
            bytes([15, 25, 35, 45, 55, 65, 75, 85, 95])]
    expected = hashlib.md5(b"".join(rows)).hexdigest()
    for filters in [(0, 0), (1, 2), (3, 4), (4, 4), (2, 3), (1, 4), (4, 1)]:
        px, hdr = png_pixels(make_png(3, 2, rows, filters))
        assert (hdr["width"], hdr["height"], hdr["bit_depth"], hdr["color_type"]) == (3, 2, 8, 2)
        assert hashlib.md5(px).hexdigest() == expected, filters
        assert abs(sum(px) / len(px) - (sum(b"".join(rows)) / 18)) < 1e-9


def test_png_decode_grayscale_and_rgba():
    gray = [bytes([0, 128, 255])]
    px, hdr = png_pixels(make_png(3, 1, gray, (4,), channels=1))
    assert (hdr["channels"], hdr["color_type"]) == (1, 0)
    assert hashlib.md5(px).hexdigest() == hashlib.md5(gray[0]).hexdigest()
    rgba = [bytes(range(16)), bytes(range(100, 116))]
    px, hdr = png_pixels(make_png(4, 2, rgba, (2, 4), channels=4))
    assert (hdr["channels"], hdr["color_type"]) == (4, 6)
    assert hashlib.md5(px).hexdigest() == hashlib.md5(b"".join(rgba)).hexdigest()


def test_png_decode_reference_assets():
    """The reference repo's own PNG assets (richjdowney/prod2vec
    Img/*.PNG) decode to their header dimensions with stable pixel
    digests — real images, not synthetic fixtures."""
    expected = {
        "peanut_butter.PNG": (1370, 48, "1a36fe0b6a6a72fd4ee7fad33db08a20"),
        "prod2vec_infrastructure.PNG": (914, 633, "2fa8425d840a1d2ca30df2f765f0c769"),
        "target_context_basket_example.PNG": (926, 521, "cc2672c66ee0f662ce3456a7921694b1"),
    }
    for name, (w, h, digest) in expected.items():
        blob = open(f"{REF_IMG}/{name}", "rb").read()
        hdr = png_header(blob)
        px, m = png_pixels(blob)
        assert (m["width"], m["height"]) == (hdr["width"], hdr["height"]) == (w, h)
        assert (m["bit_depth"], m["color_type"]) == (8, 6)
        assert hashlib.md5(px).hexdigest() == digest


def _rms(samples) -> float:
    return (sum(s * s for s in samples) / len(samples)) ** 0.5


def test_wav_decode_golden():
    """Square wave of amplitude 1000 → RMS exactly 1000; duration and
    rate from the container header."""
    samples, m = wav_samples(make_wav([1000, -1000] * 2000))
    assert (m["framerate"], m["n_channels"], m["sampwidth"] * 8) == (8000, 1, 16)
    assert m["n_frames"] / m["framerate"] * 1000.0 == 500.0
    assert _rms(samples) == 1000.0
    # 8-bit unsigned: constant 128 is digital silence (RMS 0)
    s8, m8 = wav_samples(make_wav([128] * 100, sample_rate=4000, sampwidth=1))
    assert (_rms(s8), m8["sampwidth"] * 8) == (0.0, 8)
    assert m8["n_frames"] / m8["framerate"] * 1000.0 == 25.0


def test_decode_media_dispatch():
    png = make_png(1, 1, [bytes([7, 8, 9])], (0,))
    assert decode_blob(png)[:2] == ("png", "decoded")
    assert decode_blob(make_wav([0] * 10))[:2] == ("wav", "decoded")
    assert decode_blob(b"opaque video bytes")[:2] == ("unknown", "unsupported_format")
    assert decode_blob(PNG_SIG + b"truncated")[:2] == ("png", "corrupt")
    assert decode_blob(b"RIFF\x00\x00\x00\x00WAVEjunk")[:2] == ("wav", "corrupt")


def test_feature_extraction_contract(spark):
    # spread=False: the id→text cross-check below slices a limit of
    # the raw scan — file-order-dependent by construction
    docs = read_table(spark, SF_SMOKE, "documents", spread=False).limit(50)
    media = attach_blobs(docs)
    rows_df = media_format_rows(media)
    rows = rows_df.collect()
    assert len(rows) == 50
    assert rows_df.schema.simpleString() == (
        "struct<media_id:bigint,fmt:string,status:string>"
    )
    assert {r["media_id"] for r in rows} == {r["doc_id"] for r in docs.collect()}
    for r in rows:  # text blobs are not media
        assert (r["fmt"], r["status"]) == ("unknown", "unsupported_format")


def test_extract_features_decodes_real_blobs(spark):
    """End-to-end through Spark: PNG, WAV, opaque and corrupt blobs in
    one DataFrame — the mapInPandas stage dispatches the real decoders
    per blob; the decoded payloads carry the per-format values."""
    rows = [bytes([10, 20, 30, 40, 50, 60]), bytes([1, 2, 3, 4, 5, 6])]
    png = make_png(2, 2, rows, (1, 4))
    wav = make_wav([500, -500] * 400, sample_rate=16000)
    data = [
        (1, "image", 2, 2, 0, bytearray(png)),
        (2, "audio", 0, 0, 50, bytearray(wav)),
        (3, "video", 0, 0, 1000, bytearray(b"\x00\x01opaque")),
        (4, "image", 9, 9, 0, bytearray(PNG_SIG + b"xx")),
    ]
    media = spark.createDataFrame(
        data, "media_id long, media_type string, width int, height int, "
        "duration_ms int, blob binary")
    out = {r["media_id"]: (r["fmt"], r["status"])
           for r in media_format_rows(media).collect()}
    assert out == {
        1: ("png", "decoded"),
        2: ("wav", "decoded"),
        3: ("unknown", "unsupported_format"),
        4: ("png", "corrupt"),
    }
    px, hdr = png_pixels(png)
    assert (hdr["width"], hdr["height"], hdr["bit_depth"]) == (2, 2, 8)
    assert hashlib.md5(px).hexdigest() == hashlib.md5(b"".join(rows)).hexdigest()
    d = decode_blob(png)
    assert d.gray.shape == (2, 2) and d.audio is None
    signal, rate = decode_blob(wav).audio
    assert (rate, signal.size / rate * 1000.0) == (16000, 50.0)
    assert _rms(signal) == 500.0


def test_metadata_filter_avoids_blob_read(spark):
    """Filters on metadata prune without touching blob bytes: the
    filtered plan's parquet ReadSchema must not include text (the blob
    source column) when only metadata is selected."""
    docs = read_table(spark, SF_SMOKE, "documents")
    media = attach_blobs(docs).filter(F.col("media_type") == "video").select(
        "media_id", "width", "height"
    )
    from prod2vec_spark.plans import read_schema_columns

    assert "text" not in read_schema_columns(media)


def test_frame_sample_plan(spark):
    docs = read_table(spark, SF_SMOKE, "documents", spread=False).limit(30)
    media = attach_blobs(docs)
    plan = frame_sample_plan(media, every_ms=10_000)
    rows = plan.collect()
    assert all(r["frame_ts_ms"] % 10_000 == 0 for r in rows)
    durations = {r["media_id"]: r["duration_ms"] for r in media.collect()}
    for r in rows:
        assert r["frame_ts_ms"] <= max(durations[r["media_id"]] - 1, 0)
    # every video with nonzero duration contributes frames
    vids = {m for m, d in durations.items() if m % 3 == 2}
    assert vids == {r["media_id"] for r in rows} | {m for m in vids if durations[m] == 0}
