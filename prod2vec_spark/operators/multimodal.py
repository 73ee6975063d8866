"""Multimodal column plumbing (ENGINE scope): image/audio/video as
opaque ``binary`` columns with a typed metadata struct, processed by
Arrow-batched ``mapInPandas`` stages.

Image, audio AND video decode are REAL, stdlib-only: a pure-Python
PNG decoder (``zlib`` inflate + per-scanline unfilter → the raw pixel
bytes plus IHDR metadata), a WAV decoder (``wave`` + ``struct``, PCM
or IMA-ADPCM → interleaved samples), and an AVI decoder (RIFF walk →
uncompressed BGR24 DIB frames or MJPEG '00dc' chunks baseline-JPEG-
decoded by operators/jpeg.py → grayscale frame buffers + fps; every
other compressed fourcc is rejected explicitly, not mis-decoded).

``decode_blob`` is the media plane's one decode door: ``sniff_format``
(the one magic-byte table) picks the format, one payload decode per
format yields a ``DecodedBlob`` record (format, status, modality, gray
plane, mono signal or frames), and every hash, span, thumbnail and
format-audit operator (here, operators/phash.py, queries/media.py)
reads what it needs from that record.

The Spark-side contract is real throughout: the
schema, the Pandas-UDF batch shape (iterator of DataFrames),
partition sizing, and the metadata pushdown-friendly layout (metadata
columns live OUTSIDE the blob so filters prune without touching
bytes).

Scale notes: blobs ride in parquet binary columns; filters on
media_type/width/duration prune row groups without decoding; the
mapInPandas stage is the one place row-at-a-time Python is justified
(per-blob codecs), batched through Arrow.  spark.sql.files.
maxPartitionBytes governs blob-scan partition sizing.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # numpy accelerates the AVI pixel paths (byte-identical results)
    # and holds decode_blob's gray planes and mono signals
    import numpy as _np
except Exception:  # pragma: no cover
    _np = None

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("blob", T.BinaryType()),
    ]
)

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def attach_blobs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Testdata adapter: manufacture deterministic binary blobs +
    metadata from the documents table so the plumbing is exercised
    end-to-end without real media files."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        (F.col("doc_id") % 640 + 64).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 48).cast("int").alias("height"),
        (F.col("doc_id") % 90000).cast("int").alias("duration_ms"),
        F.encode(F.col(text_col), "UTF-8").alias("blob"),
    )


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def png_header(blob: bytes) -> dict:
    """Parse just the IHDR chunk (no inflate) — cheap metadata probe
    for scans that only need dimensions."""
    if len(blob) < 29 or blob[:8] != PNG_SIG or blob[12:16] != b"IHDR":
        # the length guard keeps the contract ValueError on truncated
        # blobs (struct.unpack would raise struct.error otherwise)
        raise ValueError("not a PNG")
    width, height, bit_depth, color_type, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", blob[16:29]
    )
    if comp != 0 or filt != 0:
        raise ValueError("invalid PNG compression/filter method")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"invalid PNG color type {color_type}")
    return {
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "color_type": color_type,
        "channels": _PNG_CHANNELS[color_type],
        "interlace": interlace,
    }


def _png_unfilter(raw: bytes, stride: int, height: int, bpp: int) -> bytes:
    """Reverse the per-scanline PNG filters (spec §6: None/Sub/Up/
    Average/Paeth).  Filters are byte-wise with a ``bpp``-byte
    lookback, so this works for every bit depth / color type."""
    out = bytearray(stride * height)
    prev = bytes(stride)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        if len(line) != stride:
            raise ValueError("truncated PNG scanline")
        pos += stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa = p - a if p > a else a - p
                pb = p - b if p > b else b - p
                pc = p - c if p > c else c - p
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                line[i] = (line[i] + pr) & 0xFF
        elif ftype != 0:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return bytes(out)


def encode_png_gray8(pixels: bytes, width: int, height: int) -> bytes:
    """Minimal stdlib PNG ENCODER: 8-bit grayscale, filter-0 scanlines,
    one IDAT.  The write half of the codec boundary — lets pipelines
    materialize deterministic image fixtures/thumbnails without any
    imaging dependency, and round-trips exactly through png_pixels."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match width*height")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = bytearray()
    for y in range(height):
        raw.append(0)  # filter type None
        raw += pixels[y * width : (y + 1) * width]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def png_pixels(blob: bytes) -> tuple[bytes, dict]:
    """Chunk walk → IDAT inflate → scanline unfilter: the reconstructed
    raw pixel bytes plus the IHDR metadata: the PNG decode behind
    ``decode_blob`` (the gray plane the perceptual hashes read).
    Non-interlaced images only (Adam7 is rejected explicitly, not
    silently mis-decoded); every bit depth and color type in the spec
    is handled because PNG filtering is byte-wise."""
    hdr = png_header(blob)
    if hdr["interlace"] != 0:
        raise ValueError("interlaced (Adam7) PNG not supported")
    idat = bytearray()
    pos = 8
    while pos + 8 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        ctype = blob[pos + 4 : pos + 8]
        if ctype == b"IDAT":
            idat += blob[pos + 8 : pos + 8 + length]
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc
    raw = zlib.decompress(bytes(idat))
    bits_per_pixel = hdr["channels"] * hdr["bit_depth"]
    stride = (hdr["width"] * bits_per_pixel + 7) // 8
    bpp = max(1, bits_per_pixel // 8)
    if len(raw) != (stride + 1) * hdr["height"]:
        raise ValueError("PNG pixel payload size mismatch")
    return _png_unfilter(raw, stride, hdr["height"], bpp), hdr


# IMA/DVI ADPCM (WAVE format tag 0x0011) — the compressed-audio twin
# of the MJPEG branch (round-11): 4-bit nibbles with the standard
# 89-entry step table, block-structured with a (predictor, step
# index) header per block.  Python's ``wave`` module reads PCM only,
# so the ADPCM path parses the RIFF container itself.
_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA ADPCM state update: returns (new predictor, new index).
    Shared verbatim by encode (which feeds its own chosen nibble back)
    and decode, so both sides track identical state."""
    step = _IMA_STEPS[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    if nibble & 8:
        diff = -diff
    pred = max(-32768, min(32767, pred + diff))
    index = max(0, min(88, index + _IMA_INDEX[nibble & 7]))
    return pred, index


def encode_wav_adpcm(
    samples, sample_rate: int = 8000, block_align: int = 256
) -> bytes:
    """Mono IMA-ADPCM WAV ENCODER (format tag 0x0011): 4 bits per
    sample after the first of each block — 4x smaller than PCM16.
    Lossy (step-adaptive delta quantization), so tests bound sample
    error rather than pinning bytes.  Each ``block_align``-byte block
    carries 1 + (block_align-4)*2 samples; a fact chunk records the
    true sample count so the decoder drops block padding exactly."""
    if block_align < 8 or block_align % 2:
        # <8 would make spb<=7 with a 4-byte header dominating (and <5
        # makes spb<=0: a range step of 0/negative silently emits an
        # empty data chunk while fact still records len(samples)); odd
        # aligns break the exact nibble-padding arithmetic — reject
        # loudly, mirroring the other codecs' contracts
        raise ValueError(f"block_align must be even and >= 8, got {block_align}")
    samples = list(samples)
    spb = 1 + (block_align - 4) * 2  # samples per block
    blocks = bytearray()
    index = 0
    for b0 in range(0, max(len(samples), 1), spb):
        chunk = samples[b0 : b0 + spb]
        pred = max(-32768, min(32767, int(chunk[0]))) if chunk else 0
        blocks += struct.pack("<hBB", pred, index, 0)
        nibbles = []
        for s in chunk[1:]:
            s = max(-32768, min(32767, int(s)))
            step = _IMA_STEPS[index]
            delta = s - pred
            n = 0
            if delta < 0:
                n = 8
                delta = -delta
            if delta >= step:
                n |= 4
                delta -= step
            if delta >= step >> 1:
                n |= 2
                delta -= step >> 1
            if delta >= step >> 2:
                n |= 1
            pred, index = _ima_step(pred, index, n)
            nibbles.append(n)
        nibbles += [0] * ((block_align - 4) * 2 - len(nibbles))  # pad block
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            blocks.append(lo | (hi << 4))
    spb_rate = max(1, sample_rate * block_align // spb)  # avg bytes/sec
    fmt = struct.pack(
        "<HHIIHHHH", 0x0011, 1, sample_rate, spb_rate, block_align, 4, 2, spb
    )
    fact = struct.pack("<I", len(samples))
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _adpcm_samples(blob: bytes) -> tuple[tuple, dict]:
    """Decode a mono IMA-ADPCM WAV: RIFF walk → fmt/fact/data → per
    block (predictor, index) header + low-then-high nibbles, truncated
    to the fact chunk's true sample count."""
    fmt = fact = data = None
    for fourcc, p, ln in _riff_chunks(blob, 12, 8 + struct.unpack("<I", blob[4:8])[0]):
        if fourcc == b"fmt " and fmt is None:
            fmt = blob[p : p + ln]
        elif fourcc == b"fact" and fact is None:
            fact = blob[p : p + ln]
        elif fourcc == b"data" and data is None:
            data = blob[p : p + ln]
    if fmt is None or len(fmt) < 16 or data is None:
        raise ValueError("missing WAV chunks")
    tag, n_channels, framerate, _, block_align, bits = struct.unpack(
        "<HHIIHH", fmt[:16]
    )
    if tag != 0x0011 or bits != 4:
        raise ValueError(f"unsupported WAV format tag {tag}")
    if n_channels != 1:
        raise ValueError("only mono IMA-ADPCM is supported")
    out: list[int] = []
    for b0 in range(0, len(data), block_align):
        block = data[b0 : b0 + block_align]
        if len(block) < 4:
            raise ValueError("truncated ADPCM block")
        pred, index, _ = struct.unpack("<hBB", block[:4])
        index = max(0, min(88, index))
        out.append(pred)
        for byte in block[4:]:
            for n in (byte & 0x0F, byte >> 4):
                pred, index = _ima_step(pred, index, n)
                out.append(pred)
    n_frames = struct.unpack("<I", fact[:4])[0] if fact and len(fact) >= 4 else len(out)
    out = out[:n_frames]
    meta = {
        "n_channels": 1,
        "sampwidth": 2,  # decoded width; on-wire depth is 4 bits
        "framerate": framerate,
        "n_frames": n_frames,
        "codec": "ima_adpcm",
    }
    return tuple(out), meta


def _wav_format_tag(blob: bytes) -> int:
    """Cheap fmt-chunk probe (no sample decode) to dispatch PCM vs
    ADPCM before ``wave`` (which rejects anything non-PCM)."""
    try:
        end = 8 + struct.unpack("<I", blob[4:8])[0]
        for fourcc, p, ln in _riff_chunks(blob, 12, end):
            if fourcc == b"fmt " and ln >= 2:
                return struct.unpack("<H", blob[p : p + 2])[0]
    except (struct.error, IndexError):
        pass
    return 1  # assume PCM; wave raises its own error on garbage


def wav_samples(blob: bytes) -> tuple[tuple, dict]:
    """The WAV decode behind ``decode_blob`` (audio fingerprinting and
    resampling): interleaved signed samples plus the stream metadata.
    PCM via the stdlib ``wave`` module; IMA-ADPCM (round-11) via the
    block decoder above — same (samples, meta) contract either way."""
    if _wav_format_tag(blob) == 0x0011:
        return _adpcm_samples(blob)
    with wave.open(io.BytesIO(blob), "rb") as w:
        n_channels = w.getnchannels()
        sampwidth = w.getsampwidth()
        framerate = w.getframerate()
        n_frames = w.getnframes()
        frames = w.readframes(n_frames)
    n = len(frames) // sampwidth
    if sampwidth == 1:  # unsigned 8-bit, centered at 128
        samples = tuple(b - 128 for b in frames[:n])
    elif sampwidth == 2:
        samples = struct.unpack(f"<{n}h", frames[: n * 2])
    elif sampwidth == 4:
        samples = struct.unpack(f"<{n}i", frames[: n * 4])
    else:
        raise ValueError(f"unsupported WAV sample width {sampwidth}")
    meta = {
        "n_channels": n_channels,
        "sampwidth": sampwidth,
        "framerate": framerate,
        "n_frames": n_frames,
        "codec": "pcm",
    }
    return samples, meta


def encode_wav_pcm16(samples, sample_rate: int = 8000, n_channels: int = 1) -> bytes:
    """Minimal stdlib WAV ENCODER (PCM 16-bit LE): the write half of
    the audio codec boundary — deterministic fixtures/sinks with no
    audio dependency, exact roundtrip through ``wav_samples``."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def encode_avi_gray8(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Minimal stdlib AVI ENCODER: RIFF/AVI container with uncompressed
    24-bit BGR DIB frames ('00db' chunks, bottom-up rows, 4-byte-padded
    stride — the BI_RGB layout every AVI reader accepts), written from
    8-bit grayscale top-down frame buffers (B=G=R).  The write half of
    the video codec boundary: deterministic fixtures with no video
    dependency, exact grayscale roundtrip through ``avi_frames``."""
    if fps <= 0:
        raise ValueError("fps must be positive")
    for f in frames:
        if len(f) != width * height:
            raise ValueError("frame buffer does not match width*height")
    stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (stride - width * 3)

    def dib(frame: bytes) -> bytes:
        if _np is not None:  # vectorized fast path, byte-identical
            a = _np.frombuffer(frame, dtype=_np.uint8).reshape(height, width)
            bgr = _np.repeat(a[::-1], 3, axis=1)  # bottom-up; B=G=R=gray
            if stride > width * 3:
                padded = _np.zeros((height, stride), dtype=_np.uint8)
                padded[:, : width * 3] = bgr
                return padded.tobytes()
            return bgr.tobytes()
        rows = []
        for y in range(height - 1, -1, -1):  # bottom-up
            row = frame[y * width : (y + 1) * width]
            rows.append(bytes(v for px in row for v in (px, px, px)) + pad)
        return b"".join(rows)

    return _avi_container(
        [dib(f) for f in frames], width, height, fps,
        handler=b"DIB ", compression=0, chunk_id=b"00db",
        bufsize=stride * height,
    )


_MJPG_FOURCC = struct.unpack("<I", b"MJPG")[0]


def encode_avi_mjpeg(
    frames: list[bytes], width: int, height: int, fps: int = 10,
    quality: int = 90,
) -> bytes:
    """MJPEG (JPEG-in-AVI) ENCODER: each top-down grayscale frame is
    baseline-JPEG-compressed (operators/jpeg.py) into a '00dc' chunk;
    strh fccHandler and strf biCompression carry the 'MJPG' fourcc.
    The compressed write half of the round-11 video codec boundary —
    lossy (DCT quantization), unlike ``encode_avi_gray8``'s exact
    roundtrip, so tests bound pixel error instead of pinning bytes."""
    if fps <= 0:
        raise ValueError("fps must be positive")
    from prod2vec_spark.operators.jpeg import encode_jpeg_gray

    payloads = [
        encode_jpeg_gray(f, width, height, quality=quality) for f in frames
    ]
    return _avi_container(
        payloads, width, height, fps,
        handler=b"MJPG", compression=_MJPG_FOURCC, chunk_id=b"00dc",
        bufsize=max((len(p) for p in payloads), default=0),
    )


def _avi_container(
    payloads: list[bytes], width: int, height: int, fps: int,
    handler: bytes, compression: int, chunk_id: bytes, bufsize: int,
) -> bytes:
    """Assemble the RIFF/AVI container around ready per-frame payloads
    — shared by the uncompressed-DIB and MJPEG encoders."""

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        out = fourcc + struct.pack("<I", len(data)) + data
        return out + (b"\x00" if len(data) % 2 else b"")

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps,          # dwMicroSecPerFrame
        bufsize * fps,             # dwMaxBytesPerSec
        0,                         # dwPaddingGranularity
        0,                         # dwFlags
        len(payloads),             # dwTotalFrames
        0,                         # dwInitialFrames
        1,                         # dwStreams
        bufsize,                   # dwSuggestedBufferSize
        width,
        height,
        0, 0, 0, 0,                # dwReserved
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIi4H",
        b"vids", handler,
        0, 0, 0, 0,                # flags, priority, language, initial
        1, fps,                    # dwScale, dwRate -> fps frames/sec
        0, len(payloads),          # dwStart, dwLength (frames)
        bufsize, 0, -1,            # bufsize, quality, sample size
        0, 0, width & 0xFFFF, height & 0xFFFF,  # rcFrame
    )
    strf = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 24, compression,  # BITMAPINFOHEADER
        bufsize, 0, 0, 0, 0,
    )

    def lst(listtype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", listtype + payload)

    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(chunk_id, p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _riff_chunks(data: bytes, pos: int, end: int):
    """Walk sibling RIFF chunks in data[pos:end] — yields
    (fourcc, payload_start, payload_len)."""
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        yield fourcc, pos + 8, length
        pos += 8 + length + (length & 1)  # chunks are even-aligned


def avi_frames(blob: bytes) -> tuple[list[bytes], dict]:
    """Real stdlib-only AVI decode: RIFF walk → avih/strh/strf headers
    → '00db'/'00dc' frame chunks in the 'movi' list (including nested
    'rec ' groups) → bottom-up padded BGR24 rows → top-down 8-bit
    grayscale frame buffers (integer BT.601 luma: exact identity on
    gray-encoded B=G=R frames).  Returns (frames, meta).  Accepted:
    uncompressed 24-bit BI_RGB, and (round-11) MJPEG — each frame
    chunk is a baseline JPEG whose Y plane IS the luma buffer the
    rest of the video plane consumes.  Every other compressed fourcc
    raises rather than mis-decodes (same contract as interlaced
    PNG)."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    avih = strh = strf = None
    frame_chunks: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal avih, strh, strf
        for fourcc, p, ln in _riff_chunks(blob, pos, end):
            if p + ln > len(blob):
                raise ValueError("truncated AVI chunk")
            if fourcc == b"LIST":
                walk(p + 4, p + ln)  # skip the list-type fourcc
            elif fourcc == b"avih":
                avih = blob[p : p + ln]
            elif fourcc == b"strh" and strh is None:
                strh = blob[p : p + ln]
            elif fourcc == b"strf" and strf is None:
                strf = blob[p : p + ln]
            elif fourcc[2:] in (b"db", b"dc") and fourcc[:2].isdigit():
                frame_chunks.append(blob[p : p + ln])

    walk(12, 8 + struct.unpack("<I", blob[4:8])[0])
    if avih is None or len(avih) < 40 or strf is None or len(strf) < 20:
        raise ValueError("missing AVI headers")
    width, height = struct.unpack("<II", avih[32:40])
    bit_count, compression = struct.unpack("<HI", strf[14:20])
    if compression == _MJPG_FOURCC:
        codec = "mjpg"
    elif compression == 0 and bit_count == 24:
        codec = "raw"
    else:
        raise ValueError(
            f"unsupported AVI codec (biBitCount={bit_count}, "
            f"biCompression={compression}); only uncompressed BGR24 "
            f"or MJPG"
        )
    scale, rate = (1, 0)
    if strh is not None and len(strh) >= 28 and strh[:4] == b"vids":
        scale, rate = struct.unpack("<II", strh[20:28])
    fps = (rate / scale) if scale and rate else 0.0
    stride = (width * 3 + 3) & ~3
    frames = []
    if codec == "mjpg":  # hoisted: the loop body runs per frame
        from prod2vec_spark.operators.jpeg import decode_jpeg_gray
    for data in frame_chunks:
        if codec == "mjpg":
            gray, fw, fh = decode_jpeg_gray(data)
            if (fw, fh) != (width, height):
                raise ValueError("MJPEG frame dimensions disagree with AVI header")
            frames.append(gray)
            continue
        if len(data) != stride * height:
            raise ValueError("AVI frame payload size mismatch")
        if _np is not None:  # vectorized fast path, byte-identical
            a = (
                _np.frombuffer(data, dtype=_np.uint8)
                .reshape(height, stride)[:, : width * 3]
                .astype(_np.int32)
                .reshape(height, width, 3)
            )
            g = (
                (299 * a[:, :, 2] + 587 * a[:, :, 1] + 114 * a[:, :, 0]) // 1000
            ).astype(_np.uint8)
            frames.append(g[::-1].tobytes())  # bottom-up -> top-down
            continue
        rows = []
        for y in range(height - 1, -1, -1):  # bottom-up -> top-down
            row = data[y * stride : y * stride + width * 3]
            rows.append(
                bytes(
                    (299 * row[3 * x + 2] + 587 * row[3 * x + 1] + 114 * row[3 * x])
                    // 1000
                    for x in range(width)
                )
            )
        frames.append(b"".join(rows))
    meta = {
        "width": int(width),
        "height": int(height),
        "n_frames": len(frames),
        "fps": fps,
        "bit_count": int(bit_count),
        "codec": codec,
    }
    return frames, meta


def avi_frame_samples(
    n_frames: int, fps: float, every_ms: int
) -> list[tuple[int, int]]:
    """(frame_ts_ms, frame_idx) per ``every_ms`` of real clip time:
    idx = floor(ts·fps/1000), clamped to the last frame; empty for a
    clip without frames or fps.  The one ts→index sampling of the AVI
    frame plane (``decode_frames``, ``phash.frame_hashes``)."""
    if not n_frames or not fps:
        return []
    duration_ms = n_frames / fps * 1000.0
    out, ts = [], 0
    while ts < duration_ms:
        out.append((ts, min(n_frames - 1, int(ts * fps / 1000.0))))
        ts += every_ms
    return out


def decode_frames(
    media: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
    blob_col: str = "blob",
) -> DataFrame:
    """The decode stage behind ``frame_sample_plan``: sample one frame
    per ``every_ms`` of real clip time from uncompressed-AVI blobs and
    emit (media_id, frame_ts_ms, frame_idx, frame_digest, mean_pixel)
    per sampled frame — each clip decoded ONCE per task, frames picked
    by :func:`avi_frame_samples`.  Arrow-batched mapInPandas; rows
    whose blob isn't decodable AVI emit no frames (the miss is
    auditable upstream via media_format_rows' status column)."""
    if every_ms <= 0:
        raise ValueError(f"every_ms must be positive, got {every_ms}")
    src = media.select(id_col, blob_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                id_col: [], "frame_ts_ms": [], "frame_idx": [],
                "frame_digest": [], "mean_pixel": [],
            }
            for mid, b in zip(pdf[id_col], pdf[blob_col]):
                video = decode_blob(b).video if sniff_format(b) == "avi" else None
                if video is None:
                    continue
                frames, m = video
                for ts, idx in avi_frame_samples(len(frames), m["fps"], every_ms):
                    f = frames[idx]
                    out[id_col].append(mid)
                    out["frame_ts_ms"].append(ts)
                    out["frame_idx"].append(idx)
                    out["frame_digest"].append(hashlib.md5(f).hexdigest())
                    out["mean_pixel"].append(sum(f) / len(f) if f else 0.0)
            yield pd.DataFrame(out)

    return src.mapInPandas(
        run,
        schema=(
            f"{id_col} long, frame_ts_ms long, frame_idx int, "
            "frame_digest string, mean_pixel double"
        ),
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled frame
    timestamp.  Pure expression — the frame plan explodes server-side,
    and only the planned (media_id, frame_ts) pairs reach the decode
    stage (``decode_frames`` / ``operators/phash.frame_hashes`` for
    AVI blobs)."""
    return (
        media.filter(F.col("media_type") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )


# ---------------------------------------------- the media decode door
# Every media operator reads a blob through ``decode_blob``: one
# magic-byte sniff (``sniff_format``) picks the format, and one decode
# per decodable format yields the record the hash, span, thumbnail and
# format-audit planes all read, so they can never disagree about what
# decodes.  ``status`` classifies WHY a blob yields no pixels or
# samples: decoded / corrupt (recognized container, codec failed) /
# unsupported_format (a format the engine DECLARES out of stdlib
# scope — WebP's lossy VP8 payloads, arithmetic-coded or lossless
# JPEG, the header-only mp4/flac/ogg/aac/mp3 containers, unknown
# magic).  At crawl scale the unsupported share is the operator's
# blind spot; media_format_audit makes it a per-format count.

MEDIA_STATUS = ("decoded", "corrupt", "unsupported_format")

# JPEG SOF markers the stdlib decoder does NOT implement: arithmetic
# coding (C9/CA/CB) and lossless/differential modes (C3/C5/C6/C7/CD/
# CE/CF).  Baseline C0/C1 and progressive C2 are supported.
_JPEG_UNSUPPORTED_SOF = frozenset(
    (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)


def _jpeg_unsupported_mode(blob: bytes) -> bool:
    """Walk JPEG marker segments (lengths skip entropy-free headers)
    up to SOS; True when a frame marker is a declared-unsupported
    mode.  A malformed walk returns False — the decode attempt then
    classifies the blob as corrupt."""
    pos = 2
    n = len(blob)
    while pos + 4 <= n:
        if blob[pos] != 0xFF:
            return False
        marker = blob[pos + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # standalone
            pos += 2
            continue
        if marker in _JPEG_UNSUPPORTED_SOF:
            return True
        if marker == 0xDA:  # SOS — entropy data follows
            return False
        seg = int.from_bytes(blob[pos + 2 : pos + 4], "big")
        if seg < 2:
            return False
        pos += 2 + seg
    return False


# the six formats with a payload decoder, by modality; every other
# sniffed format is a header-only container (modality None)
_MODALITY = {
    "png": "image", "jpeg": "image", "gif": "image", "webp": "image",
    "wav": "audio", "avi": "video",
}


def sniff_format(blob) -> str:
    """Container label from magic bytes ALONE — no decode; the one
    magic-byte table of the media plane.  ``mp3`` is an ID3 prefix,
    ``mpeg`` a bare MPEG-audio frame sync: a weak magic that
    ``decode_blob`` resolves to aac, mp3 or unknown by parsing a frame
    header."""
    bb = bytes(blob) if isinstance(blob, (bytes, bytearray)) else b""
    if bb.startswith(PNG_SIG):
        return "png"
    if bb[:2] == b"\xff\xd8":
        return "jpeg"
    if bb[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if bb[:4] == b"RIFF" and bb[8:12] == b"WEBP":
        return "webp"
    if bb[:4] == b"RIFF" and bb[8:12] == b"WAVE":
        return "wav"
    if bb[:4] == b"RIFF" and bb[8:12] == b"AVI ":
        return "avi"
    if len(bb) >= 12 and bb[4:8] == b"ftyp":
        return "mp4"
    if bb[:4] == b"fLaC":
        return "flac"
    if bb[:4] == b"OggS":
        return "ogg"
    if bb[:3] == b"ID3":
        return "mp3"
    if len(bb) >= 4 and bb[0] == 0xFF and (bb[1] & 0xE0) == 0xE0:
        return "mpeg"
    return "unknown"


def sniff_modality(blob) -> "str | None":
    """image / audio / video for a blob whose sniffed format has a
    payload decoder, else None — the gate the per-modality doors
    check before they decode anything."""
    return _MODALITY.get(sniff_format(blob))


class DecodedBlob(NamedTuple):
    """One blob through :func:`decode_blob`.  ``fmt`` / ``status`` are
    the format-audit pair; ``modality`` is set for the six decodable
    formats whatever their status.  At most one payload field is set:
    ``gray`` the (h, w) float64 luma plane of an 8-bit image,
    ``audio`` (channel-mean mono float64 signal, sample rate > 0),
    ``video`` (top-down gray8 frames, ``avi_frames`` meta)."""

    fmt: str
    status: str
    modality: "str | None" = None
    gray: object = None
    audio: object = None
    video: object = None


def _gray(pixels: bytes, m: dict):
    """(height, width) float64 luminance from raw 8-bit pixel bytes
    (channel-mean; alpha participates like any channel — identical
    images keep identical grays, which is all dHash needs, and a
    gray palette's r=g=b re-encodes hash bit-identically)."""
    a = _np.frombuffer(pixels, dtype=_np.uint8)
    a = a.reshape(m["height"], m["width"], m["channels"])
    return a.mean(axis=2, dtype=_np.float64)


def _mono(samples, n_channels: int):
    """Channel-mean mono float64 signal of interleaved samples."""
    a = _np.asarray(samples, dtype=_np.float64)
    if n_channels > 1:
        a = a[: (len(a) // n_channels) * n_channels]
        a = a.reshape(-1, n_channels).mean(axis=1)
    return a


def _container_status(fmt: str, bb: bytes) -> "tuple[str, str]":
    """(format, status) of a header-only container: the metadata walk
    parses → unsupported_format (the payload codec is out of scope),
    fails → corrupt.  A bare frame sync claims aac/mp3 only when a
    full frame header parses (ADTS first: its layer bits are 00, which
    mp3_info rejects, so the two never both claim), else it is unknown
    rather than mislabeled arbitrary bytes."""
    from prod2vec_spark.operators import mediainfo

    mpeg = [("aac", mediainfo.adts_info), ("mp3", mediainfo.mp3_info)]
    walks = {
        "mp4": [("mp4", mediainfo.mp4_info)],
        "flac": [("flac", mediainfo.flac_info)],
        "ogg": [("ogg", mediainfo.ogg_info)],
        "mp3": mpeg,
        "mpeg": mpeg,
    }
    for label, walk in walks.get(fmt, ()):
        try:
            walk(bb)
            return label, "unsupported_format"
        except Exception:
            pass
    if fmt in ("mp4", "flac", "ogg", "mp3"):  # strong magic, bad walk
        return fmt, "corrupt"
    return "unknown", "unsupported_format"


def decode_blob(blob) -> DecodedBlob:
    """Sniff one blob and run its ONE payload decode: PNG (8-bit
    planes; other depths decode without a gray plane), JPEG (baseline
    or progressive), GIF (first frame), lossless WebP, WAV (PCM or
    IMA-ADPCM; a zero sample rate decodes without a signal) or AVI
    (raw BGR24 or MJPEG).  Header-only containers get their metadata
    walk and no payload field."""
    bb = bytes(blob) if isinstance(blob, (bytes, bytearray)) else b""
    fmt = sniff_format(bb)
    modality = _MODALITY.get(fmt)
    if modality is None:
        return DecodedBlob(*_container_status(fmt, bb))
    if _np is None:  # pragma: no cover - numpy is baked into the env
        raise RuntimeError("decode_blob needs numpy")
    from prod2vec_spark.operators.gif import gif_pixels
    from prod2vec_spark.operators.jpeg import decode_jpeg_gray
    from prod2vec_spark.operators.webp import _vp8l_payload, webp_pixels

    gray = audio = video = None
    try:
        if fmt == "png":
            pixels, hdr = png_pixels(bb)
            if hdr["bit_depth"] == 8:  # packed sub-byte rows would be mis-averaged
                gray = _gray(pixels, hdr)
        elif fmt == "jpeg":
            if _jpeg_unsupported_mode(bb):
                return DecodedBlob(fmt, "unsupported_format", modality)
            g8, w, h = decode_jpeg_gray(bb)
            gray = _np.frombuffer(g8, dtype=_np.uint8).astype(_np.float64)
            gray = gray.reshape(h, w)
        elif fmt == "gif":
            gray = _gray(*gif_pixels(bb))
        elif fmt == "webp":
            if _vp8l_payload(bb) is None:  # lossy VP8: the declared boundary
                return DecodedBlob(fmt, "unsupported_format", modality)
            gray = _gray(*webp_pixels(bb))
        elif fmt == "wav":
            samples, m = wav_samples(bb)
            rate = int(m.get("framerate") or 0)
            if rate > 0:
                audio = (_mono(samples, m["n_channels"]), rate)
        else:
            video = avi_frames(bb)
    except Exception:
        return DecodedBlob(fmt, "corrupt", modality)
    return DecodedBlob(fmt, "decoded", modality, gray, audio, video)


def media_format_rows(
    media: DataFrame, id_col: str = "media_id", blob_col: str = "blob"
) -> DataFrame:
    """(id, fmt, status) per blob from :func:`decode_blob` — ONE
    Arrow-batched pass, the media_hashes scan shape; the blob never
    leaves the executor."""
    src = media.select(id_col, blob_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_blob(b) for b in pdf[blob_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "fmt": [d.fmt for d in decoded],
                    "status": [d.status for d in decoded],
                }
            )

    return src.mapInPandas(
        run, schema=f"{id_col} long, fmt string, status string"
    )


def media_format_audit(
    media: DataFrame, id_col: str = "media_id", blob_col: str = "blob"
) -> DataFrame:
    """Per-(format, status) counts over a blob column: one scan + one
    tiny hash-agg — the operational audit a 100 TB media pipeline
    publishes next to its dedup stats."""
    return (
        media_format_rows(media, id_col=id_col, blob_col=blob_col)
        .groupBy("fmt", "status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------- image resize / thumbnails
def image_thumbnails(
    media: DataFrame,
    width: int = 32,
    height: int = 32,
    id_col: str = "media_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Deterministic grayscale thumbnails for every decodable image
    blob (round-15 — the brief's 'resize' multimodal op promoted from
    the hash planes' internal helper to a user-facing operator):
    decode through the image door (phash.image_gray over
    ``decode_blob`` — PNG / JPEG / GIF / lossless WebP, so the resize
    plane can never disagree with the hash planes about what decodes),
    area-average downsample to (width, height) with the SAME
    deterministic cell geometry dHash uses (phash._area_resize —
    cell (i, j) averages source rows floor(i·h/H)..floor((i+1)·h/H)−1,
    edge cells repeat for upscales), re-encode as gray8 PNG.

    Output: (id, thumb binary, src_width, src_height, src_format) —
    thumb/dims NULL where the blob is undecodable (the auditable-miss
    contract; lossy-WebP and corrupt blobs are misses, never wrong
    pixels).  Grayscale by design: the engine's perceptual planes are
    luma-based and the stdlib codecs encode gray8 losslessly; callers
    needing color thumbnails are outside the declared codec scope.

    Scale shape: one Arrow-batched mapInPandas scan — project to
    (id, blob) BEFORE calling so column pruning reaches the parquet
    reader; per-blob Python is the declared codec slow path, batched
    through Arrow; no shuffle, no driver-side work."""
    import numpy as np

    from prod2vec_spark.operators.phash import _area_resize, image_gray

    if width <= 0 or height <= 0:
        raise ValueError("thumbnail dimensions must be positive")
    src = media.select(id_col, blob_col)

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            thumbs, ws, hs, fmts = [], [], [], []
            for b in pdf[blob_col]:
                g = image_gray(b)
                if g is None:
                    thumbs.append(None)
                    ws.append(None)
                    hs.append(None)
                    fmts.append(None)
                    continue
                small = _area_resize(g, height, width)
                px = np.clip(np.rint(small), 0, 255).astype(np.uint8)
                thumbs.append(bytes(encode_png_gray8(px.tobytes(), width, height)))
                hs.append(g.shape[0])
                ws.append(g.shape[1])
                # the label is the sniff the door already passed,
                # never a second decode
                fmts.append(sniff_format(b))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "thumb": thumbs,
                    "src_width": pd.array(ws, dtype="Int32"),
                    "src_height": pd.array(hs, dtype="Int32"),
                    "src_format": fmts,
                }
            )

    return src.mapInPandas(
        run,
        schema=(
            f"{id_col} long, thumb binary, src_width int, "
            "src_height int, src_format string"
        ),
    )


# ---------------------------------------------- audio resample
def audio_resample(
    media: DataFrame,
    target_rate: int = 16000,
    id_col: str = "media_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Deterministic linear-interpolation resampling for every
    decodable WAV blob (round-15 — the audio analog of
    image_thumbnails: training pipelines normalize heterogeneous
    crawl audio to one model rate): decode through the fingerprint
    plane's audio door (phash.audio_mono over decode_blob — sniff
    gated, PCM or IMA-ADPCM, stereo folded to the channel MEAN, so the
    resample plane can never disagree with it about what decodes),
    linearly interpolate onto the uniform target grid (output sample
    i sits at source position i·src/target; endpoints clamp), round
    half-away-from-zero to int16, re-encode PCM16 WAV at
    ``target_rate``.

    Output: (id, resampled binary, src_rate, src_samples) — NULL
    where the door yields no signal: undecodable, not audio, or a
    0 Hz ``fmt `` header (the auditable-miss contract).  A
    source already at ``target_rate`` round-trips its channel-mean
    EXACTLY (the interpolation grid is then the identity — mono PCM16
    in == PCM16 out, pytest-locked).

    Scale shape: one Arrow-batched mapInPandas scan, no shuffle —
    identical to every codec stage here; project to (id, blob) before
    calling so pruning reaches the scan."""
    if target_rate <= 0:
        raise ValueError("target_rate must be positive")
    if _np is None:  # pragma: no cover - numpy is baked into the env
        raise RuntimeError("audio_resample needs numpy")
    from prod2vec_spark.operators.phash import audio_mono

    src = media.select(id_col, blob_col)

    def run(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            blobs, rates, counts = [], [], []
            for b in pdf[blob_col]:
                dec = audio_mono(bytes(b))
                if dec is None:
                    blobs.append(None)
                    rates.append(None)
                    counts.append(None)
                    continue
                a, src_rate = dec
                if a.size == 0:
                    blobs.append(None)
                    rates.append(src_rate)
                    counts.append(0)
                    continue
                n_out = max(1, int(round(a.size * target_rate / src_rate)))
                pos = _np.arange(n_out, dtype=_np.float64) * (
                    src_rate / float(target_rate)
                )
                pos = _np.clip(pos, 0.0, a.size - 1.0)
                lo = _np.floor(pos).astype(_np.int64)
                hi = _np.minimum(lo + 1, a.size - 1)
                frac = pos - lo
                out = a[lo] * (1.0 - frac) + a[hi] * frac
                # half-away-from-zero (C lround), clipped to int16
                q = _np.clip(
                    _np.sign(out) * _np.floor(_np.abs(out) + 0.5),
                    -32768,
                    32767,
                ).astype(_np.int64)
                blobs.append(
                    bytes(
                        encode_wav_pcm16(
                            [int(x) for x in q], sample_rate=target_rate
                        )
                    )
                )
                rates.append(src_rate)
                counts.append(int(a.size))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "resampled": blobs,
                    "src_rate": pd.array(rates, dtype="Int32"),
                    "src_samples": pd.array(counts, dtype="Int64"),
                }
            )

    return src.mapInPandas(
        run,
        schema=(
            f"{id_col} long, resampled binary, src_rate int, "
            "src_samples long"
        ),
    )
