"""Generate tests/fixtures/media_formats.parquet — the planted
mixed-format blob corpus for the media_format_audit plane (round 14,
VERDICT r13 ask #5).

240 deterministic blobs across 12 classes (media_id % 12): valid
PNG / JPEG baseline / JPEG progressive / GIF / animated GIF / WAV
PCM / WAV ADPCM / AVI, truncated-PNG and truncated-AVI corruption,
the boundary class (round-15 split: valid LOSSLESS WebP now DECODES
through the stdlib VP8L codec, a lossy ``VP8 `` container and an
arithmetic-coded-JPEG header stay declared unsupported), plus
unknown-magic garbage.

Columns: media_id, blob, fmt, status — fmt/status are the REAL
decode door's output at generation time (operators/multimodal.
decode_blob); tests/test_media_format.py re-runs the classifier
against the blobs and asserts bit-equality, so the persisted columns
stay honest (the video_vhash golden-fixture protocol).  The catalog
entry recomputes (fmt, status) from the blobs in Spark and its DuckDB
oracle aggregates the persisted columns — classifier drift fails the
driver's hash compare.

Deterministic: all pixel/sample content is md5-expanded from the id.
Rerun: python tools/gen_media_format_fixture.py
"""

from __future__ import annotations

import hashlib
import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = 240
FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "fixtures",
    "media_formats.parquet",
)


def _bytes(tag: str, n: int) -> bytes:
    out = b"".join(
        hashlib.md5(f"{tag}|{k}".encode()).digest() for k in range(n // 16 + 1)
    )
    return out[:n]


def planted_media_blob(media_id: int) -> bytes:
    from prod2vec_spark.operators.gif import (
        encode_gif_animated,
        encode_gif_gray8,
    )
    from prod2vec_spark.operators.jpeg import (
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )
    from prod2vec_spark.operators.multimodal import (
        encode_avi_gray8,
        encode_png_gray8,
        encode_wav_adpcm,
        encode_wav_pcm16,
    )

    i = int(media_id)
    cls = i % 12
    px = _bytes(f"mf{i}", 256)
    if cls == 0:
        return encode_png_gray8(px, 16, 16)
    if cls == 1:  # truncated PNG -> corrupt
        return encode_png_gray8(px, 16, 16)[: 24 + (i % 16)]
    if cls == 2:
        return encode_jpeg_gray(px, 16, 16)
    if cls == 3:
        return encode_jpeg_gray_progressive(px, 16, 16)
    if cls == 4:
        return encode_gif_gray8(px, 16, 16)
    if cls == 5:
        frames = [_bytes(f"mfg{i}|{t}", 256) for t in range(3)]
        return encode_gif_animated(frames, 16, 16, delay_ms=100)
    if cls == 6:
        samples = [
            s // 8 for s in struct.unpack("<520h", _bytes(f"mfw{i}", 1040))
        ]
        return encode_wav_pcm16(samples)
    if cls == 7:
        samples = [
            s // 8 for s in struct.unpack("<520h", _bytes(f"mfa{i}", 1040))
        ]
        return encode_wav_adpcm(samples)
    if cls == 8:
        frames = [_bytes(f"mfv{i}|{t}", 256) for t in range(3)]
        return encode_avi_gray8(frames, 16, 16)
    if cls == 9:  # truncated AVI -> corrupt
        frames = [_bytes(f"mfv{i}|{t}", 256) for t in range(3)]
        return encode_avi_gray8(frames, 16, 16)[: 64 + (i % 32)]
    if cls == 10:
        # round-15 reshape: the WebP class now SPLITS — valid VP8L
        # decodes (the blind spot closed), a lossy ``VP8 `` container
        # stays the declared boundary, arithmetic JPEG stays declared
        from prod2vec_spark.operators.webp import encode_webp_lossless_gray8

        sub = (i // 12) % 3
        if sub == 0:  # lossless WebP -> decoded
            return encode_webp_lossless_gray8(_bytes(f"wl{i}", 256), 16, 16)
        if sub == 1:
            # lossy VP8 -> pixels stay the unsupported boundary, but
            # the KEY-FRAME HEADER is well-formed (RFC 6386 §9.1
            # frame tag + start code + 14-bit dims), so webp_info
            # reads real dimensions from it
            w, h = 33 + (i % 64), 17 + (i % 48)
            tag3 = (0) | (2 << 1) | (1 << 4) | (24 << 5)
            hdr = (
                bytes([tag3 & 0xFF, (tag3 >> 8) & 0xFF, (tag3 >> 16) & 0xFF])
                + b"\x9d\x01\x2a"
                + struct.pack("<H", w)
                + struct.pack("<H", h)
                + _bytes(f"wb{i}", 24)
            )
            return (
                b"RIFF"
                + struct.pack("<I", 4 + 8 + len(hdr))
                + b"WEBP"
                + b"VP8 "
                + struct.pack("<I", len(hdr))
                + hdr
            )
        # arithmetic-coded JPEG: SOI + DQT-ish stub + SOF10 header
        sof10 = b"\xff\xca" + struct.pack(">H", 11) + bytes(9)
        return b"\xff\xd8" + sof10 + _bytes(f"aj{i}", 32)
    # class 11 (round-16 split): unknown-magic junk, plus the MP4/MP3
    # container-metadata boundary (payload decode stays out of scope;
    # the box/frame headers parse — operators/mediainfo.py) and a
    # truncated MP4 for the corrupt leg
    sub11 = (i // 12) % 8
    if sub11 == 6:  # Ogg Opus -> unsupported boundary, granule duration
        return _make_opus(1000 + (i % 9) * 250)
    if sub11 == 7:  # Ogg Vorbis -> same, rate-scaled granules
        return _make_vorbis(800 + (i % 5) * 400)
    if sub11 == 1:  # valid MP4 skeleton -> unsupported boundary w/ dims
        return _make_mp4(
            320 + (i % 5) * 16, 180 + (i % 4) * 30, 4000 + i * 10
        )
    if sub11 == 2:  # valid MP3 header -> unsupported boundary w/ rate
        return _make_mp3(2000 + (i % 7) * 512)
    if sub11 == 3:  # truncated MP4 -> corrupt
        return _make_mp4(320, 240, 9000)[:40]
    if sub11 == 4:  # FLAC STREAMINFO -> unsupported boundary, exact dur
        return _make_flac(44100 if i % 2 else 48000, 44100 * (2 + i % 5))
    if sub11 == 5:  # ADTS AAC -> unsupported boundary, frame-walk dur
        return _make_adts(3 + i % 6)
    return _bytes(f"junk{i}", 40 + (i % 64))  # unknown magic


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _make_mp4(w: int, h: int, dur_ms: int) -> bytes:
    """Minimal ISO-BMFF skeleton: ftyp + moov(mvhd + trak(tkhd +
    mdia(hdlr 'vide'))) — no media data; the metadata plane is the
    point (mediainfo.mp4_info)."""
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"mp42")
    mvhd = _box(
        b"mvhd",
        bytes(4)  # version 0 + flags
        + bytes(8)  # ctime/mtime
        + struct.pack(">I", 1000)  # timescale (ms)
        + struct.pack(">I", dur_ms)  # duration
        + struct.pack(">I", 0x00010000)  # rate
        + struct.pack(">H", 0x0100)  # volume
        + bytes(10)
        + bytes(36)  # matrix
        + bytes(24)  # predefined
        + struct.pack(">I", 2),  # next track id
    )
    tkhd = _box(
        b"tkhd",
        bytes(4)
        + bytes(8)
        + struct.pack(">I", 1)  # track id
        + bytes(4)
        + struct.pack(">I", dur_ms)
        + bytes(8)
        + bytes(8)  # layer/alt/volume/reserved
        + bytes(36)  # matrix
        + struct.pack(">I", w << 16)
        + struct.pack(">I", h << 16),
    )
    hdlr = _box(b"hdlr", bytes(4) + bytes(4) + b"vide" + bytes(12) + b"\x00")
    mdia = _box(b"mdia", hdlr)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + moov


def _make_flac(rate: int, total: int) -> bytes:
    """'fLaC' + a single STREAMINFO block (mediainfo.flac_info's
    documented layout) + filler."""
    hdr = bytearray(b"fLaC") + bytes([0x80, 0, 0, 34])
    s = bytearray(34)
    s[0:2] = (4096).to_bytes(2, "big")
    s[2:4] = (4096).to_bytes(2, "big")
    s[10] = (rate >> 12) & 0xFF
    s[11] = (rate >> 4) & 0xFF
    s[12] = ((rate & 0xF) << 4) | (1 << 1)  # stereo, bps-1 high bit 0
    s[13] = (15 << 4) | ((total >> 32) & 0xF)  # bps 16
    s[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
    return bytes(hdr) + bytes(s) + _bytes("flacfill", 48)


def _make_adts(n_frames: int) -> bytes:
    out = bytearray()
    flen = 7 + 20
    for _ in range(n_frames):
        f = bytearray(7)
        f[0], f[1] = 0xFF, 0xF1
        f[2] = (1 << 6) | (4 << 2)  # LC profile, 44.1 kHz
        f[3] = (2 << 6) | ((flen >> 11) & 0x3)
        f[4] = (flen >> 3) & 0xFF
        f[5] = ((flen & 0x7) << 5) | 0x1F
        f[6] = 0xFC
        out += f + b"\x00" * 20
    return bytes(out)


def _ogg_page(body: bytes, granule: int = 0, seq: int = 0,
              htype: int = 2) -> bytes:
    segs = []
    n = len(body)
    while n >= 255:
        segs.append(255)
        n -= 255
    segs.append(n)
    return (
        b"OggS" + bytes([0, htype])
        + struct.pack("<q", granule)
        + struct.pack("<I", 1)
        + struct.pack("<I", seq)
        + struct.pack("<I", 0)
        + bytes([len(segs)]) + bytes(segs)
        + body
    )


def _make_opus(duration_ms: int) -> bytes:
    pre_skip = 312
    head = (
        b"OpusHead" + bytes([1, 2]) + struct.pack("<H", pre_skip)
        + struct.pack("<I", 48000) + struct.pack("<h", 0) + bytes([0])
    )
    return _ogg_page(head, htype=2, seq=0) + _ogg_page(
        _bytes("opusfill", 24), granule=pre_skip + duration_ms * 48,
        htype=4, seq=1,
    )


def _make_vorbis(duration_ms: int) -> bytes:
    rate = 44100
    ident = (
        b"\x01vorbis" + struct.pack("<I", 0) + bytes([2])
        + struct.pack("<I", rate) + bytes(16)
    )
    return _ogg_page(ident, seq=0) + _ogg_page(
        _bytes("vorbfill", 16), granule=duration_ms * rate // 1000,
        htype=4, seq=1,
    )


def _make_mp3(n_audio_bytes: int) -> bytes:
    """ID3v2 tag (empty) + one MPEG-1 Layer III 128 kbps / 44.1 kHz
    stereo frame header + deterministic filler."""
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x00"
    frame = bytes([0xFF, 0xFB, 0x90, 0x00])
    return id3 + frame + _bytes("mp3fill", n_audio_bytes - 4)


def main() -> None:
    import pandas as pd

    from prod2vec_spark.operators.multimodal import decode_blob

    rows = []
    for i in range(N_ROWS):
        blob = planted_media_blob(i)
        d = decode_blob(blob)
        rows.append({"media_id": i, "blob": blob, "fmt": d.fmt, "status": d.status})
    df = pd.DataFrame(rows)
    df.to_parquet(FIXTURE, index=False)
    print(df.groupby(["fmt", "status"]).size())
    print(f"wrote {len(df)} rows to {FIXTURE}")


if __name__ == "__main__":
    main()
