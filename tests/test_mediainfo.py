"""Round-16 container-metadata boundary (operators/mediainfo.py —
the webp_info pattern extended to MP4/ISO-BMFF and MP3, VERDICT r15
'missing' #3): payload decode stays out of scope, the container
structures parse into auditable feature rows."""

from __future__ import annotations

import struct

import pytest

from prod2vec_spark.operators.mediainfo import mp3_info, mp4_info
from prod2vec_spark.operators.multimodal import decode_blob


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def make_mp4(
    w: int,
    h: int,
    dur_ms: int,
    *,
    timescale: int = 1000,
    v1: bool = False,
    audio: bool = False,
) -> bytes:
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"mp42")
    if v1:
        mvhd_p = (
            b"\x01" + bytes(3) + bytes(16)
            + struct.pack(">I", timescale)
            + struct.pack(">Q", dur_ms * timescale // 1000)
        )
    else:
        mvhd_p = (
            bytes(4) + bytes(8)
            + struct.pack(">I", timescale)
            + struct.pack(">I", dur_ms * timescale // 1000)
        )
    mvhd = _box(b"mvhd", mvhd_p + bytes(80))
    tkhd = _box(
        b"tkhd",
        bytes(4) + bytes(8) + struct.pack(">I", 1) + bytes(4)
        + struct.pack(">I", dur_ms) + bytes(8) + bytes(8) + bytes(36)
        + struct.pack(">I", w << 16) + struct.pack(">I", h << 16),
    )
    handler = b"soun" if audio else b"vide"
    hdlr = _box(b"hdlr", bytes(8) + handler + bytes(12) + b"\x00")
    trak = _box(b"trak", tkhd + _box(b"mdia", hdlr))
    moov = _box(b"moov", mvhd + trak)
    return ftyp + moov


def make_mp3(n: int = 2000, *, id3: bool = True) -> bytes:
    tag = b"ID3\x04\x00\x00\x00\x00\x00\x00" if id3 else b""
    frame = bytes([0xFF, 0xFB, 0x90, 0x00])  # MPEG1 L3, 128k, 44.1k
    return tag + frame + b"\x00" * (n - 4)


def test_mp4_info_dims_duration_and_tracks():
    inf = mp4_info(make_mp4(640, 360, 12_000))
    assert (inf["width"], inf["height"]) == (640, 360)
    assert inf["duration_ms"] == 12_000
    assert inf["brand"] == "isom"
    assert inf["has_video"] is True and inf["has_audio"] is False
    assert inf["n_tracks"] == 1
    # version-1 mvhd (64-bit times) and a non-ms timescale
    inf1 = mp4_info(make_mp4(320, 240, 7_500, timescale=90_000, v1=True))
    assert inf1["duration_ms"] == 7_500
    # audio handler flag
    infa = mp4_info(make_mp4(0, 0, 1_000, audio=True))
    assert infa["has_audio"] is True and infa["has_video"] is False
    assert infa["width"] is None  # zero-sized track reports no dims


def test_mp4_info_corrupt_raises():
    with pytest.raises(ValueError, match="not an MP4"):
        mp4_info(b"RIFF....WAVE")
    with pytest.raises(ValueError):  # truncated box walk
        mp4_info(make_mp4(320, 240, 9000)[:40])
    # no moov
    ftyp_only = _box(b"ftyp", b"isom" + bytes(4) + b"mp42")
    with pytest.raises(ValueError, match="no moov"):
        mp4_info(ftyp_only)


def test_mp3_info_tables_and_duration_estimate():
    blob = make_mp3(16_010)
    inf = mp3_info(blob)
    assert inf["mpeg_version"] == 1 and inf["layer"] == 3
    assert inf["bitrate_kbps"] == 128 and inf["sample_rate"] == 44100
    assert inf["channels"] == 2 and inf["has_id3"] is True
    # CBR estimate: audio bytes * 8 / 128 kbps -> ms
    assert inf["duration_est_ms"] == int(16_000 * 8 / 128)
    # bare frame (no ID3) parses too
    bare = mp3_info(make_mp3(500, id3=False))
    assert bare["has_id3"] is False
    # sync garbage: a bare 0xFF byte is NOT enough
    with pytest.raises(ValueError):
        mp3_info(b"\xff\x00garbage")


def test_classify_and_decode_media_mp4_mp3():
    """decode_blob sniffs the new containers (payloads stay the
    unsupported boundary); the metadata walks read their header
    fields; truncation classifies corrupt."""
    from prod2vec_spark.operators.mediainfo import mp3_info, mp4_info

    mp4 = make_mp4(480, 270, 5_000)
    assert decode_blob(mp4)[:2] == ("mp4", "unsupported_format")
    d = mp4_info(mp4)
    assert (d["width"], d["height"], d["duration_ms"]) == (480, 270, 5_000)
    assert decode_blob(mp4[:40])[:2] == ("mp4", "corrupt")

    mp3 = make_mp3(4_000)
    assert decode_blob(mp3)[:2] == ("mp3", "unsupported_format")
    assert mp3_info(mp3)["sample_rate"] == 44100
    # ID3 prefix with a broken frame -> corrupt (strong magic)
    broken = b"ID3\x04\x00\x00\x00\x00\x00\x00" + b"\x00\x00\x00\x00"
    assert decode_blob(broken)[:2] == ("mp3", "corrupt")
    # bare weak sync that fails to parse falls through to unknown
    assert decode_blob(b"\xff\xe0\x00\x00junk")[:2] == (
        "unknown",
        "unsupported_format",
    )


def make_flac(rate: int = 44100, channels: int = 2, bps: int = 16,
              total: int = 441_000) -> bytes:
    hdr = bytearray(b"fLaC")
    hdr += bytes([0x80, 0, 0, 34])  # last-block flag + STREAMINFO + len
    s = bytearray(34)
    s[0:2] = (4096).to_bytes(2, "big")
    s[2:4] = (4096).to_bytes(2, "big")
    s[10] = (rate >> 12) & 0xFF
    s[11] = (rate >> 4) & 0xFF
    s[12] = ((rate & 0xF) << 4) | ((channels - 1) << 1) | ((bps - 1) >> 4)
    s[13] = (((bps - 1) & 0xF) << 4) | ((total >> 32) & 0xF)
    s[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
    return bytes(hdr) + bytes(s) + b"\x00" * 32


def make_adts(n_frames: int = 5, sr_idx: int = 4, payload: int = 20) -> bytes:
    out = bytearray()
    flen = 7 + payload
    for _ in range(n_frames):
        f = bytearray(7)
        f[0] = 0xFF
        f[1] = 0xF1  # MPEG-4, layer 00, no CRC
        f[2] = (1 << 6) | (sr_idx << 2) | 0  # profile LC(2-1=1), chan hi
        f[3] = (2 << 6) | ((flen >> 11) & 0x3)  # stereo + len hi
        f[4] = (flen >> 3) & 0xFF
        f[5] = ((flen & 0x7) << 5) | 0x1F
        f[6] = 0xFC
        out += f + b"\x00" * payload
    return bytes(out)


def test_flac_info_exact_duration():
    from prod2vec_spark.operators.mediainfo import flac_info

    inf = flac_info(make_flac(rate=48000, channels=1, bps=24, total=96_000))
    assert inf["sample_rate"] == 48000 and inf["channels"] == 1
    assert inf["bits_per_sample"] == 24
    assert inf["duration_ms"] == 2000  # exact, not an estimate
    with pytest.raises(ValueError):
        flac_info(b"fLaC\x00\x00\x00")
    assert decode_blob(make_flac())[:2] == ("flac", "unsupported_format")
    assert decode_blob(b"fLaC" + b"\x00" * 3)[:2] == ("flac", "corrupt")
    assert flac_info(make_flac())["sample_rate"] == 44100


def test_adts_info_frame_walk():
    from prod2vec_spark.operators.mediainfo import adts_info

    blob = make_adts(n_frames=10, sr_idx=4)  # 44.1 kHz
    inf = adts_info(blob)
    assert inf["sample_rate"] == 44100 and inf["n_frames"] == 10
    assert inf["channels"] == 2 and inf["profile"] == 2
    assert inf["duration_ms"] == int(10 * 1024 * 1000 / 44100)
    # truncated final frame raises (honest, not an estimate)
    with pytest.raises(ValueError, match="truncated frame"):
        adts_info(blob[:-5])
    # classification: ADTS and MP3 never both claim (layer bits 00)
    assert decode_blob(blob)[:2] == ("aac", "unsupported_format")
    from tests.test_mediainfo import make_mp3 as _mk  # self-import ok
    assert decode_blob(_mk(1000))[:2] == ("mp3", "unsupported_format")


def _ogg_page(body: bytes, *, granule: int = 0, seq: int = 0,
              htype: int = 2) -> bytes:
    segs = []
    n = len(body)
    while n >= 255:
        segs.append(255)
        n -= 255
    segs.append(n)
    hdr = (
        b"OggS" + bytes([0, htype])
        + struct.pack("<q", granule)
        + struct.pack("<I", 1)      # serial
        + struct.pack("<I", seq)
        + struct.pack("<I", 0)      # crc (unchecked by the parser)
        + bytes([len(segs)]) + bytes(segs)
    )
    return hdr + body


def make_opus(duration_ms: int = 2500, pre_skip: int = 312) -> bytes:
    head = (
        b"OpusHead" + bytes([1, 2])          # version, channels
        + struct.pack("<H", pre_skip)
        + struct.pack("<I", 48000)
        + struct.pack("<h", 0) + bytes([0])  # gain, mapping
    )
    granule = pre_skip + duration_ms * 48
    first = _ogg_page(head, htype=2, seq=0)
    last = _ogg_page(b"\x00" * 10, granule=granule, htype=4, seq=1)
    return first + last


def make_vorbis(duration_ms: int = 1500, rate: int = 44100) -> bytes:
    ident = (
        b"\x01vorbis" + struct.pack("<I", 0)
        + bytes([2])                          # channels
        + struct.pack("<I", rate)
        + bytes(16)
    )
    granule = duration_ms * rate // 1000
    return _ogg_page(ident, seq=0) + _ogg_page(
        b"\x00" * 8, granule=granule, htype=4, seq=1
    )


def test_ogg_info_opus_and_vorbis():
    from prod2vec_spark.operators.mediainfo import ogg_info

    o = ogg_info(make_opus(duration_ms=2500))
    assert o["codec"] == "opus" and o["channels"] == 2
    assert o["sample_rate"] == 48000
    assert o["duration_ms"] == 2500  # pre-skip subtracted
    v = ogg_info(make_vorbis(duration_ms=1500, rate=44100))
    assert v["codec"] == "vorbis" and v["sample_rate"] == 44100
    assert abs(v["duration_ms"] - 1500) <= 1
    with pytest.raises(ValueError):
        ogg_info(b"OggS" + b"\x00" * 5)  # truncated page header
    assert decode_blob(make_opus())[:2] == ("ogg", "unsupported_format")
    assert decode_blob(b"OggS" + b"\x00" * 3)[:2] == ("ogg", "corrupt")
    assert ogg_info(make_opus(duration_ms=1000))["duration_ms"] == 1000
