"""Round-9: the video plane is REAL — stdlib AVI codec
(operators/multimodal.py: encode_avi_gray8 / avi_frames / decode_avi)
plus the keyframe-mean dHash fingerprint (operators/phash.py:
vhash64 / media_hash / media_hashes) feeding the existing
banded-Hamming near-dup machinery.  Mirrors test_phash.py's
planted-family strategy and test_multimodal.py's golden decodes."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from prod2vec_spark.operators import phash as PH
from prod2vec_spark.operators.multimodal import (
    avi_frames,
    decode_blob,
    encode_avi_gray8,
    media_format_rows,
)


def _clip(seed: int, n_frames: int = 6, h: int = 16, w: int = 16) -> list[bytes]:
    rng = np.random.default_rng(seed)
    return [bytes(rng.integers(0, 256, size=h * w, dtype=np.uint8)) for _ in range(n_frames)]


# --------------------------------------------------------- codec golden
def test_avi_roundtrip_exact():
    frames = _clip(1)
    blob = encode_avi_gray8(frames, 16, 16, fps=10)
    got, meta = avi_frames(blob)
    assert got == frames  # grayscale roundtrip is EXACT (B=G=R luma)
    assert meta == {
        "width": 16, "height": 16, "n_frames": 6, "fps": 10.0, "bit_count": 24,
        "codec": "raw",
    }


def test_avi_roundtrip_nonaligned_width():
    # width 13 -> stride 40 with 1 pad byte: exercises row padding
    frames = _clip(2, n_frames=3, h=5, w=13)
    blob = encode_avi_gray8(frames, 13, 5, fps=25)
    got, meta = avi_frames(blob)
    assert got == frames
    assert (meta["width"], meta["height"], meta["fps"]) == (13, 5, 25.0)


def test_decode_avi_features():
    frames = _clip(3, n_frames=10)
    blob = encode_avi_gray8(frames, 16, 16, fps=5)
    got, m = avi_frames(blob)
    assert (m["width"], m["height"], m["n_frames"]) == (16, 16, 10)
    assert m["n_frames"] / m["fps"] * 1000.0 == 2000.0  # 10 frames at 5 fps
    assert hashlib.md5(b"".join(got)).hexdigest() == (
        hashlib.md5(b"".join(frames)).hexdigest()
    )


def test_decode_media_dispatches_avi_and_flags_corrupt():
    blob = encode_avi_gray8(_clip(4), 16, 16)
    assert decode_blob(blob)[:3] == ("avi", "decoded", "video")
    # a truncated AVI is 'corrupt', never mis-decoded
    assert decode_blob(blob[:40])[:2] == ("avi", "corrupt")
    # unknown magic decodes nothing
    assert decode_blob(b"mp4 is not parsed")[:2] == ("unknown", "unsupported_format")


def test_avi_rejects_compressed_and_malformed():
    import pytest
    import struct as _s

    blob = bytearray(encode_avi_gray8(_clip(5), 16, 16))
    # find strf payload and set biCompression to a codec fourcc
    i = bytes(blob).index(b"strf") + 8
    blob[i + 16 : i + 20] = _s.pack("<I", 0x34363248)  # 'H264'
    with pytest.raises(ValueError, match="unsupported AVI codec"):
        avi_frames(bytes(blob))
    with pytest.raises(ValueError, match="not an AVI"):
        avi_frames(b"RIFF\x00\x00\x00\x00WAVE")


def test_extract_features_populates_video_columns(spark):
    blob = encode_avi_gray8(_clip(6, n_frames=4), 16, 16, fps=8)
    media = spark.createDataFrame(
        [(1, "video", 16, 16, 500, bytearray(blob))],
        "media_id long, media_type string, width int, height int, "
        "duration_ms int, blob binary",
    )
    row = media_format_rows(media).collect()[0]
    assert (row["media_id"], row["fmt"], row["status"]) == (1, "avi", "decoded")
    d = decode_blob(blob)
    frames, m = d.video
    assert (m["width"], m["height"]) == (16, 16)
    assert m["n_frames"] / m["fps"] * 1000.0 == 500.0  # 4 frames at 8 fps
    assert d.audio is None and d.gray is None  # audio-only field stays null


# ------------------------------------------------------- fingerprint
def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_vhash_robust_to_single_frame_edit_far_for_random():
    frames = _clip(7, n_frames=8, h=24, w=36)
    blob = encode_avi_gray8(frames, 36, 24)
    h0 = PH.media_hash(blob)[1]
    assert h0 is not None
    # single-pixel edit in one frame barely moves the keyframe mean
    edited = [bytearray(f) for f in frames]
    edited[3][100] = (edited[3][100] + 9) % 256
    h1 = PH.media_hash(encode_avi_gray8([bytes(f) for f in edited], 36, 24))[1]
    assert _hamming(h0, h1) <= 2
    # an unrelated clip is far
    other = PH.media_hash(encode_avi_gray8(_clip(99, n_frames=8, h=24, w=36), 36, 24))[1]
    assert _hamming(h0, other) > 10


def test_vhash_null_on_undecodable():
    assert PH.media_hash(b"not video")[1] is None
    assert PH.media_hash(None)[1] is None
    assert PH.vhash64([], 4, 4) is None


def test_vhash_keyframe_sampling_includes_endpoints():
    # 20-frame clip: with 8 keyframes the sampled mean differs from
    # the all-frames mean, but first/last frames always participate —
    # changing ONLY frame 19 must change the hash input set
    frames = _clip(8, n_frames=20)
    h0 = PH.media_hash(encode_avi_gray8(frames, 16, 16))[1]
    swapped = frames[:19] + [bytes(255 - b for b in frames[19])]
    h1 = PH.media_hash(encode_avi_gray8(swapped, 16, 16))[1]
    assert h0 != h1


def test_phash_videos_neardup_planted_families(spark):
    """Planted near-duplicate clip families (one-pixel per-member
    edits) are recovered by media_hashes + the generic banded-Hamming
    plane — the video twin of test_phash_neardup_finds_planted_families."""
    rows = []
    for fam in range(6):
        base_frames = [
            b"".join(
                hashlib.md5(f"vid{fam}|{t}|{k}".encode()).digest() for k in range(16)
            )
            for t in range(4)
        ]  # 4 frames of 256 bytes = 16x16
        for member in range(3):
            frames = [bytearray(f) for f in base_frames]
            if member:
                pos = (member * 41) % 256
                frames[member % 4][pos] = (frames[member % 4][pos] + 1) % 256
            rows.append(
                (fam * 10 + member,
                 bytearray(encode_avi_gray8([bytes(f) for f in frames], 16, 16)))
            )
    rows.append((999, bytearray(b"undecodable")))
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    hashes = PH.media_hashes(media).select(
        "media_id", F.col("mhash").alias("vhash")
    )
    assert (
        hashes.where(F.col("media_id") == 999).collect()[0]["vhash"] is None
    )
    pairs = PH.phash_neardup(hashes, hash_col="vhash", max_distance=3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    for fam in range(6):
        ids = [fam * 10 + m for m in range(3)]
        for i in range(3):
            for j in range(i + 1, 3):
                assert (ids[i], ids[j]) in got, (fam, ids[i], ids[j])
    # no cross-family pair
    for a, b in got:
        assert a // 10 == b // 10, (a, b)


def test_video_hash_fixture_matches_codec_chain(spark):
    """The pytest-golden codec boundary behind the round-11 entry
    split: the persisted hash table (tests/fixtures/video_vhash.
    parquet) must be bit-for-bit what the REAL distributed codec
    chain (mapInPandas render → encode_avi_gray8 → stdlib AVI decode
    → keyframe-mean dHash) produces — re-derived here for every sf0.01 doc_id,
    so the driver's full-hash oracle on the pair plane plus this gate
    together cover the whole original pipeline."""
    from prod2vec_spark.queries.common import (
        _video_vhash_fixture_path as _video_fixture_path,
    )
    from prod2vec_spark.queries.media import rendered_video_hashes
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_ORACLE

    fixture = {
        r["doc_id"]: r["vhash"]
        for r in spark.read.parquet(_video_fixture_path()).collect()
    }
    assert sorted(fixture) == list(range(5000))
    # the query leftsemi-joins documents against the fixture, so a
    # doc_id beyond the fixture would SILENTLY drop out of the entry —
    # make the cap loud at the largest sf the driver/bench ever runs
    from tests.conftest import SF_BENCH, SF_SMOKE

    for sf_dir in (SF_SMOKE, SF_ORACLE, SF_BENCH):
        top = (
            read_table(spark, sf_dir, "documents")
            .agg({"doc_id": "max"})
            .collect()[0][0]
        )
        assert top < 5000, f"{sf_dir}: doc_id {top} exceeds fixture coverage"
    assert all(v is not None for v in fixture.values())
    doc_ids = read_table(spark, SF_ORACLE, "documents").select("doc_id")
    recomputed = {
        r["media_id"]: r["vhash"]
        for r in rendered_video_hashes(spark, doc_ids).collect()
    }
    assert recomputed == {i: fixture[i] for i in recomputed}


def test_video_neardup_query_recovers_planted_families(spark):
    """The driver-catalog entry (banded-Hamming pair plane over the
    persisted hash table): every emitted pair is within-family, and
    every within-family pair is emitted (pigeonhole recall at
    one-pixel single-frame perturbation) — the video twin of
    test_phash_neardup_query_recovers_planted_families."""
    import collections

    from prod2vec_spark.queries.media import q_video_neardup
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    rows = q_video_neardup(spark, SF_SMOKE).collect()
    assert rows, "no near-dup pairs found for planted clip families"
    assert all(r["same_family"] == 1 for r in rows)
    doc_ids = [
        r["doc_id"]
        for r in read_table(spark, SF_SMOKE, "documents").select("doc_id").collect()
    ]
    fams = collections.Counter(d % 40 for d in doc_ids)
    expect_pairs = sum(c * (c - 1) // 2 for c in fams.values())
    assert len(rows) == expect_pairs


def test_decode_frames_samples_planned_timestamps(spark):
    """decode_frames is the real decode stage behind
    frame_sample_plan: one row per every_ms of clip time, frame
    indexes clamped to the clip, digests matching the encoded frames;
    undecodable blobs emit nothing (auditable upstream)."""
    import hashlib as _hl

    from prod2vec_spark.operators.multimodal import decode_frames

    frames = _clip(11, n_frames=10)          # 10 frames at 5 fps = 2 s
    blob = encode_avi_gray8(frames, 16, 16, fps=5)
    media = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"junk"))],
        "media_id long, blob binary",
    )
    rows = decode_frames(media, every_ms=500).collect()
    by_ts = {r["frame_ts_ms"]: r for r in rows}
    assert {r["media_id"] for r in rows} == {1}  # junk emits nothing
    assert sorted(by_ts) == [0, 500, 1000, 1500]  # 2 s clip @ 500 ms
    for ts, r in by_ts.items():
        idx = min(9, int(ts * 5 / 1000))
        assert r["frame_idx"] == idx
        assert r["frame_digest"] == _hl.md5(frames[idx]).hexdigest()


def test_frame_hashes_one_per_distinct_sampled_frame(spark):
    from prod2vec_spark.operators.phash import frame_hashes

    frames = _clip(30, n_frames=4)  # 4 frames at default 10 fps = 400 ms
    media = spark.createDataFrame(
        [(1, bytearray(encode_avi_gray8(frames, 16, 16, fps=10)))],
        "media_id long, blob binary",
    )
    # 100 ms sampling on a 400 ms clip: ts 0..300 -> frames 0..3
    rows = frame_hashes(media, every_ms=100).collect()
    assert sorted(r["frame_idx"] for r in rows) == [0, 1, 2, 3]
    # 50 ms sampling hits each frame twice but emits each ONCE
    rows = frame_hashes(media, every_ms=50).collect()
    assert sorted(r["frame_idx"] for r in rows) == [0, 1, 2, 3]


def test_video_span_pairs_finds_embedded_scene(spark):
    """A short clip embedded (with pixel noise) inside a longer,
    otherwise-unrelated video is recovered by the shared-frame plane
    even though the whole-clip fingerprints diverge."""
    from prod2vec_spark.operators.phash import VIDEO_PLANE, span_pairs

    rng_frames = _clip(31, n_frames=8, h=24, w=36)     # clip X: 8 frames
    long_frames = _clip(32, n_frames=12, h=24, w=36)   # clip Y: 12 frames
    # embed X's frames 2..4 into Y at positions 5..7, one-pixel noise
    for k in range(3):
        f = bytearray(rng_frames[2 + k])
        f[50] = (f[50] + 1) % 256
        long_frames[5 + k] = bytes(f)
    unrelated = _clip(33, n_frames=8, h=24, w=36)      # clip Z
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_avi_gray8(rng_frames, 36, 24, fps=1))),
            (2, bytearray(encode_avi_gray8(long_frames, 36, 24, fps=1))),
            (3, bytearray(encode_avi_gray8(unrelated, 36, 24, fps=1))),
        ],
        "media_id long, blob binary",
    )
    got = {
        (r["id_a"], r["id_b"]): r["n_shared_frames"]
        for r in span_pairs(VIDEO_PLANE, media, every_ms=1000, min_shared=2).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 3  # the embedded scene
    assert (1, 3) not in got and (2, 3) not in got
    # whole-clip fingerprints DO diverge — the span plane is needed
    from prod2vec_spark.operators.phash import media_hash

    h1 = media_hash(encode_avi_gray8(rng_frames, 36, 24, fps=1))[1]
    h2 = media_hash(encode_avi_gray8(long_frames, 36, 24, fps=1))[1]
    assert _hamming(h1, h2) > 3
