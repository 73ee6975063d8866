"""Behavioral tests for the perceptual-hash (dHash + banded Hamming)
image near-dup plane (operators/phash.py): golden hash values, the
perturbation-robustness property the hash exists for, pigeonhole
recall of the banded candidate join, and the NULL-on-undecodable
audit contract."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from prod2vec_spark.operators import phash as PH
from prod2vec_spark.operators.multimodal import (
    encode_avi_gray8,
    encode_png_gray8,
    encode_wav_pcm16,
)
from tests.test_multimodal import make_png


def _gray_png(mat: np.ndarray) -> bytes:
    """Grayscale 8-bit PNG from a (h, w) uint8 matrix (filter 0 rows)."""
    h, w = mat.shape
    rows = [bytes(mat[y]) for y in range(h)]
    return make_png(w, h, rows, filters=[0] * h, channels=1)


def _rand_img(seed: int, h: int = 24, w: int = 36) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, 256, size=(h, w), dtype=np.uint8)


# ------------------------------------------------------------- golden
def test_dhash_golden_monotone_gradient():
    # strictly increasing left->right: every horizontal gradient bit
    # set -> unsigned 2^64-1 == signed -1
    mat = np.tile(np.arange(0, 252, 7, dtype=np.uint8), (8, 1))
    assert mat.shape == (8, 36)
    assert PH.dhash64(mat.astype(np.float64)) == -1
    # strictly decreasing: no bit set
    assert PH.dhash64(mat[:, ::-1].astype(np.float64)) == 0


def test_dhash_png_matches_matrix_hash():
    mat = _rand_img(1)
    assert PH.media_hash(_gray_png(mat))[1] == PH.dhash64(mat.astype(np.float64))


def test_dhash_png_rejects_non_png_and_subbyte_depth():
    assert PH.media_hash(b"not a png at all")[1] is None
    assert PH.media_hash(None)[1] is None
    # bit_depth 8 is required; 16 would also be rejected if built


# ------------------------------------------------- robustness property
def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_dhash_small_perturbation_small_distance():
    base = _rand_img(2)
    tweaked = base.copy()
    tweaked[3, 5] = min(255, int(tweaked[3, 5]) + 2)  # one pixel, +2
    d_near = _hamming(
        PH.dhash64(base.astype(np.float64)), PH.dhash64(tweaked.astype(np.float64))
    )
    d_far = _hamming(
        PH.dhash64(base.astype(np.float64)),
        PH.dhash64(_rand_img(3).astype(np.float64)),
    )
    assert d_near <= 2, f"one-pixel tweak flipped {d_near} bits"
    assert d_far > 10, f"independent images only {d_far} bits apart"


# --------------------------------------------------- Spark pipeline
def _media_df(spark, imgs: dict[int, bytes]):
    return spark.createDataFrame(
        [(i, b) for i, b in imgs.items()], "media_id long, blob binary"
    )


def test_phash_images_null_for_undecodable(spark):
    imgs = {1: _gray_png(_rand_img(4)), 2: b"\x00garbage"}
    out = {r["media_id"]: r["dhash"] for r in PH.media_hashes(_media_df(spark, imgs)).select(
        "media_id", F.col("mhash").alias("dhash")
    ).collect()}
    assert out[1] is not None and out[2] is None


def test_phash_neardup_finds_planted_families(spark):
    """4 base images x 3 one-pixel variants: every within-family pair
    verified at hamming <= 3; no cross-family pair survives."""
    imgs: dict[int, bytes] = {}
    fam = {}
    mid = 0
    for f in range(4):
        base = _rand_img(10 + f)
        for v in range(3):
            m = base.copy()
            if v:
                m[v, v] = min(255, int(m[v, v]) + 1)
            imgs[mid] = _gray_png(m)
            fam[mid] = f
            mid += 1
    hashes = PH.media_hashes(_media_df(spark, imgs)).select(
        "media_id", F.col("mhash").alias("dhash")
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in PH.phash_neardup(hashes, max_distance=3).collect()
    }
    within = {
        (a, b)
        for a in fam
        for b in fam
        if a < b and fam[a] == fam[b]
    }
    # exact-recall check against brute force at the SAME threshold
    hs = {r["media_id"]: r["dhash"] for r in hashes.collect()}
    brute = {
        (a, b)
        for a in hs
        for b in hs
        if a < b and _hamming(hs[a], hs[b]) <= 3
    }
    assert set(pairs) == brute, "banded candidates missed a qualifying pair"
    assert within <= set(pairs), "a planted within-family pair was missed"
    assert all(fam[a] == fam[b] for a, b in pairs), "cross-family false positive"


def test_hamming_candidates_pigeonhole_recall(spark):
    """Adversarial spread: hashes exactly 3 bit-flips apart placed to
    straddle band boundaries still share one intact 16-bit slice."""
    base = 0x0123456789ABCDEF - (1 << 64) if 0x0123456789ABCDEF >= (1 << 63) else 0x0123456789ABCDEF
    flips = [0, 17, 34]  # one flip in each of bands 0,1,2 - band 3 intact
    v = base
    for b in flips:
        v ^= 1 << b
    df = spark.createDataFrame([(1, base), (2, v)], "media_id long, dhash long")
    got = PH.phash_neardup(df, max_distance=3).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 2)]


def test_encode_png_gray8_roundtrip():
    from prod2vec_spark.operators.multimodal import encode_png_gray8, png_pixels

    mat = _rand_img(5, h=16, w=16)
    blob = encode_png_gray8(bytes(mat.tobytes()), 16, 16)
    pixels, hdr = png_pixels(blob)
    assert (hdr["width"], hdr["height"], hdr["channels"]) == (16, 16, 1)
    assert pixels == mat.tobytes()


def test_phash_neardup_query_recovers_planted_families(spark):
    """The rows-only catalog-superset entry: every emitted pair is
    within-family, and every within-family pair is emitted (pigeonhole
    recall at one-pixel perturbation)."""
    from prod2vec_spark.queries.media import q_phash_neardup
    from tests.conftest import SF_SMOKE

    rows = q_phash_neardup(spark, SF_SMOKE).collect()
    assert rows, "no near-dup pairs found for planted families"
    assert all(r["same_family"] == 1 for r in rows)
    import collections

    from prod2vec_spark.sources.io import read_table

    doc_ids = [r["doc_id"] for r in read_table(spark, SF_SMOKE, "documents").select("doc_id").collect()]
    fams = collections.Counter(d % 40 for d in doc_ids)
    expect_pairs = sum(c * (c - 1) // 2 for c in fams.values())
    assert len(rows) == expect_pairs


# ------------------------------------------------------------- audio
def _rand_pcm(seed: int, n: int = 4000) -> np.ndarray:
    return np.random.default_rng(seed).integers(-3000, 3000, size=n).astype(np.int64)


def test_ahash_gain_invariance_and_perturbation():
    s = _rand_pcm(11)
    h0 = PH.ahash64(s.astype(np.float64))
    # uniform gain: energy scales by g^2 on both sides of every
    # comparison -> identical fingerprint
    assert PH.ahash64((s * 7).astype(np.float64)) == h0
    assert PH.ahash64((s * 0.25).astype(np.float64)) == h0
    # one-sample glitch flips at most the 2 windows it touches
    t = s.copy(); t[123] += 50
    assert _hamming(h0, PH.ahash64(t.astype(np.float64))) <= 2
    # independent clip is far
    assert _hamming(h0, PH.ahash64(_rand_pcm(12).astype(np.float64))) > 10


def test_ahash_wav_decodes_and_rejects():
    from prod2vec_spark.operators.multimodal import encode_wav_pcm16

    s = _rand_pcm(13)
    blob = encode_wav_pcm16([int(x) for x in s])
    assert PH.media_hash(blob)[1] == PH.ahash64(s.astype(np.float64))
    assert PH.media_hash(b"not riff")[1] is None
    assert PH.media_hash(None)[1] is None
    # too-short clip: no windows
    assert PH.media_hash(encode_wav_pcm16([1, 2, 3]))[1] is None


def test_wav_encoder_roundtrip_and_stereo_mix():
    from prod2vec_spark.operators.multimodal import encode_wav_pcm16, wav_samples

    samples = [100, -200, 300, -400]
    blob = encode_wav_pcm16(samples, sample_rate=4000)
    got, m = wav_samples(blob)
    assert list(got) == samples and m["framerate"] == 4000
    # stereo: channel-mean mix is what the audio hash reads
    stereo = encode_wav_pcm16([10, 30, 20, 40, 30, 50] * 200, n_channels=2)
    mono = encode_wav_pcm16([20, 30, 40] * 200)
    assert PH.media_hash(stereo)[1] == PH.media_hash(mono)[1]


def test_phash_audio_neardup_planted_families(spark):
    from prod2vec_spark.operators.multimodal import encode_wav_pcm16

    imgs: dict[int, bytes] = {}
    fam = {}
    mid = 0
    for f in range(3):
        base = _rand_pcm(20 + f)
        for v in range(3):
            s = base.copy()
            if v:
                s[v * 7] += 40  # one-sample glitch
            imgs[mid] = encode_wav_pcm16([int(x) for x in s])
            fam[mid] = f
            mid += 1
    hashes = PH.media_hashes(_media_df(spark, imgs)).select(
        "media_id", F.col("mhash").alias("ahash")
    )
    pairs = PH.phash_neardup(hashes, hash_col="ahash", max_distance=3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    within = {(a, b) for a in fam for b in fam if a < b and fam[a] == fam[b]}
    assert within <= got
    assert all(fam[a] == fam[b] for a, b in got)


def test_audio_neardup_query_recovers_planted_families(spark):
    from prod2vec_spark.queries.media import q_audio_neardup
    from tests.conftest import SF_SMOKE

    rows = q_audio_neardup(spark, SF_SMOKE).collect()
    assert rows, "no audio near-dup pairs found"
    assert all(r["same_family"] == 1 for r in rows)


def test_composite_id_rejects_negative_and_overflow_ids(spark):
    """ADVICE r13 (medium): SQL `div` truncates toward zero, so a
    negative clip id's idx>0 composites would decompose to id+1 and
    same-clip frame pairs slip past the ca != cb filter; |id| beyond
    2^63/BASE silently overflows the multiply.  Both must raise LOUDLY
    at composite-id construction."""
    from pyspark.sql import functions as F

    from prod2vec_spark.operators.phash import UNIT_ID_BASE, _composite_id

    ok = spark.createDataFrame([(42, 7)], "media_id long, frame_idx int")
    got = ok.select(
        _composite_id("media_id", F.col("frame_idx"), UNIT_ID_BASE).alias("fid")
    ).collect()
    assert got[0]["fid"] == 42 * UNIT_ID_BASE + 7

    for bad_id in (-5, (1 << 63) // UNIT_ID_BASE):
        bad = spark.createDataFrame(
            [(bad_id, 1)], "media_id long, frame_idx int"
        )
        with pytest.raises(Exception, match="composite-id owner out of range"):
            bad.select(
                _composite_id(
                    "media_id", F.col("frame_idx"), UNIT_ID_BASE
                ).alias("fid")
            ).collect()


def test_phash_pair_fixture_goldens_match_codecs():
    """Fixture-split honesty lock (round 15): the persisted dhash /
    ahash goldens in tests/fixtures/phash_pairs_*.parquet must equal
    the REAL codec chain's output over the persisted blobs — codec
    drift must fail here, not hide behind a stale fixture."""
    import os

    import pyarrow.parquet as pq

    fixdir = os.path.join(os.path.dirname(__file__), "fixtures")
    img = pq.read_table(os.path.join(fixdir, "phash_pairs_images.parquet"))
    for blob, want in zip(img["blob"].to_pylist(), img["dhash"].to_pylist()):
        assert PH.media_hash(blob)[1] == want
    wav = pq.read_table(os.path.join(fixdir, "phash_pairs_audio.parquet"))
    for blob, want in zip(wav["blob"].to_pylist(), wav["ahash"].to_pylist()):
        assert PH.media_hash(blob)[1] == want
    wp = pq.read_table(os.path.join(fixdir, "phash_pairs_webp.parquet"))
    for blob, want in zip(wp["blob"].to_pylist(), wp["dhash"].to_pylist()):
        assert PH.media_hash(blob)[1] == want


# ------------------------------------------- whole-media incremental
def _media_rows() -> list[tuple[int, bytearray]]:
    """Mixed-modality corpus with planted near-dup families (3
    members each, one-element perturbations) plus singletons and one
    undecodable blob."""
    import struct as _struct

    rows: list[tuple[int, bytearray]] = []
    mid = 0
    for fam in range(4):  # image families
        base = bytearray(
            b"".join(hashlib.md5(f"simg{fam}|{k}".encode()).digest() for k in range(16))
        )
        for member in range(3):
            mat = bytearray(base)
            if member:
                mat[(member * 31) % 256] = (mat[(member * 31) % 256] + 1) % 256
            rows.append((mid, bytearray(encode_png_gray8(bytes(mat), 16, 16))))
            mid += 1
    for fam in range(3):  # audio families
        raw = b"".join(
            hashlib.md5(f"swav{fam}|{k}".encode()).digest() for k in range(130)
        )
        samples = [s // 8 for s in _struct.unpack("<1040h", raw)]
        for member in range(3):
            s2 = list(samples)
            if member:
                s2[(member * 97) % 1040] += 200
            rows.append((mid, bytearray(encode_wav_pcm16(s2))))
            mid += 1
    for fam in range(3):  # video families
        frames = [
            bytearray(
                b"".join(
                    hashlib.md5(f"svid{fam}|{t}|{k}".encode()).digest()
                    for k in range(16)
                )
            )
            for t in range(4)
        ]
        for member in range(3):
            fr = [bytearray(f) for f in frames]
            if member:
                f = fr[member % 4]
                f[(member * 41) % 256] = (f[(member * 41) % 256] + 1) % 256
            rows.append(
                (mid, bytearray(encode_avi_gray8([bytes(f) for f in fr], 16, 16)))
            )
            mid += 1
    # singletons: one unique per modality
    rng = np.random.default_rng(5)
    rows.append((mid, bytearray(encode_png_gray8(bytes(rng.integers(0, 256, 256, dtype=np.uint8)), 16, 16)))); mid += 1
    rows.append((mid, bytearray(encode_wav_pcm16((rng.integers(-2000, 2000, 1040) // 8).tolist())))); mid += 1
    rows.append((mid, bytearray(b"not media")))  # undecodable
    return rows


def test_incremental_media_pairs_equal_full_rebuild(spark, tmp_path):
    """The media incremental contract: full == prior ∪ delta for
    id-disjoint snapshots, with the archive contributing only its
    PERSISTED band table (never re-decoded); re-ingested ids
    supersede their stored signatures."""
    from prod2vec_spark.operators.phash import (
        incremental_media_pairs,
        media_hashes,
        media_neardup_pairs,
        media_signatures,
    )

    rows = _media_rows()
    old_rows = [r for r in rows if r[0] % 2 == 0]
    new_rows = [r for r in rows if r[0] % 2 == 1]
    old = spark.createDataFrame(old_rows, "media_id long, blob binary")
    new = spark.createDataFrame(new_rows, "media_id long, blob binary")
    both = spark.createDataFrame(rows, "media_id long, blob binary")

    # persist the archive's band table (the incremental store)
    store = str(tmp_path / "media_bands")
    media_signatures(old).write.parquet(store)
    old_bands = spark.read.parquet(store)

    full = {
        (r["id_a"], r["id_b"])
        for r in media_neardup_pairs(media_hashes(both)).collect()
    }
    prior = {
        (r["id_a"], r["id_b"])
        for r in media_neardup_pairs(media_hashes(old)).collect()
    }
    delta = {
        (r["id_a"], r["id_b"])
        for r in incremental_media_pairs(old_bands, new).collect()
    }
    assert full == prior | delta
    assert delta  # the planted families straddle the id split
    # every delta pair involves a new id
    new_ids = {r[0] for r in new_rows}
    assert all(a in new_ids or b in new_ids for a, b in delta)

    # re-ingestion: a changed blob under an ARCHIVED id supersedes —
    # id 0 (image family 0's canonical, present in old_bands) re-
    # ingested as an unrelated image must stop pairing with member 2
    # (its stored band rows are dropped before grouping)
    rng = np.random.default_rng(77)
    unrelated = bytearray(
        encode_png_gray8(bytes(rng.integers(0, 256, 256, dtype=np.uint8)), 16, 16)
    )
    reingest = spark.createDataFrame(
        [(0, unrelated)], "media_id long, blob binary"
    )
    delta2 = {
        (r["id_a"], r["id_b"])
        for r in incremental_media_pairs(old_bands, reingest).collect()
    }
    assert not any(0 in pair for pair in delta2), delta2
