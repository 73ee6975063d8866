"""Round-11: compressed audio — mono IMA/DVI ADPCM (WAVE format tag
0x0011) encode/decode in operators/multimodal.py, the audio twin of
the MJPEG branch.  ADPCM is lossy (step-adaptive 4-bit deltas), so
roundtrips bound error; fingerprint tests use amplitude-modulated
sinusoids (energy-envelope-shaped signals, the honest fixture for an
energy-gradient hash — white noise's window energies sit at the
gradient sign boundary and are NOT codec-stable)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from prod2vec_spark.operators import phash as PH
from prod2vec_spark.operators.multimodal import (
    decode_blob,
    encode_wav_adpcm,
    encode_wav_pcm16,
    wav_samples,
)

SR = 8000
N = 4000


def _am(seed: int, glitch: int = 0) -> list[int]:
    """AM sinusoid: 440 Hz carrier under a seeded low-frequency
    envelope — distinct energy envelopes per seed."""
    t = np.arange(N)
    rng = np.random.default_rng(seed)
    env = 2000 + 1800 * np.sin(2 * np.pi * t / N * (2 + seed % 5) + rng.uniform(0, 6))
    s = (env * np.sin(2 * np.pi * 440 * t / SR + seed)).astype(int)
    if glitch:
        s[glitch * 7] += 40
    return s.tolist()


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_adpcm_roundtrip_bounded_error_and_4x_compression():
    sig = _am(1)
    blob = encode_wav_adpcm(sig, sample_rate=SR)
    assert len(blob) < len(encode_wav_pcm16(sig)) / 3.5  # ~4x smaller
    got, meta = wav_samples(blob)
    assert meta["codec"] == "ima_adpcm"
    assert (meta["framerate"], meta["n_channels"]) == (SR, 1)
    assert len(got) == len(sig)
    rms_sig = math.sqrt(sum(s * s for s in sig) / N)
    rms_err = math.sqrt(sum((a - b) ** 2 for a, b in zip(sig, got)) / N)
    assert rms_err < 0.1 * rms_sig  # ~25 dB SNR steady state


def test_adpcm_fact_chunk_truncates_block_padding_exactly():
    for n in (0, 1, 2, 504, 505, 506, 1011):
        sig = _am(2)[: n if n else 0]
        got, meta = wav_samples(encode_wav_adpcm(sig))
        assert len(got) == n, (n, len(got))
        assert meta["n_frames"] == n


def test_adpcm_decode_wav_features():
    sig = _am(3)
    blob = encode_wav_adpcm(sig, sample_rate=SR)
    assert decode_blob(blob)[:2] == ("wav", "decoded")
    samples, m = wav_samples(blob)
    assert m["codec"] == "ima_adpcm"  # 4-bit on-wire nibbles
    assert m["framerate"] == SR
    assert m["n_frames"] / m["framerate"] * 1000.0 == pytest.approx(N / SR * 1000.0)

    def rms(x):
        return float(np.sqrt(np.mean(np.asarray(x, dtype=np.float64) ** 2)))

    rms_pcm = rms(wav_samples(encode_wav_pcm16(sig, sample_rate=SR))[0])
    assert rms(samples) == pytest.approx(rms_pcm, rel=0.02)  # energy preserved


def test_adpcm_rejects_stereo_and_garbage():
    blob = bytearray(encode_wav_adpcm(_am(4)))
    i = bytes(blob).index(b"fmt ") + 8
    blob[i + 2 : i + 4] = (2).to_bytes(2, "little")  # nChannels = 2
    with pytest.raises(ValueError, match="mono"):
        wav_samples(bytes(blob))
    # a truncated ADPCM blob is 'corrupt', never mis-decoded
    full = encode_wav_adpcm(_am(4))
    assert decode_blob(full)[:2] == ("wav", "decoded")
    assert decode_blob(full[:50])[:2] == ("wav", "corrupt")


def test_adpcm_rejects_bad_block_align():
    """block_align < 8 (spb<=0 at <5: a silently empty data chunk
    while fact records len(samples)) or odd (breaks the exact
    nibble-padding arithmetic) must raise, mirroring the other codecs'
    loud-rejection contract."""
    for ba in (0, 3, 4, 6, 7, 9, 255):
        with pytest.raises(ValueError, match="block_align"):
            encode_wav_adpcm(_am(4), block_align=ba)
    # the minimum legal align still roundtrips
    got, meta = wav_samples(encode_wav_adpcm(_am(4), block_align=8))
    assert meta["codec"] == "ima_adpcm" and len(got) == len(_am(4))


def test_pcm_path_unchanged_by_dispatch():
    sig = _am(5)
    got, meta = wav_samples(encode_wav_pcm16(sig))
    assert meta["codec"] == "pcm"
    assert list(got) == [max(-32768, min(32767, s)) for s in sig]


def test_ahash_stable_across_codec():
    """The energy-gradient fingerprint must not move under ADPCM loss
    on envelope-shaped audio; unrelated clips stay far."""
    for seed in range(4):
        sig = _am(10 + seed)
        hp = PH.media_hash(encode_wav_pcm16(sig))[1]
        ha = PH.media_hash(encode_wav_adpcm(sig))[1]
        assert _ham(hp, ha) <= 2, seed
    far = PH.media_hash(encode_wav_adpcm(_am(77)))[1]
    assert _ham(PH.media_hash(encode_wav_adpcm(_am(10)))[1], far) > 10


@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_adpcm_neardup_planted_families(spark):
    """Planted near-duplicate audio families survive ADPCM: the
    compressed twin of test_phash_audio_neardup_planted_families."""
    rows = []
    fam = {}
    mid = 0
    for f in range(4):
        for v in range(3):
            rows.append((mid, bytearray(encode_wav_adpcm(_am(30 + f, glitch=v)))))
            fam[mid] = f
            mid += 1
    rows.append((999, bytearray(b"not audio")))
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    hashes = PH.media_hashes(media).select(
        "media_id", F.col("mhash").alias("ahash")
    )
    assert hashes.where(F.col("media_id") == 999).collect()[0]["ahash"] is None
    pairs = PH.phash_neardup(hashes, hash_col="ahash", max_distance=3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    within = {(a, b) for a in fam for b in fam if a < b and fam[a] == fam[b]}
    assert within <= got
    assert all(fam[a] == fam[b] for a, b in got)
