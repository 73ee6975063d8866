"""Round-15 audio_resample operator — the resize op's audio analog:
linear-interpolation rate normalization through the shared WAV
sample door (PCM + ADPCM, stereo channel-mean), Arrow-batched."""

from __future__ import annotations

import numpy as np
import pytest

from prod2vec_spark.operators.multimodal import (
    audio_resample,
    encode_wav_adpcm,
    encode_wav_pcm16,
    wav_samples,
)


def _sig(seed: int, n: int) -> list[int]:
    return [
        int(x)
        for x in np.random.default_rng(seed).integers(-3000, 3000, size=n)
    ]


def test_resample_identity_half_and_double(spark):
    """Same-rate input round-trips exactly; 2:1 downsample keeps every
    other sample exactly (integer grid positions); 1:2 upsample
    midpoints are the rounded sample means — all hand-checkable
    consequences of the linear grid."""
    s = _sig(7, 800)
    rows = [
        (1, bytearray(encode_wav_pcm16(s, sample_rate=16000))),
        (2, bytearray(encode_wav_pcm16(s, sample_rate=16000))),
        (3, bytearray(b"not audio")),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    got = {r["media_id"]: r for r in audio_resample(media, 16000).collect()}
    out, meta = wav_samples(bytes(got[1]["resampled"]))
    assert meta["framerate"] == 16000 and list(out) == s
    assert got[1]["src_rate"] == 16000 and got[1]["src_samples"] == 800
    assert got[3]["resampled"] is None and got[3]["src_rate"] is None

    down = {r["media_id"]: r for r in audio_resample(media, 8000).collect()}
    out, meta = wav_samples(bytes(down[1]["resampled"]))
    assert meta["framerate"] == 8000
    assert list(out) == s[::2][: len(out)]

    up = {r["media_id"]: r for r in audio_resample(media, 32000).collect()}
    out, _ = wav_samples(bytes(up[1]["resampled"]))
    assert out[0] == s[0] and out[2] == s[1]
    mid = (s[0] + s[1]) / 2.0
    want_mid = int(np.sign(mid) * np.floor(abs(mid) + 0.5))
    assert out[1] == want_mid


def test_resample_adpcm_and_stereo_through_shared_door(spark):
    """ADPCM decodes through the same door; stereo folds to the
    channel mean BEFORE resampling (the audio fingerprint's convention)."""
    s = _sig(8, 600)
    stereo = [v for pair in zip(s, s) for v in pair]  # L == R
    rows = [
        (1, bytearray(encode_wav_adpcm(s, sample_rate=8000))),
        (2, bytearray(encode_wav_pcm16(stereo, sample_rate=8000, n_channels=2))),
        (3, bytearray(encode_wav_pcm16(s, sample_rate=8000))),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    got = {r["media_id"]: r for r in audio_resample(media, 8000).collect()}
    # stereo with L == R collapses to the mono signal exactly
    o2, _ = wav_samples(bytes(got[2]["resampled"]))
    o3, _ = wav_samples(bytes(got[3]["resampled"]))
    assert list(o2) == list(o3) == s
    # ADPCM is lossy: the decoded stream resamples, not the original —
    # identity-rate output equals its own decode exactly
    dec, _ = wav_samples(bytes(rows[0][1]))
    o1, _ = wav_samples(bytes(got[1]["resampled"]))
    assert list(o1) == [int(x) for x in dec]
    with pytest.raises(ValueError, match="positive"):
        audio_resample(media, 0)


def test_resample_goldens_match_live_chain():
    """Honesty lock: the persisted 16 kHz resample digests equal the
    live decode→interpolate→encode chain over the fixture blobs."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    from prod2vec_spark.operators.multimodal import encode_wav_pcm16

    fixdir = os.path.join(os.path.dirname(__file__), "fixtures")
    src = pq.read_table(os.path.join(fixdir, "phash_pairs_audio.parquet"))
    gold = pq.read_table(os.path.join(fixdir, "resample_goldens.parquet"))
    want = dict(zip(gold["media_id"].to_pylist(), gold["res_md5"].to_pylist()))
    for m, b in zip(src["media_id"].to_pylist(), src["blob"].to_pylist()):
        samples, meta = wav_samples(b)
        a = np.asarray(samples, dtype=np.float64)
        src_rate = int(meta["framerate"])
        n_out = max(1, int(round(a.size * 16000 / src_rate)))
        pos = np.clip(
            np.arange(n_out, dtype=np.float64) * (src_rate / 16000.0),
            0.0,
            a.size - 1.0,
        )
        lo = np.floor(pos).astype(np.int64)
        hi = np.minimum(lo + 1, a.size - 1)
        frac = pos - lo
        out = a[lo] * (1.0 - frac) + a[hi] * frac
        q = np.clip(
            np.sign(out) * np.floor(np.abs(out) + 0.5), -32768, 32767
        ).astype(np.int64)
        wav = bytes(encode_wav_pcm16([int(x) for x in q], sample_rate=16000))
        assert hashlib.md5(wav).hexdigest() == want[m]


def test_resample_zero_rate_header_yields_the_null_row(spark):
    """A WAV whose ``fmt `` chunk says 0 Hz carries no usable signal:
    the audio door rejects it, so its row is NULL like any undecodable
    blob and the rest of the batch still resamples."""
    s = _sig(9, 300)
    good = bytearray(encode_wav_pcm16(s, sample_rate=8000))
    zero = bytearray(good)
    rate_at = zero.index(b"fmt ") + 12  # id, size, format tag, channels
    zero[rate_at : rate_at + 4] = (0).to_bytes(4, "little")
    media = spark.createDataFrame(
        [(1, zero), (2, good)], "media_id long, blob binary"
    )
    got = {r["media_id"]: r for r in audio_resample(media, 16000).collect()}
    assert got[1]["resampled"] is None
    assert got[1]["src_rate"] is None and got[1]["src_samples"] is None
    assert got[2]["src_rate"] == 8000 and got[2]["src_samples"] == 300
