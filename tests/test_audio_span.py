"""Round-13 (VERDICT r12 ask #1): partial-audio span detection — the
third leg of the span triad (video frames → image tiles → audio
windows).  Whole-clip energy-gradient hashing misses an embedded
jingle the way whole-image hashing misses a crop; ``audio_window_hashes``
+ ``span_pairs(AUDIO_PLANE, ...)`` close that gap for insertion offsets aligned to
the window hop (the granularity contract documented on the operator,
mirroring frame_hashes' temporal sampling and the tile plane's
stride)."""

from __future__ import annotations

import numpy as np
import pytest

from prod2vec_spark.operators.multimodal import (
    encode_wav_adpcm,
    encode_wav_pcm16,
)
from prod2vec_spark.operators.phash import (
    AUDIO_PLANE,
    audio_mono,
    audio_window_hashes,
    incremental_span_pairs,
    span_pairs,
    span_signatures,
    window_rows_py,
)

RATE = 8000


def _sig(seed: int, n: int) -> list[int]:
    """Deterministic strong-margin audio content: a piecewise-constant
    envelope (100-sample steps, log-uniform levels spanning 30×) over
    a square-ish carrier.  Consecutive gradient sub-windows differ in
    energy by large margins, so the window hash is stable under ADPCM
    quantization (measured: PCM↔ADPCM Hamming ≤ 2) while UNRELATED
    seeds disagree on ~half the bits (measured: ≥ 20)."""
    rng = np.random.RandomState(seed)
    steps = n // 100 + 1
    lv = np.exp(rng.uniform(np.log(300), np.log(9000), steps))
    env = np.repeat(lv, 100)[:n]
    carrier = np.sign(
        np.sin(2 * np.pi * 440 * np.arange(n) / RATE + rng.uniform(0, 6))
    )
    return (env * carrier).astype(int).clip(-30000, 30000).tolist()


def test_audio_mono_shared_decode_door():
    s = _sig(7, RATE)
    dec = audio_mono(encode_wav_pcm16(s, RATE))
    assert dec is not None
    a, rate = dec
    assert rate == RATE and a.shape[0] == len(s)
    assert np.array_equal(a.astype(int), np.asarray(s))
    assert audio_mono(b"not audio") is None
    assert audio_mono(None) is None


def test_window_hashes_geometry_and_silence_skip(spark):
    """3 s at window=500ms/hop=250ms -> 11 anchored windows; digital
    silence emits ZERO rows (a constant window gradient-hashes to 0
    regardless of level and would pair unrelated silent lead-ins);
    undecodable blobs emit no rows (auditable upstream)."""
    rows = [
        (1, bytearray(encode_wav_pcm16(_sig(1, 3 * RATE), RATE))),
        (2, bytearray(encode_wav_pcm16([0] * (3 * RATE), RATE))),
        (3, bytearray(b"undecodable")),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    wh = audio_window_hashes(media, window_ms=500, hop_ms=250).collect()
    by_id: dict = {}
    for r in wh:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id.get(1, [])) == 11  # (24000 - 4000) / 2000 + 1
    assert 2 not in by_id  # silence skipped
    assert 3 not in by_id  # undecodable: no rows
    # hop-anchored indices are dense 0..10
    assert sorted(r["win_idx"] for r in by_id[1]) == list(range(11))


def test_embedded_jingle_recovered_cross_codec(spark):
    """The headline scenario: a 2 s jingle embedded at a hop-aligned
    offset inside a longer host clip pairs with the standalone jingle
    — ACROSS the PCM↔ADPCM codec boundary — while whole-clip hashes
    diverge and unrelated clips produce zero pairs."""
    jingle = _sig(1, 2 * RATE)
    host = _sig(2, RATE) + jingle + _sig(3, RATE)  # insert at 1000 ms
    rows = [
        (1, bytearray(encode_wav_pcm16(jingle, RATE))),
        (2, bytearray(encode_wav_adpcm(host, RATE))),  # lossy re-encode
        (3, bytearray(encode_wav_pcm16(_sig(9, 3 * RATE), RATE))),
        (4, bytearray(encode_wav_adpcm(_sig(10, 2 * RATE), RATE))),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    got = {
        (r["id_a"], r["id_b"]): r["n_shared_windows"]
        for r in span_pairs(
            AUDIO_PLANE, media, window_ms=500, hop_ms=250, max_distance=3, min_shared=2
        ).collect()
    }
    assert set(got) == {(1, 2)}, got
    # all 7 jingle windows re-anchor inside the host (offset = 4 hops)
    assert got[(1, 2)] == 7


def test_sub_hop_offset_documented_miss(spark):
    """The granularity contract, pinned: the SAME jingle inserted at a
    NON-hop-aligned offset (125 ms = half a hop) does not re-anchor,
    so no windows match — the documented trade, not a silent bug."""
    jingle = _sig(1, 2 * RATE)
    host = _sig(2, RATE + RATE // 8) + jingle + _sig(3, RATE)
    media = spark.createDataFrame(
        [
            (1, bytearray(encode_wav_pcm16(jingle, RATE))),
            (2, bytearray(encode_wav_pcm16(host, RATE))),
        ],
        "media_id long, blob binary",
    )
    assert (
        span_pairs(
            AUDIO_PLANE, media, window_ms=500, hop_ms=250, max_distance=3, min_shared=2
        ).count()
        == 0
    )


def test_gain_invariance_of_window_hashes():
    """Uniform gain scales every sub-window energy by g² on both sides
    of each gradient comparison — window hashes are bit-identical."""
    s = np.asarray(_sig(5, 2 * RATE), dtype=np.float64)
    a = dict(window_rows_py(s, RATE, 500, 250))
    b = dict(window_rows_py(s * 0.37, RATE, 500, 250))
    assert a == b and len(a) == 7


def test_incremental_twin_matches_batch(spark):
    """The hash-locked guarantee at the window plane:
    span_pairs(old ∪ new) == span_pairs(old) ∪
    incremental_span_pairs(bands, new),
    with the archive probed via its PERSISTED band table (never
    re-decoded)."""
    jingle = _sig(1, 2 * RATE)
    old_rows = [
        (1, bytearray(encode_wav_pcm16(jingle, RATE))),
        (2, bytearray(encode_wav_pcm16(_sig(9, 3 * RATE), RATE))),
    ]
    new_rows = [
        (3, bytearray(encode_wav_adpcm(_sig(2, RATE) + jingle, RATE))),
        (4, bytearray(encode_wav_pcm16(_sig(11, 2 * RATE), RATE))),
    ]
    old = spark.createDataFrame(old_rows, "media_id long, blob binary")
    new = spark.createDataFrame(new_rows, "media_id long, blob binary")
    both = old.unionByName(new)
    kw = dict(window_ms=500, hop_ms=250, max_distance=3, min_shared=2)

    batch = {
        (r["id_a"], r["id_b"]): r["n_shared_windows"]
        for r in span_pairs(AUDIO_PLANE, both, **kw).collect()
    }
    old_only = {
        (r["id_a"], r["id_b"]): r["n_shared_windows"]
        for r in span_pairs(AUDIO_PLANE, old, **kw).collect()
    }
    bands = span_signatures(AUDIO_PLANE, old, window_ms=500, hop_ms=250)
    inc = {
        (r["id_a"], r["id_b"]): r["n_shared_windows"]
        for r in incremental_span_pairs(AUDIO_PLANE, bands, new, **kw).collect()
    }
    assert {**old_only, **inc} == batch
    assert (1, 3) in inc  # the new clip's embedded jingle was caught


def test_window_id_overflow_guard_fails_loud(spark):
    """Parameter validation is loud, and normal params stay under the
    composite-id base (a clip long enough to overflow win_idx — ~5.8
    days at the default hop — is too slow to hash in a unit test; the
    in-loop guard is exercised by code inspection and the tile plane's
    equivalent test)."""
    long_clip = _sig(1, 8 * RATE)
    media = spark.createDataFrame(
        [(1, bytearray(encode_wav_pcm16(long_clip, RATE)))],
        "media_id long, blob binary",
    )
    # sanity: normal params do not raise
    assert audio_window_hashes(media, window_ms=500, hop_ms=250).count() > 0
    with pytest.raises(ValueError, match="must be positive"):
        audio_window_hashes(media, window_ms=0)
    with pytest.raises(ValueError, match="must be positive"):
        audio_window_hashes(media, hop_ms=-5)


def test_audio_window_fixture_matches_codec_chain(spark):
    """The persisted per-window hash table (the audio_span_audit
    query's input) must reproduce bit-for-bit through the REAL codec
    chain — a stratified sample re-derived via the distributed render
    (mapInPandas WAV encode → audio_window_hashes decode+hash) and the
    pure-Python recipe both match the fixture, so it can never
    silently diverge from the codec."""
    import duckdb

    from prod2vec_spark.queries.common import _audio_fixture_path
    from prod2vec_spark.queries.media import rendered_window_hashes, window_hash_rows

    sample_ids = list(range(0, 500, 37)) + [499]
    fx = duckdb.sql(
        f"SELECT doc_id, win_idx, whash FROM "
        f"read_parquet('{_audio_fixture_path()}') "
        f"WHERE doc_id IN ({','.join(map(str, sample_ids))})"
    ).fetchall()
    fixture = {(r[0], r[1]): r[2] for r in fx}
    py = {
        (d, wi): wh
        for d in sample_ids
        for _, wi, wh in window_hash_rows(d)
    }
    assert py == fixture
    ids = spark.createDataFrame([(i,) for i in sample_ids], "doc_id long")
    got = {
        (r["doc_id"], r["win_idx"]): r["whash"]
        for r in rendered_window_hashes(spark, ids).collect()
    }
    assert got == fixture


def test_audio_span_audit_recovers_planted_families(spark):
    """Every planted embedded-jingle family at sf0.001 surfaces as a
    pair ACROSS the PCM↔ADPCM codec boundary, every reported pair is
    within-family (same_family == 1 throughout — the self-audit), and
    the pair is exactly (even, odd) of its family."""
    from prod2vec_spark.queries import ALL_QUERIES
    from tests.conftest import SF_SMOKE

    rows = ALL_QUERIES["audio_span_audit"](spark, SF_SMOKE).collect()
    assert rows
    assert all(r["same_family"] == 1 for r in rows)
    got_fams = {r["id_a"] // 2 for r in rows}
    # sf0.001 documents: doc_id 0..499 -> families 0..249, all planted
    assert got_fams == set(range(250))
    for r in rows:
        assert r["n_shared_windows"] >= 3
        assert (r["id_a"], r["id_b"]) == (
            r["id_a"] // 2 * 2,
            r["id_a"] // 2 * 2 + 1,
        )
