"""Streaming partial-audio gate (streaming/span_gate.py, AUDIO_PLANE):
the window plane's first-presenter contract checked against the batch span plane,
plus idempotent restart and cross-batch ownership — the audio twin of
test_streaming_image_span.py, completing the streaming leg of the
span triad."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from prod2vec_spark.operators.multimodal import (
    encode_wav_adpcm,
    encode_wav_pcm16,
)
from prod2vec_spark.operators.phash import (
    AUDIO_PLANE,
    audio_window_hashes,
    span_pairs,
    span_signatures,
)
from prod2vec_spark.streaming.first_presenter import read_decisions
from prod2vec_spark.streaming.span_gate import start_span_gate
from tests.first_presenter_oracle import assert_gate_matches_oracle, span_keep

import pytest

pytestmark = pytest.mark.slow  # e2e/replay file: driver-budget suite skips it (conftest hook)

RATE = 8000
KW = dict(window_ms=500, hop_ms=250)


def _sig(seed: int, n: int) -> list[int]:
    """The strong-margin planted signal (test_audio_span._sig)."""
    rng = np.random.RandomState(seed)
    steps = n // 100 + 1
    lv = np.exp(rng.uniform(np.log(300), np.log(9000), steps))
    env = np.repeat(lv, 100)[:n]
    carrier = np.sign(
        np.sin(2 * np.pi * 440 * np.arange(n) / RATE + rng.uniform(0, 6))
    )
    return (env * carrier).astype(int).clip(-30000, 30000).tolist()


def _rows() -> list[tuple[int, bytearray]]:
    """Two planted jingle families (standalone PCM original + ADPCM
    host with the jingle embedded hop-aligned), two singletons, one
    undecodable blob."""
    rows: list[tuple[int, bytearray]] = []
    mid = 0
    for fam in range(2):
        jingle = _sig(fam + 1, 2 * RATE)
        host = _sig(20 + fam, RATE) + jingle + _sig(30 + fam, RATE)
        rows.append((mid, bytearray(encode_wav_pcm16(jingle, RATE)))); mid += 1
        rows.append((mid, bytearray(encode_wav_adpcm(host, RATE)))); mid += 1
    rows.append((mid, bytearray(encode_wav_pcm16(_sig(50, 3 * RATE), RATE)))); mid += 1
    rows.append((mid, bytearray(encode_wav_adpcm(_sig(51, 2 * RATE), RATE)))); mid += 1
    rows.append((mid, bytearray(b"not audio")))
    return rows


def _drain(spark, landing, out, ckpt):
    """One availableNow drain; the registry sits next to ``out``."""
    stream = spark.readStream.schema("media_id long, blob binary").parquet(
        landing
    )
    start_span_gate(
        AUDIO_PLANE, stream, f"{out}_registry", out, ckpt, **KW
    ).awaitTermination()


def test_audio_span_gate_invariants(spark, tmp_path):
    """Single-batch drain: decisions cover exactly the windowed rows,
    each planted family keeps exactly its first presenter (the
    ADPCM-hosted embed drops ACROSS the codec boundary), the KEPT set
    yields ZERO batch span pairs, and singletons/undecodables are
    never dropped."""
    media = spark.createDataFrame(_rows(), "media_id long, blob binary")
    landing = str(tmp_path / "landing")
    media.coalesce(1).write.parquet(landing)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, landing, out, ckpt)

    decisions = read_decisions(spark, out, "media_id").localCheckpoint()
    windowed_ids = {
        r["media_id"]
        for r in audio_window_hashes(media, **KW).select("media_id").collect()
    }
    assert {r["media_id"] for r in decisions.collect()} == windowed_ids
    assert 6 not in windowed_ids  # the undecodable blob never windows

    by_id = {r["media_id"]: r["keep"] for r in decisions.collect()}
    for base in (0, 2):  # family = (PCM jingle, ADPCM embed host)
        assert by_id[base] == 1, base      # first presenter kept
        assert by_id[base + 1] == 0, base  # cross-codec embed drops
    assert by_id[4] == 1 and by_id[5] == 1  # singletons kept

    # batch span plane over the kept subset: empty
    kept = decisions.filter(F.col("keep") == 1).select("media_id")
    kept_media = media.join(kept, "media_id", "left_semi")
    assert span_pairs(AUDIO_PLANE, kept_media, min_shared=2, **KW).count() == 0


def test_audio_span_gate_restart_idempotent(spark, tmp_path):
    media = spark.createDataFrame(_rows(), "media_id long, blob binary")
    landing = str(tmp_path / "landing")
    media.coalesce(1).write.parquet(landing)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, landing, out, ckpt)
    first = {
        (r["media_id"], r["keep"])
        for r in read_decisions(spark, out, "media_id").collect()
    }
    _drain(spark, landing, out, ckpt)  # no new input
    second = {
        (r["media_id"], r["keep"])
        for r in read_decisions(spark, out, "media_id").collect()
    }
    assert first == second and first


def test_audio_span_gate_cross_batch_ownership(spark, tmp_path):
    """A later batch's embed of an already-committed jingle drops:
    the registry persists across drains (earliest batch wins), the
    verify crosses the PCM→ADPCM boundary, and the registry and
    decisions equal the sequential oracle's after the restart wave
    and a no-input re-drain."""
    rows = _rows()
    landing = str(tmp_path / "landing")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    spark.createDataFrame(rows[:1], "media_id long, blob binary").coalesce(
        1
    ).write.parquet(landing)
    _drain(spark, landing, out, ckpt)

    spark.createDataFrame(rows[1:2], "media_id long, blob binary").coalesce(
        1
    ).write.mode("append").parquet(landing)
    _drain(spark, landing, out, ckpt)

    by_id = {
        r["media_id"]: r["keep"]
        for r in read_decisions(spark, out, "media_id").collect()
    }
    assert by_id[0] == 1  # committed first presenter stays
    assert by_id[1] == 0  # later cross-codec embed drops

    waves = [
        span_signatures(
            AUDIO_PLANE, spark.createDataFrame(w, "media_id long, blob binary"), **KW
        )
        for w in (rows[:1], rows[1:2])
    ]

    def check():
        return assert_gate_matches_oracle(
            spark, waves, ("band", "slice"), "unit", f"{out}_registry", out,
            id_col="media_id", carry="hash",
            keep=lambda rows, reg: span_keep(
                rows, reg, AUDIO_PLANE.id_base, AUDIO_PLANE.min_shared
            ),
        )

    assert check() == by_id
    _drain(spark, landing, out, ckpt)  # no new input
    assert check() == by_id
