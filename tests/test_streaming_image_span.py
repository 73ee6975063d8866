"""Streaming partial-image gate (streaming/span_gate.py, IMAGE_PLANE):
the tile plane's first-presenter contract checked against the batch span
plane, plus idempotent restart and cross-batch ownership — the
image-span twin of test_streaming_media.py."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from prod2vec_spark.operators.multimodal import encode_png_gray8
from prod2vec_spark.operators.phash import (
    IMAGE_PLANE,
    image_tile_hashes,
    span_pairs,
    span_signatures,
)
from prod2vec_spark.streaming.first_presenter import read_decisions
from prod2vec_spark.streaming.span_gate import start_span_gate
from tests.first_presenter_oracle import assert_gate_matches_oracle, span_keep

import pytest

pytestmark = pytest.mark.slow  # e2e/replay file: driver-budget suite skips it (conftest hook)

KW = dict(tile_px=16, stride=8)


def _noise(seed: int, h: int = 64, w: int = 64) -> np.ndarray:
    return np.random.RandomState(seed).randint(0, 256, (h, w), dtype=np.uint8)


def _png(a: np.ndarray) -> bytearray:
    h, w = a.shape
    return bytearray(encode_png_gray8(a.tobytes(), w, h))


def _rows() -> list[tuple[int, bytearray]]:
    """Three planted families (original + stride-aligned crop +
    letterbox), two singletons, one undecodable blob."""
    rows: list[tuple[int, bytearray]] = []
    mid = 0
    for fam in range(3):
        a = _noise(fam + 1)
        crop = a[16:, 16:]
        boxed = np.vstack(
            [np.zeros((16, 64), np.uint8), a, np.zeros((16, 64), np.uint8)]
        )
        for img in (a, crop, boxed):
            rows.append((mid, _png(img)))
            mid += 1
    rows.append((mid, _png(_noise(50)))); mid += 1
    rows.append((mid, _png(_noise(51)))); mid += 1
    rows.append((mid, bytearray(b"not an image")))
    return rows


def _drain(spark, landing, out, ckpt):
    """One availableNow drain; the registry sits next to ``out``."""
    stream = spark.readStream.schema("media_id long, blob binary").parquet(
        landing
    )
    start_span_gate(
        IMAGE_PLANE, stream, f"{out}_registry", out, ckpt, **KW
    ).awaitTermination()


def test_image_span_gate_invariants(spark, tmp_path):
    """Single-batch drain: decisions cover exactly the tiled rows,
    each planted family keeps exactly its first presenter, the KEPT
    set yields ZERO batch span pairs, and singletons/undecodables are
    never dropped."""
    media = spark.createDataFrame(_rows(), "media_id long, blob binary")
    landing = str(tmp_path / "landing")
    media.coalesce(1).write.parquet(landing)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, landing, out, ckpt)

    decisions = read_decisions(spark, out, "media_id").localCheckpoint()
    tiled_ids = {
        r["media_id"]
        for r in image_tile_hashes(media, **KW).select("media_id").collect()
    }
    assert {r["media_id"] for r in decisions.collect()} == tiled_ids
    assert 11 not in tiled_ids  # the undecodable blob never tiles

    by_id = {r["media_id"]: r["keep"] for r in decisions.collect()}
    for base in (0, 3, 6):  # family = (original, crop, letterbox)
        assert by_id[base] == 1, base       # first presenter kept
        assert by_id[base + 1] == 0, base   # crop drops
        assert by_id[base + 2] == 0, base   # letterbox drops
    assert by_id[9] == 1 and by_id[10] == 1  # singletons kept

    # batch span plane over the kept subset: empty
    kept = decisions.filter(F.col("keep") == 1).select("media_id")
    kept_media = media.join(kept, "media_id", "left_semi")
    assert span_pairs(IMAGE_PLANE, kept_media, min_shared=4, **KW).count() == 0


def test_image_span_gate_restart_idempotent(spark, tmp_path):
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


def test_image_span_gate_cross_batch_ownership(spark, tmp_path):
    """A later batch's crop of an already-committed image drops:
    the registry persists across drains (earliest batch wins) — and
    the registry and decisions equal the sequential oracle's after
    the restart wave and a no-input re-drain."""
    rows = _rows()
    landing = str(tmp_path / "landing")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    spark.createDataFrame(rows[:1], "media_id long, blob binary").coalesce(
        1
    ).write.parquet(landing)
    _drain(spark, landing, out, ckpt)

    spark.createDataFrame(rows[1:3], "media_id long, blob binary").coalesce(
        1
    ).write.mode("append").parquet(landing)
    _drain(spark, landing, out, ckpt)

    by_id = {
        r["media_id"]: r["keep"]
        for r in read_decisions(spark, out, "media_id").collect()
    }
    assert by_id[0] == 1              # committed first presenter stays
    assert by_id[1] == 0 and by_id[2] == 0  # later crop/letterbox drop

    waves = [
        span_signatures(
            IMAGE_PLANE, spark.createDataFrame(w, "media_id long, blob binary"), **KW
        )
        for w in (rows[:1], rows[1:3])
    ]

    def check():
        return assert_gate_matches_oracle(
            spark, waves, ("band", "slice"), "unit", f"{out}_registry", out,
            id_col="media_id", carry="hash",
            keep=lambda rows, reg: span_keep(
                rows, reg, IMAGE_PLANE.id_base, IMAGE_PLANE.min_shared
            ),
        )

    assert check() == by_id
    _drain(spark, landing, out, ckpt)  # no new input
    assert check() == by_id
