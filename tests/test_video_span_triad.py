"""Round-13: the frame plane gains its incremental and streaming legs
(span_signatures / incremental_span_pairs over VIDEO_PLANE, and the
span gate of streaming/span_gate.py) — the 3×3 span matrix
(video/image/audio × batch/incremental/streaming) is complete.  Same
planted-scene corpus shape as tests/test_video.py's span test, with
an animated-GIF member so the cross-container door is exercised in
both new legs."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from prod2vec_spark.operators.gif import encode_gif_animated
from prod2vec_spark.operators.multimodal import encode_avi_gray8
from prod2vec_spark.operators.phash import (
    VIDEO_PLANE,
    frame_hashes,
    incremental_span_pairs,
    span_pairs,
    span_signatures,
)
from prod2vec_spark.streaming.first_presenter import read_decisions
from prod2vec_spark.streaming.span_gate import start_span_gate
from tests.first_presenter_oracle import assert_gate_matches_oracle, span_keep

W, H = 32, 24
KW = dict(every_ms=250)


def _frames(n: int, seed: int) -> list[bytes]:
    rng = np.random.RandomState(seed)
    return [
        rng.randint(0, 256, (H, W), dtype=np.uint8).tobytes()
        for _ in range(n)
    ]


SCENE = _frames(4, 1)


def _rows() -> list[tuple[int, bytearray]]:
    """One scene family across containers (AVI scene original, AVI
    host embedding it, animated-GIF re-render of the scene), two
    singletons, one undecodable blob."""
    return [
        (0, bytearray(encode_avi_gray8(SCENE, W, H, fps=4))),
        (1, bytearray(
            encode_avi_gray8(_frames(3, 2) + SCENE + _frames(2, 3), W, H, fps=4)
        )),
        (2, bytearray(encode_gif_animated(SCENE, W, H, delay_ms=250))),
        (3, bytearray(encode_avi_gray8(_frames(5, 9), W, H, fps=4))),
        (4, bytearray(encode_gif_animated(_frames(4, 10), W, H, delay_ms=250))),
        (5, bytearray(b"not a video")),
    ]


def test_incremental_video_span_matches_batch(spark):
    """The hash-locked guarantee at the frame plane:
    span_pairs(old ∪ new) == span_pairs(old) ∪
    incremental_span_pairs(bands, new), with the archive probed
    via its PERSISTED band table — including a NEW animated-GIF clip
    matching an archived AVI scene (cross-container, never
    re-decoded)."""
    rows = _rows()
    old = spark.createDataFrame(rows[:2] + rows[3:4], "media_id long, blob binary")
    new = spark.createDataFrame(
        [rows[2], rows[4]], "media_id long, blob binary"
    )
    both = old.unionByName(new)
    kw = dict(max_distance=3, min_shared=2, **KW)

    batch = {
        (r["id_a"], r["id_b"]): r["n_shared_frames"]
        for r in span_pairs(VIDEO_PLANE, both, **kw).collect()
    }
    old_only = {
        (r["id_a"], r["id_b"]): r["n_shared_frames"]
        for r in span_pairs(VIDEO_PLANE, old, **kw).collect()
    }
    bands = span_signatures(VIDEO_PLANE, old, **KW)
    inc = {
        (r["id_a"], r["id_b"]): r["n_shared_frames"]
        for r in incremental_span_pairs(VIDEO_PLANE, bands, new, **kw).collect()
    }
    assert {**old_only, **inc} == batch
    assert (0, 2) in inc and (1, 2) in inc  # the new GIF's scene caught


def test_video_span_gate_invariants(spark, tmp_path):
    """Single-batch drain: decisions cover exactly the frame-bearing
    rows, the scene family keeps only its first presenter (the AVI
    host AND the GIF re-render both drop), the KEPT set yields ZERO
    batch span pairs, singletons/undecodables are never dropped."""
    media = spark.createDataFrame(_rows(), "media_id long, blob binary")
    landing = str(tmp_path / "landing")
    media.coalesce(1).write.parquet(landing)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = spark.readStream.schema("media_id long, blob binary").parquet(
        landing
    )
    registry = str(tmp_path / "registry")
    start_span_gate(
        VIDEO_PLANE, stream, registry, out, ckpt, **KW
    ).awaitTermination()

    decisions = read_decisions(spark, out, "media_id").localCheckpoint()
    framed_ids = {
        r["media_id"]
        for r in frame_hashes(media, **KW).select("media_id").collect()
    }
    assert {r["media_id"] for r in decisions.collect()} == framed_ids
    assert 5 not in framed_ids  # undecodable: no frames

    by_id = {r["media_id"]: r["keep"] for r in decisions.collect()}
    assert by_id[0] == 1          # first presenter kept
    assert by_id[1] == 0          # AVI host drops
    assert by_id[2] == 0          # GIF re-render drops (cross-container)
    assert by_id[3] == 1 and by_id[4] == 1  # singletons kept

    kept = decisions.filter(F.col("keep") == 1).select("media_id")
    kept_media = media.join(kept, "media_id", "left_semi")
    assert span_pairs(VIDEO_PLANE, kept_media, min_shared=2, **KW).count() == 0

    assert by_id == assert_gate_matches_oracle(
        spark, [span_signatures(VIDEO_PLANE, media, **KW)], ("band", "slice"),
        "unit", registry, out, id_col="media_id", carry="hash",
        keep=lambda rows, reg: span_keep(
            rows, reg, VIDEO_PLANE.id_base, VIDEO_PLANE.min_shared
        ),
    )


def _drain(spark, landing, out, ckpt):
    """One availableNow drain; the registry sits next to ``out``."""
    stream = spark.readStream.schema("media_id long, blob binary").parquet(
        landing
    )
    start_span_gate(
        VIDEO_PLANE, stream, f"{out}_registry", out, ckpt, **KW
    ).awaitTermination()


def test_video_span_gate_cross_batch_ownership(spark, tmp_path):
    """A later batch's re-use of an already-committed scene drops: the
    AVI host and the animated-GIF re-render arrive after the AVI scene
    original and both drop against its registered frames — and the
    registry and decisions equal the sequential oracle's after each
    wave and after a no-input re-drain."""
    rows = _rows()
    landing = str(tmp_path / "landing")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    waves = (rows[:1], rows[1:3])
    sigs = [
        span_signatures(
            VIDEO_PLANE, spark.createDataFrame(w, "media_id long, blob binary"), **KW
        )
        for w in waves
    ]

    def check(n_waves):
        return assert_gate_matches_oracle(
            spark, sigs[:n_waves], ("band", "slice"), "unit",
            f"{out}_registry", out, id_col="media_id", carry="hash",
            keep=lambda rows, reg: span_keep(
                rows, reg, VIDEO_PLANE.id_base, VIDEO_PLANE.min_shared
            ),
        )

    spark.createDataFrame(waves[0], "media_id long, blob binary").coalesce(
        1
    ).write.parquet(landing)
    _drain(spark, landing, out, ckpt)
    assert check(1) == {0: 1}

    spark.createDataFrame(waves[1], "media_id long, blob binary").coalesce(
        1
    ).write.mode("append").parquet(landing)
    _drain(spark, landing, out, ckpt)
    by_id = {
        r["media_id"]: r["keep"]
        for r in read_decisions(spark, out, "media_id").collect()
    }
    assert by_id == {0: 1, 1: 0, 2: 0}  # host and GIF re-render drop
    assert check(2) == by_id

    _drain(spark, landing, out, ckpt)  # no new input
    assert check(2) == by_id
