"""Round-13: the frame plane gains its incremental and streaming legs
(frame_band_table / incremental_video_span_pairs, the VIDEO_PLANE of
streaming/span_gate.py) — the 3×3 span matrix (video/image/audio ×
batch/incremental/streaming) is complete.  Same planted-scene corpus
shape as tests/test_video.py's span test, with an animated-GIF member
so the cross-container door is exercised in both new legs."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from prod2vec_spark.operators.gif import encode_gif_animated
from prod2vec_spark.operators.multimodal import encode_avi_gray8
from prod2vec_spark.operators.phash import (
    frame_band_table,
    frame_hashes,
    incremental_video_span_pairs,
    video_span_pairs,
)
from prod2vec_spark.streaming.first_presenter import read_decisions
from prod2vec_spark.streaming.span_gate import (
    VIDEO_PLANE,
    span_signatures,
    start_span_gate,
)
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
    video_span_pairs(old ∪ new) == video_span_pairs(old) ∪
    incremental_video_span_pairs(bands, new), with the archive probed
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
        for r in video_span_pairs(both, **kw).collect()
    }
    old_only = {
        (r["id_a"], r["id_b"]): r["n_shared_frames"]
        for r in video_span_pairs(old, **kw).collect()
    }
    bands = frame_band_table(old, **KW)
    inc = {
        (r["id_a"], r["id_b"]): r["n_shared_frames"]
        for r in incremental_video_span_pairs(bands, new, **kw).collect()
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
    assert video_span_pairs(kept_media, min_shared=2, **KW).count() == 0

    assert by_id == assert_gate_matches_oracle(
        spark, [span_signatures(VIDEO_PLANE, media, **KW)], ("band", "slice"),
        "unit", registry, out, id_col="media_id", carry="hash",
        keep=lambda rows, reg: span_keep(
            rows, reg, VIDEO_PLANE.id_base, VIDEO_PLANE.min_shared
        ),
    )
