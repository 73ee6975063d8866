"""The frame plane's incremental leg (span_signatures /
incremental_span_pairs over VIDEO_PLANE) against its batch leg.  Same
planted-scene corpus shape as tests/test_video.py's span test, with
an animated-GIF member so the cross-container door is exercised."""

from __future__ import annotations

import numpy as np

from prod2vec_spark.operators.gif import encode_gif_animated
from prod2vec_spark.operators.multimodal import encode_avi_gray8
from prod2vec_spark.operators.phash import (
    VIDEO_PLANE,
    incremental_span_pairs,
    span_pairs,
    span_signatures,
)

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
