"""Round-12 stretch (VERDICT r11 ask #6): tiled-dHash partial-image
duplicate detection — the spatial analog of the video plane's
per-frame span detection.  Whole-image dHash misses a cropped or
letterboxed duplicate the way whole-clip hashing misses an embedded
clip; ``image_tile_hashes`` + ``span_pairs(IMAGE_PLANE, ...)`` close that gap for
crop/pad offsets aligned to the tile stride (the granularity contract
documented on the operator, mirroring frame_hashes' temporal
sampling)."""

from __future__ import annotations

import numpy as np
import pytest

from prod2vec_spark.operators.multimodal import encode_png_gray8
from prod2vec_spark.operators.phash import (
    IMAGE_PLANE,
    image_gray,
    image_tile_hashes,
    span_pairs,
)


def _noise(seed: int, h: int = 64, w: int = 64) -> np.ndarray:
    """Deterministic full-entropy grayscale content: every 16x16 tile
    is unique, so cross-image tile matches are content matches, never
    smooth-gradient coincidences."""
    return np.random.RandomState(seed).randint(0, 256, (h, w), dtype=np.uint8)


def _png(a: np.ndarray) -> bytearray:
    h, w = a.shape
    return bytearray(encode_png_gray8(a.tobytes(), w, h))


def test_image_gray_shared_decode_door():
    a = _noise(7)
    g = image_gray(bytes(_png(a)))
    assert g is not None and g.shape == a.shape
    assert np.array_equal(g.astype(np.uint8), a)
    assert image_gray(b"not an image") is None
    assert image_gray(None) is None


def test_tile_hashes_geometry_and_constant_skip(spark):
    """64x64 at tile_px=16/stride=8 -> 7x7 anchored tiles; an
    all-constant image emits ZERO rows (flat tiles dHash to 0
    regardless of level and would pair unrelated letterbox bars)."""
    rows = [
        (1, _png(_noise(1))),
        (2, _png(np.full((64, 64), 200, dtype=np.uint8))),
        (3, bytearray(b"undecodable")),
    ]
    media = spark.createDataFrame(rows, "media_id long, blob binary")
    th = image_tile_hashes(media, tile_px=16, stride=8).collect()
    by_id: dict = {}
    for r in th:
        by_id.setdefault(r["media_id"], []).append(r)
    assert len(by_id.get(1, [])) == 49  # 7x7 grid
    assert 2 not in by_id  # constant tiles skipped
    assert 3 not in by_id  # undecodable: no rows (auditable upstream)
    one = {(r["tile_row"], r["tile_col"]) for r in by_id[1]}
    assert one == {(i, j) for i in range(7) for j in range(7)}
    idx = {(r["tile_row"], r["tile_col"]): r["tile_idx"] for r in by_id[1]}
    assert idx[(2, 3)] == 2 * 1024 + 3

    with pytest.raises(ValueError, match="tile_px"):
        image_tile_hashes(media, tile_px=1)
    with pytest.raises(ValueError, match="stride"):
        image_tile_hashes(media, stride=0)


def test_image_span_pairs_recovers_crop_and_letterbox(spark):
    """Planted family: original A, stride-aligned crop B, letterboxed
    C (black bars).  All three pair with >= min_shared shared tiles
    even though their WHOLE-image dHashes differ; an unrelated noise
    image produces zero pairs."""
    a = _noise(1)
    b = a[16:, 16:]  # 48x48 crop at a stride-multiple offset
    c = np.vstack(  # 16px letterbox bars top+bottom
        [np.zeros((16, 64), np.uint8), a, np.zeros((16, 64), np.uint8)]
    )
    d = _noise(2)  # unrelated
    media = spark.createDataFrame(
        [(1, _png(a)), (2, _png(b)), (3, _png(c)), (4, _png(d))],
        "media_id long, blob binary",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared_tiles"]
        for r in span_pairs(
            IMAGE_PLANE, media, tile_px=16, stride=8, min_shared=4
        ).collect()
    }
    assert set(pairs) == {(1, 2), (1, 3), (2, 3)}, pairs
    # the 48x48 crop carries 5x5 fully-aligned tiles
    assert pairs[(1, 2)] >= 25
    # whole-image dHash genuinely diverges on these (the gap the tile
    # plane exists to close)
    from prod2vec_spark.operators.phash import media_hash

    ha, hb = media_hash(bytes(_png(a)))[1], media_hash(bytes(_png(b)))[1]
    assert bin((ha ^ hb) & ((1 << 64) - 1)).count("1") > 3


def test_image_tile_fixture_matches_codec_chain(spark):
    """The persisted per-tile hash table (the image_span_audit query's
    input) must reproduce bit-for-bit through the REAL codec chain —
    a stratified sample re-derived via the distributed render
    (mapInPandas PNG encode → image_tile_hashes decode+dHash) and the
    pure-Python recipe both match the fixture, so it can never
    silently diverge from the codec."""
    import duckdb

    from prod2vec_spark.queries.common import _image_fixture_path
    from prod2vec_spark.queries.media import rendered_tile_hashes, tile_hash_rows

    sample_ids = list(range(0, 500, 37)) + [499]
    fx = duckdb.sql(
        f"SELECT doc_id, tile_idx, thash FROM "
        f"read_parquet('{_image_fixture_path()}') "
        f"WHERE doc_id IN ({','.join(map(str, sample_ids))})"
    ).fetchall()
    fixture = {(r[0], r[1]): r[2] for r in fx}
    # pure-Python recipe
    py = {
        (d, ti): th for d in sample_ids for _, ti, th in [
            (r[0], r[1], r[2]) for r in tile_hash_rows(d)
        ]
    }
    assert py == fixture
    # distributed codec chain
    ids = spark.createDataFrame([(i,) for i in sample_ids], "doc_id long")
    got = {
        (r["doc_id"], r["tile_idx"]): r["thash"]
        for r in rendered_tile_hashes(spark, ids).collect()
    }
    assert got == fixture


def test_image_span_audit_recovers_planted_families(spark):
    """Every planted crop/letterbox family at sf0.001 surfaces as a
    pair, every reported pair is within-family (same_family == 1
    throughout — the self-audit), and the crop members share the
    expected fully-aligned tile counts."""
    from prod2vec_spark.queries import ALL_QUERIES
    from tests.conftest import SF_SMOKE

    rows = ALL_QUERIES["image_span_audit"](spark, SF_SMOKE).collect()
    assert rows
    assert all(r["same_family"] == 1 for r in rows)
    got_fams = {r["id_a"] // 2 for r in rows}
    # sf0.001 documents: doc_id 0..499 -> families 0..249, all planted
    assert got_fams == set(range(250))
    for r in rows:
        assert r["n_shared_tiles"] >= 4
        assert (r["id_a"], r["id_b"]) == (r["id_a"] // 2 * 2, r["id_a"] // 2 * 2 + 1)


def test_incremental_image_span_matches_batch(spark):
    """The media-triad incremental contract, tile edition: probing a
    new snapshot against the persisted tile-band archive emits EXACTLY
    the delta pair set — batch(old ∪ new) == batch(old) ∪ incremental
    — with the archive never re-decoded and old×old pairs never
    re-emitted."""
    from prod2vec_spark.operators.phash import (
        incremental_span_pairs,
        span_signatures,
    )

    a, b = _noise(1), _noise(2)
    old_rows = [
        (1, _png(a)),
        (2, _png(a[16:, 16:])),     # old family: 1-2 pair
        (3, _png(b)),
    ]
    new_rows = [
        (4, _png(b[8:, 8:])),       # new crop of an ARCHIVED image
        (5, _png(_noise(3))),
        (6, _png(_noise(3)[16:, 16:])),  # new-only family: 5-6 pair
    ]
    old = spark.createDataFrame(old_rows, "media_id long, blob binary")
    new = spark.createDataFrame(new_rows, "media_id long, blob binary")
    both = spark.createDataFrame(
        old_rows + new_rows, "media_id long, blob binary"
    )
    kw = dict(tile_px=16, stride=8, min_shared=4)
    batch_all = {
        (r["id_a"], r["id_b"]): r["n_shared_tiles"]
        for r in span_pairs(IMAGE_PLANE, both, **kw).collect()
    }
    batch_old = {
        (r["id_a"], r["id_b"]): r["n_shared_tiles"]
        for r in span_pairs(IMAGE_PLANE, old, **kw).collect()
    }
    archive = span_signatures(IMAGE_PLANE, old, tile_px=16, stride=8)
    inc = {
        (r["id_a"], r["id_b"]): r["n_shared_tiles"]
        for r in incremental_span_pairs(IMAGE_PLANE, archive, new, **kw).collect()
    }
    assert batch_old == {(1, 2): batch_all[(1, 2)]}
    assert inc == {(3, 4): batch_all[(3, 4)], (5, 6): batch_all[(5, 6)]}
    merged = dict(batch_old)
    merged.update(inc)
    assert merged == batch_all
    # re-ingest: a changed id 3 supersedes its archived signatures —
    # its OLD tiles must not produce stale pairs
    new2 = spark.createDataFrame(
        [(3, _png(_noise(9)))], "media_id long, blob binary"
    )
    assert (
        incremental_span_pairs(IMAGE_PLANE, archive, new2, **kw).count() == 0
    )


def test_image_span_pairs_cross_codec_jpeg_letterbox(spark):
    """A JPEG letterbox of a PNG original still pairs: tile hashes ride
    the SAME decode door (image_gray), and the per-tile Hamming budget
    absorbs q90 loss on smooth content."""
    from prod2vec_spark.operators.jpeg import encode_jpeg_gray

    y, x = np.mgrid[0:64, 0:64]
    a = np.clip(
        128
        + 60 * np.sin(x / 3.1) * np.cos(y / 4.3)
        + 40 * np.sin((x + 2 * y) / 5.7),
        0,
        255,
    ).astype(np.uint8)
    boxed = np.vstack(
        [np.zeros((16, 64), np.uint8), a, np.zeros((16, 64), np.uint8)]
    )
    media = spark.createDataFrame(
        [
            (1, _png(a)),
            (2, bytearray(encode_jpeg_gray(boxed.tobytes(), 64, 96, quality=90))),
            (3, _png(_noise(9))),
        ],
        "media_id long, blob binary",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in span_pairs(
            IMAGE_PLANE, media, tile_px=16, stride=8, min_shared=4
        ).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_tile_id_overflow_guard_fails_loud(spark):
    """ADVICE r12 regression: tile_idx = tile_row*1024 + tile_col must
    stay below the composite-id base (1e6) or a tall scan's tiles
    silently bleed into the NEXT image id's space.  A pathological
    image (stride=1 making a 64px-wide image exceed 1024 tile cols is
    impractical to build; instead a tall-and-thin image with stride=1
    pushes tile_row past the base) must raise, not mispair."""
    # stride=1 on a (tile_px+N)-tall image yields N+1 tile rows; with
    # tile_px=2 a 1005-px-tall, 2-px-wide noise image yields 1004 tile
    # rows -> tile_idx up to 1004*1024 > 1_000_000 -> must raise.
    tall = _noise(11, h=1005, w=2)
    media = spark.createDataFrame(
        [(1, _png(tall))], "media_id long, blob binary"
    )
    with pytest.raises(Exception, match="composite tile-id space"):
        image_tile_hashes(media, tile_px=2, stride=1).collect()
