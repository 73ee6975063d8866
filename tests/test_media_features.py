"""Round-16 decode-once fusion: operators/phash.media_features must be
BIT-EQUIVALENT to the four standalone passes it replaces in the
curation pipeline's media stage — media_format_rows (fmt/status),
media_hashes (modality/mhash), image_tile_hashes (tiles) and
audio_window_hashes (windows) — over the planted mixed-format fixture
(every codec class incl. corrupt/unsupported/unknown rows)."""

from __future__ import annotations

import pandas as pd
import pytest

from prod2vec_spark.queries.common import _media_format_fixture_path


@pytest.fixture(scope="module")
def media(spark):
    df = pd.read_parquet(_media_format_fixture_path())
    return spark.createDataFrame(
        [(int(r["media_id"]), bytearray(r["blob"])) for _, r in df.iterrows()],
        "media_id long, blob binary",
    )


@pytest.fixture(scope="module")
def feats(media):
    from prod2vec_spark.operators.phash import media_features

    return media_features(media).collect()


def test_fmt_status_matches_media_format_rows(media, feats):
    from prod2vec_spark.operators.multimodal import media_format_rows

    want = {
        r["media_id"]: (r["fmt"], r["status"])
        for r in media_format_rows(media).collect()
    }
    got = {r["media_id"]: (r["fmt"], r["status"]) for r in feats}
    assert got == want


def test_modality_mhash_matches_media_hashes(media, feats):
    from prod2vec_spark.operators.phash import media_hashes

    want = {
        r["media_id"]: (r["modality"], r["mhash"])
        for r in media_hashes(media).collect()
    }
    got = {r["media_id"]: (r["modality"], r["mhash"]) for r in feats}
    assert got == want


def test_tiles_match_image_tile_hashes(media, feats):
    from prod2vec_spark.operators.phash import image_tile_hashes

    want: dict[int, set] = {}
    for r in image_tile_hashes(media).collect():
        want.setdefault(r["media_id"], set()).add(
            (r["tile_idx"], r["thash"])
        )
    got = {
        r["media_id"]: {(t["tile_idx"], t["thash"]) for t in r["tiles"]}
        for r in feats
        if r["tiles"]
    }
    assert got == want


def test_windows_match_audio_window_hashes(media, feats):
    from prod2vec_spark.operators.phash import audio_window_hashes

    want: dict[int, set] = {}
    for r in audio_window_hashes(media).collect():
        want.setdefault(r["media_id"], set()).add((r["win_idx"], r["whash"]))
    got = {
        r["media_id"]: {(w["win_idx"], w["whash"]) for w in r["wins"]}
        for r in feats
        if r["wins"]
    }
    assert got == want


def test_span_pairs_from_features_match_standalone(spark, media, feats):
    """The from-precomputed split halves reproduce the standalone span
    operators pair-for-pair when fed the fused features."""
    from pyspark.sql import functions as F

    from prod2vec_spark.operators.phash import (
        AUDIO_PLANE,
        IMAGE_PLANE,
        media_features,
        span_pairs,
        span_pairs_from_units,
    )

    fdf = media_features(media)
    tiles = fdf.select("media_id", F.explode("tiles").alias("t")).select(
        "media_id",
        F.col("t.tile_idx").alias("tile_idx"),
        F.col("t.thash").alias("thash"),
    )
    wins = fdf.select("media_id", F.explode("wins").alias("w")).select(
        "media_id",
        F.col("w.win_idx").alias("win_idx"),
        F.col("w.whash").alias("whash"),
    )
    key = lambda r: (r["id_a"], r["id_b"])  # noqa: E731
    assert sorted(
        map(key, span_pairs_from_units(IMAGE_PLANE, tiles).collect())
    ) == sorted(map(key, span_pairs(IMAGE_PLANE, media).collect()))
    assert sorted(
        map(key, span_pairs_from_units(AUDIO_PLANE, wins).collect())
    ) == sorted(map(key, span_pairs(AUDIO_PLANE, media).collect()))
