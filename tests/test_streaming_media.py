"""Streaming media near-dedup gate (streaming/media.py): the
first-presenter contract checked against the batch media plane, plus
the exactly-once restart recipe — the media twin of
test_streaming_neardup.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from prod2vec_spark.operators import phash as PH
from prod2vec_spark.operators.phash import media_signatures
from prod2vec_spark.streaming.first_presenter import read_decisions
from prod2vec_spark.streaming.media import start_media_near_dedup_registry
from tests.first_presenter_oracle import assert_gate_matches_oracle
from tests.test_phash import _media_rows

import pytest

pytestmark = pytest.mark.slow  # e2e/replay file: driver-budget suite skips it (conftest hook)


def _drain(spark, landing, out, ckpt):
    """One availableNow drain; the registry sits next to ``out``."""
    stream = spark.readStream.schema("media_id long, blob binary").parquet(landing)
    start_media_near_dedup_registry(
        stream, f"{out}_registry", out, ckpt
    ).awaitTermination()


def test_media_first_presenter_gate_invariants(spark, tmp_path):
    """Single-batch drain: decisions cover exactly the hashed rows,
    the KEPT set yields ZERO batch near-dup pairs (pigeonhole: no
    shared band => no pair within distance < bands), each planted
    family keeps exactly its first presenter, and undecodable rows
    never reach the registry."""
    media = spark.createDataFrame(_media_rows(), "media_id long, blob binary")
    landing = str(tmp_path / "landing")
    media.coalesce(1).write.parquet(landing)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, landing, out, ckpt)

    decisions = read_decisions(spark, out, "media_id").localCheckpoint()
    hashed_ids = {
        r["media_id"]
        for r in PH.media_hashes(media).where(F.col("mhash").isNotNull()).collect()
    }
    assert {r["media_id"] for r in decisions.collect()} == hashed_ids
    assert decisions.count() == len(hashed_ids)

    kept = decisions.filter(F.col("keep") == 1).select("media_id")
    dropped = decisions.filter(F.col("keep") == 0)
    assert kept.count() > 0 and dropped.count() > 0

    # the batch pair plane over the kept subset must come up empty
    kept_media = media.join(kept, "media_id", "left_semi")
    assert (
        PH.media_neardup_pairs(PH.media_hashes(kept_media), id_col="media_id").count()
        == 0
    )

    # single batch => owner is the min id per signature: each planted
    # 3-member family keeps exactly its first member
    by_id = {r["media_id"]: r["keep"] for r in decisions.collect()}
    for base in range(0, 30, 3):
        fam = [by_id[base], by_id[base + 1], by_id[base + 2]]
        assert fam[0] == 1 and fam[1] == 0 and fam[2] == 0, (base, fam)


def test_media_gate_no_input_restart_is_idempotent(spark, tmp_path):
    media = spark.createDataFrame(_media_rows(), "media_id long, blob binary")
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


def test_media_gate_cross_batch_ownership(spark, tmp_path):
    """A later batch's near-dup of an already-committed row drops:
    the registry persists across drains (earliest batch wins) — and
    the registry and decisions equal the sequential oracle's after
    the restart wave and a no-input re-drain."""
    import shutil

    rows = _media_rows()
    base = [r for r in rows if r[0] < 3]  # image family 0, members 0-2
    landing = str(tmp_path / "landing")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    spark.createDataFrame(base[:1], "media_id long, blob binary").coalesce(
        1
    ).write.parquet(str(tmp_path / "b0"))
    shutil.copytree(str(tmp_path / "b0"), landing)
    _drain(spark, landing, out, ckpt)

    # second batch: the near-dup members arrive later
    spark.createDataFrame(base[1:], "media_id long, blob binary").coalesce(
        1
    ).write.mode("append").parquet(landing)
    _drain(spark, landing, out, ckpt)

    by_id = {
        r["media_id"]: r["keep"]
        for r in read_decisions(spark, out, "media_id").collect()
    }
    assert by_id[0] == 1   # committed first presenter stays kept
    assert by_id[1] == 0 and by_id[2] == 0  # later near-dups drop

    waves = [
        media_signatures(spark.createDataFrame(w, "media_id long, blob binary"))
        for w in (base[:1], base[1:])
    ]

    def check():
        return assert_gate_matches_oracle(
            spark, waves, ("modality", "band", "slice"), "media_id",
            f"{out}_registry", out, id_col="media_id",
        )

    assert check() == by_id
    _drain(spark, landing, out, ckpt)  # no new input
    assert check() == by_id
