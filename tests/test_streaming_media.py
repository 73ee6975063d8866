"""Streaming media near-dedup gate (streaming/media.py): the
first-presenter contract checked against the batch media plane, plus
the exactly-once restart recipe — the media twin of
test_streaming_neardup.py."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from prod2vec_spark.operators import phash as PH
from prod2vec_spark.operators.multimodal import (
    encode_avi_gray8,
    encode_png_gray8,
    encode_wav_pcm16,
)
from prod2vec_spark.streaming.first_presenter import read_decisions
from prod2vec_spark.streaming.media import (
    media_signatures,
    start_media_near_dedup_registry,
)
from tests.first_presenter_oracle import assert_gate_matches_oracle

import pytest

pytestmark = pytest.mark.slow  # e2e/replay file: driver-budget suite skips it (conftest hook)


def _media_rows() -> list[tuple[int, bytearray]]:
    """Mixed-modality corpus with planted near-dup families (3
    members each, one-element perturbations) plus singletons and one
    undecodable blob."""
    import struct as _struct

    rows: list[tuple[int, bytearray]] = []
    mid = 0
    for fam in range(4):  # image families
        base = bytearray(
            b"".join(hashlib.md5(f"simg{fam}|{k}".encode()).digest() for k in range(16))
        )
        for member in range(3):
            mat = bytearray(base)
            if member:
                mat[(member * 31) % 256] = (mat[(member * 31) % 256] + 1) % 256
            rows.append((mid, bytearray(encode_png_gray8(bytes(mat), 16, 16))))
            mid += 1
    for fam in range(3):  # audio families
        raw = b"".join(
            hashlib.md5(f"swav{fam}|{k}".encode()).digest() for k in range(130)
        )
        samples = [s // 8 for s in _struct.unpack("<1040h", raw)]
        for member in range(3):
            s2 = list(samples)
            if member:
                s2[(member * 97) % 1040] += 200
            rows.append((mid, bytearray(encode_wav_pcm16(s2))))
            mid += 1
    for fam in range(3):  # video families
        frames = [
            bytearray(
                b"".join(
                    hashlib.md5(f"svid{fam}|{t}|{k}".encode()).digest()
                    for k in range(16)
                )
            )
            for t in range(4)
        ]
        for member in range(3):
            fr = [bytearray(f) for f in frames]
            if member:
                f = fr[member % 4]
                f[(member * 41) % 256] = (f[(member * 41) % 256] + 1) % 256
            rows.append(
                (mid, bytearray(encode_avi_gray8([bytes(f) for f in fr], 16, 16)))
            )
            mid += 1
    # singletons: one unique per modality
    rng = np.random.default_rng(5)
    rows.append((mid, bytearray(encode_png_gray8(bytes(rng.integers(0, 256, 256, dtype=np.uint8)), 16, 16)))); mid += 1
    rows.append((mid, bytearray(encode_wav_pcm16((rng.integers(-2000, 2000, 1040) // 8).tolist())))); mid += 1
    rows.append((mid, bytearray(b"not media")))  # undecodable
    return rows


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


def test_incremental_media_pairs_equal_full_rebuild(spark, tmp_path):
    """The media incremental contract: full == prior ∪ delta for
    id-disjoint snapshots, with the archive contributing only its
    PERSISTED band table (never re-decoded); re-ingested ids
    supersede their stored signatures."""
    from prod2vec_spark.operators.phash import (
        incremental_media_pairs,
        media_band_table,
        media_hashes,
        media_neardup_pairs,
    )

    rows = _media_rows()
    old_rows = [r for r in rows if r[0] % 2 == 0]
    new_rows = [r for r in rows if r[0] % 2 == 1]
    old = spark.createDataFrame(old_rows, "media_id long, blob binary")
    new = spark.createDataFrame(new_rows, "media_id long, blob binary")
    both = spark.createDataFrame(rows, "media_id long, blob binary")

    # persist the archive's band table (the incremental store)
    store = str(tmp_path / "media_bands")
    media_band_table(old).write.parquet(store)
    old_bands = spark.read.parquet(store)

    full = {
        (r["id_a"], r["id_b"])
        for r in media_neardup_pairs(media_hashes(both)).collect()
    }
    prior = {
        (r["id_a"], r["id_b"])
        for r in media_neardup_pairs(media_hashes(old)).collect()
    }
    delta = {
        (r["id_a"], r["id_b"])
        for r in incremental_media_pairs(old_bands, new).collect()
    }
    assert full == prior | delta
    assert delta  # the planted families straddle the id split
    # every delta pair involves a new id
    new_ids = {r[0] for r in new_rows}
    assert all(a in new_ids or b in new_ids for a, b in delta)

    # re-ingestion: a changed blob under an ARCHIVED id supersedes —
    # id 0 (image family 0's canonical, present in old_bands) re-
    # ingested as an unrelated image must stop pairing with member 2
    # (its stored band rows are dropped before grouping)
    rng = np.random.default_rng(77)
    unrelated = bytearray(
        encode_png_gray8(bytes(rng.integers(0, 256, 256, dtype=np.uint8)), 16, 16)
    )
    reingest = spark.createDataFrame(
        [(0, unrelated)], "media_id long, blob binary"
    )
    delta2 = {
        (r["id_a"], r["id_b"])
        for r in incremental_media_pairs(old_bands, reingest).collect()
    }
    assert not any(0 in pair for pair in delta2), delta2
