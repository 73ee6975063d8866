"""Streaming MinHash/LSH near-dedup: first-presenter gate invariants,
checked against the BATCH LSH operators and the sequential oracle as
ground truth, plus cross-restart registry persistence and idempotent
re-drains.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # e2e/replay file: driver-budget suite skips it (conftest hook)
from pyspark.sql import functions as F

from prod2vec_spark.operators.dedup import lsh_candidate_pairs, minhash_bands
from prod2vec_spark.queries.common import amplify_documents
from prod2vec_spark.sources.io import read_table
from prod2vec_spark.streaming.first_presenter import read_decisions
from prod2vec_spark.streaming.neardup import start_near_dedup_registry
from tests.conftest import SF_SMOKE
from tests.first_presenter_oracle import assert_gate_matches_oracle

_DOCS_SCHEMA = "doc_id long, text string, lang string"


def _drain(spark, landing, out, ckpt, **kw):
    """One availableNow drain; the band registry sits next to ``out``."""
    stream = spark.readStream.schema(_DOCS_SCHEMA).parquet(landing)
    q = start_near_dedup_registry(stream, f"{out}_registry", out, ckpt, **kw)
    q.awaitTermination()


def test_first_presenter_gate_invariants(spark, tmp_path):
    """Drain an amplified corpus (guaranteed near-dups) and check the
    gate's contract against the batch operators:
      * decisions cover exactly the banded (shingle-able) docs;
      * the KEPT set's bands are pairwise disjoint — batch
        lsh_candidate_pairs over kept docs finds ZERO pairs;
      * every DROPPED doc band-collides with an earlier (smaller-id,
        single-batch arrival) doc."""
    docs = (
        amplify_documents(
            read_table(spark, SF_SMOKE, "documents").limit(150), factor=3
        )
        .select("doc_id", "text", "lang")
        .localCheckpoint()
    )
    landing = str(tmp_path / "landing")
    docs.coalesce(1).write.parquet(landing)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, landing, out, ckpt)

    decisions = read_decisions(spark, out).localCheckpoint()
    banded_ids = {
        r["doc_id"]
        for r in minhash_bands(docs).select("doc_id").distinct().collect()
    }
    assert {r["doc_id"] for r in decisions.collect()} == banded_ids
    assert decisions.count() == len(banded_ids)  # one decision per doc

    kept = decisions.filter(F.col("keep") == 1).select("doc_id")
    dropped = decisions.filter(F.col("keep") == 0).select("doc_id")
    assert kept.count() > 0 and dropped.count() > 0

    # kept docs never share a band: the batch candidate generator must
    # come up empty over the kept subset
    kept_docs = docs.join(kept, "doc_id", "left_semi")
    assert lsh_candidate_pairs(minhash_bands(kept_docs)).count() == 0

    # every dropped doc collides with a smaller-id doc (single batch:
    # owner = min doc_id per signature)
    bands = minhash_bands(docs).localCheckpoint()
    other = bands.select(
        F.col("band_id").alias("band_id"),
        F.col("band_sig").alias("band_sig"),
        F.col("doc_id").alias("other_id"),
    )
    has_earlier = (
        bands.join(other, ["band_id", "band_sig"])
        .filter(F.col("other_id") < F.col("doc_id"))
        .select("doc_id")
        .distinct()
    )
    assert dropped.exceptAll(has_earlier).count() == 0


def test_state_persists_across_restarts(spark, tmp_path):
    """A near-dup arriving in a LATER drain must still be dropped: the
    band registry lives in the committed registry partials, not the
    micro-batch."""
    base_text = " ".join(f"tok{i}" for i in range(30))
    novel_text = " ".join(f"other{i}" for i in range(30))
    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(1, base_text, "en")], _DOCS_SCHEMA
    ).coalesce(1).write.parquet(str(landing / "a"))
    # the file stream needs a flat dir of files; stage via subdir glob
    import shutil

    for f in (landing / "a").glob("*.parquet"):
        shutil.move(str(f), landing / "batch_a.parquet")
    shutil.rmtree(landing / "a")

    _drain(spark, str(landing), out, ckpt)
    d1 = read_decisions(spark, out)
    assert [(r["doc_id"], r["keep"]) for r in d1.collect()] == [(1, 1)]

    # batch B: doc 2 duplicates doc 1's text (all bands owned by 1),
    # doc 3 is novel — state across the restart must drop 2, keep 3
    spark.createDataFrame(
        [(2, base_text, "en"), (3, novel_text, "en")], _DOCS_SCHEMA
    ).coalesce(1).write.parquet(str(landing / "b"))
    for f in (landing / "b").glob("*.parquet"):
        shutil.move(str(f), landing / "batch_b.parquet")
    shutil.rmtree(landing / "b")

    _drain(spark, str(landing), out, ckpt)
    got = {
        r["doc_id"]: r["keep"] for r in read_decisions(spark, out).collect()
    }
    assert got == {1: 1, 2: 0, 3: 1}

    # no-new-input re-drain: decision table unchanged (exactly-once)
    _drain(spark, str(landing), out, ckpt)
    assert read_decisions(spark, out).count() == 3


def test_short_docs_bypass_state(spark, tmp_path):
    """Docs under shingle_k tokens never enter the registry — no
    decision rows, trivially kept by the caller."""
    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    long_text = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, "too short", "en"), (2, long_text, "en")], _DOCS_SCHEMA
    )
    import shutil

    df.coalesce(1).write.parquet(str(landing / "x"))
    for f in (landing / "x").glob("*.parquet"):
        shutil.move(str(f), landing / "docs.parquet")
    shutil.rmtree(landing / "x")

    _drain(spark, str(landing), out, ckpt)
    got = {r["doc_id"] for r in read_decisions(spark, out).collect()}
    assert got == {2}


def test_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """The incrementally-maintained CMS (per-batch partials summed on
    read) must equal the one-shot batch sketch of all data EXACTLY —
    counter for counter — across two drains and a no-input restart."""
    import shutil

    from prod2vec_spark.operators.sketches import cms_sketch, read_cms
    from prod2vec_spark.operators.text import tokens as tok
    from prod2vec_spark.sources.io import start_batch_stage

    docs = read_table(spark, SF_SMOKE, "documents").limit(200).localCheckpoint()
    terms = docs.select(F.explode(tok(F.col("text"))).alias("term"))

    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "sketch"), str(tmp_path / "ckpt")

    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    for name, half in [("a", half_a), ("b", half_b)]:
        half.select("doc_id", "text").coalesce(1).write.parquet(
            str(tmp_path / f"st_{name}")
        )

    def drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(landing)
        )
        q = start_batch_stage(
            stream.select(F.explode(tok(F.col("text"))).alias("term")),
            lambda b, _: (cms_sketch(b),),
            (out,),
            ckpt,
        )
        q.awaitTermination()

    for f in (tmp_path / "st_a").glob("*.parquet"):
        shutil.copy(f, landing / "a.parquet")
    drain()
    for f in (tmp_path / "st_b").glob("*.parquet"):
        shutil.copy(f, landing / "b.parquet")
    drain()
    drain()  # no new input: partials unchanged

    merged = read_cms(spark, out, checkpoint=ckpt)
    want = cms_sketch(terms)
    assert merged.exceptAll(want).count() == 0
    assert want.exceptAll(merged).count() == 0
    assert merged.count() > 0


def test_streaming_bottomk_equals_batch_sketch(spark, tmp_path):
    """The incrementally-maintained bottom-k sketch (per-batch
    partials re-taken on read) must equal the one-shot batch sketch of
    all data EXACTLY — row for row — across two drains and a no-input
    restart, by the merge law."""
    import shutil

    from prod2vec_spark.operators.sketches import bottomk_sketch, read_bottomk
    from prod2vec_spark.sources.io import start_batch_stage

    docs = (
        read_table(spark, SF_SMOKE, "documents")
        .limit(200)
        .select("doc_id", F.col("n_chars").cast("double").alias("n_chars"))
        .localCheckpoint()
    )
    K = 64

    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "bk"), str(tmp_path / "bk_ckpt")

    for name, half in [
        ("a", docs.where(F.col("doc_id") % 2 == 0)),
        ("b", docs.where(F.col("doc_id") % 2 == 1)),
    ]:
        half.coalesce(1).write.parquet(str(tmp_path / f"bst_{name}"))

    def drain():
        stream = spark.readStream.schema("doc_id long, n_chars double").parquet(
            str(landing)
        )
        q = start_batch_stage(
            stream,
            lambda b, _: (bottomk_sketch(b, "n_chars", ["doc_id"], k=K),),
            (out,),
            ckpt,
        )
        q.awaitTermination()

    def current():
        return [
            (r["hkey"], r["v"])
            for r in read_bottomk(spark, out, k=K, checkpoint=ckpt).collect()
        ]

    assert current() == []  # empty before the first commit
    for f in (tmp_path / "bst_a").glob("*.parquet"):
        shutil.copy(f, landing / "a.parquet")
    drain()
    half_expect = [
        (r["hkey"], r["v"])
        for r in bottomk_sketch(
            docs.where(F.col("doc_id") % 2 == 0), "n_chars", ["doc_id"], k=K
        ).collect()
    ]
    assert current() == half_expect
    for f in (tmp_path / "bst_b").glob("*.parquet"):
        shutil.copy(f, landing / "b.parquet")
    drain()
    drain()  # no new input: partials unchanged
    full_expect = [
        (r["hkey"], r["v"])
        for r in bottomk_sketch(docs, "n_chars", ["doc_id"], k=K).collect()
    ]
    assert current() == full_expect and len(full_expect) == K


def test_streaming_incremental_lsh_matches_batch(spark, tmp_path):
    """incremental_lsh_batch through the micro-batch door: the union
    of committed per-batch delta pair sets equals the batch pipeline's
    full pair set; a no-new-input restart adds nothing; the band store
    holds every doc's signatures exactly once."""
    import shutil
    from functools import partial

    from pyspark.sql import functions as F

    from prod2vec_spark.operators.dedup import (
        incremental_lsh_batch,
        lsh_candidate_pairs,
        minhash_bands,
        read_committed_bands,
        read_delta_pairs,
    )
    from prod2vec_spark.sources.io import read_table, start_batch_stage
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    half_a = docs.where(F.col("doc_id") % 2 == 0)
    half_b = docs.where(F.col("doc_id") % 2 == 1)
    landing = tmp_path / "landing"
    landing.mkdir()
    for name, df in [("a", half_a), ("b", half_b)]:
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"s{name}"))
    shutil.copy(
        sorted((tmp_path / "sa").glob("*.parquet"))[0], landing / "a.parquet"
    )

    bands_dir = str(tmp_path / "bands")
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(landing)
        )
        start_batch_stage(
            stream,
            partial(incremental_lsh_batch, bands_dir=bands_dir),
            (pairs_dir, bands_dir),
            ckpt,
        ).awaitTermination()

    def pairs():
        return {
            (r["doc_a"], r["doc_b"])
            for r in read_delta_pairs(spark, pairs_dir, ckpt).collect()
        }

    drain()
    got_a = pairs()
    batch_a = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(minhash_bands(half_a)).collect()
    }
    assert got_a == batch_a
    # restart with nothing new: no re-emission, band store unchanged
    n_bands = read_committed_bands(spark, bands_dir, ckpt).count()
    drain()
    assert pairs() == got_a
    assert read_committed_bands(spark, bands_dir, ckpt).count() == n_bands
    # second landing: union now equals the full-corpus batch run
    shutil.copy(
        sorted((tmp_path / "sb").glob("*.parquet"))[0], landing / "b.parquet"
    )
    drain()
    full = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(minhash_bands(docs)).collect()
    }
    assert pairs() == full
    # the store holds each doc's bands exactly once
    bands = read_committed_bands(spark, bands_dir, ckpt)
    assert bands.count() == minhash_bands(docs).count()
    assert bands.select("doc_id", "band_id").distinct().count() == bands.count()


def test_registry_gate_matches_sequential_oracle(spark, tmp_path):
    """Parity lock for the drain pipeline's gate: the committed
    registry (signature -> owner) and the decision table equal the
    sequential first-presenter oracle's — per wave, across a restart
    wave, and under an idempotent no-input re-drain."""
    import shutil

    docs = (
        amplify_documents(
            read_table(spark, SF_SMOKE, "documents").limit(120), factor=3
        )
        .select("doc_id", "text", "lang")
        .localCheckpoint()
    )
    wave_a = docs.where(F.col("doc_id") % 2 == 0)
    wave_b = docs.where(F.col("doc_id") % 2 == 1)
    landing = tmp_path / "landing"
    landing.mkdir()
    for name, half in [("a", wave_a), ("b", wave_b)]:
        half.coalesce(1).write.parquet(str(tmp_path / f"st_{name}"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def check(waves):
        return assert_gate_matches_oracle(
            spark,
            [minhash_bands(w) for w in waves],
            ("band_id", "band_sig"),
            "doc_id",
            f"{out}_registry",
            out,
        )

    for f in (tmp_path / "st_a").glob("*.parquet"):
        shutil.copy(f, landing / "a.parquet")
    _drain(spark, str(landing), out, ckpt)
    got_a = check([wave_a])
    assert got_a

    # second wave across a restart: earlier-batch owners must win
    # (the registry partials, not the micro-batch)
    for f in (tmp_path / "st_b").glob("*.parquet"):
        shutil.copy(f, landing / "b.parquet")
    _drain(spark, str(landing), out, ckpt)
    got_ab = check([wave_a, wave_b])
    assert len(got_ab) > len(got_a)

    # no-new-input re-drain: registry and decisions unchanged
    _drain(spark, str(landing), out, ckpt)
    assert check([wave_a, wave_b]) == got_ab

    # one registry row per distinct presented signature (the registry
    # growth contract: re-presented signatures never re-register)
    reg = spark.read.parquet(f"{out}_registry")
    n_sigs = (
        minhash_bands(docs).select("band_id", "band_sig").distinct().count()
    )
    assert reg.count() == n_sigs
    assert reg.select("band_id", "band_sig").distinct().count() == n_sigs
