"""Default-suite locks on the first-presenter gate
(streaming/first_presenter.py): a single-wave oracle-parity drain of
the text gate, a ``file://`` registry round-trip, and the
stale-checkpoint guard."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from prod2vec_spark.operators.dedup import minhash_bands
from prod2vec_spark.streaming.first_presenter import read_decisions
from prod2vec_spark.streaming.neardup import start_near_dedup_registry
from tests.first_presenter_oracle import assert_gate_matches_oracle

DOCS = "doc_id long, text string, lang string"


def _land(spark, rows, schema, landing, name):
    """Write ``rows`` as one parquet file ``landing/name.parquet`` —
    the file stream consumes a flat directory of files."""
    stage = landing.parent / f"stage_{name}"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(stage))
    landing.mkdir(exist_ok=True)
    for f in stage.glob("*.parquet"):
        shutil.move(str(f), landing / f"{name}.parquet")
    shutil.rmtree(stage)


def _drain_text(spark, landing, reg, out, ckpt):
    stream = spark.readStream.schema(DOCS).parquet(str(landing))
    start_near_dedup_registry(stream, reg, out, ckpt).awaitTermination()


def _doc_rows() -> list[tuple[int, str, str]]:
    """Families of (base, exact copy, one-token edit) plus singletons
    and one doc too short to shingle."""
    rows = []
    for fam in range(4):
        base = [f"f{fam}w{i}" for i in range(24)]
        edit = base[:12] + ["edit"] + base[13:]
        for member, toks in enumerate((base, base, edit)):
            rows.append((fam * 3 + member, " ".join(toks), "en"))
    rows += [(20 + i, " ".join(f"s{i}w{j}" for j in range(24)), "en") for i in range(3)]
    rows.append((30, "too short", "en"))
    return rows


def test_text_gate_single_wave_matches_oracle(spark, tmp_path):
    rows = _doc_rows()
    landing = tmp_path / "landing"
    _land(spark, rows, DOCS, landing, "a")
    reg, out = str(tmp_path / "reg"), str(tmp_path / "out")
    _drain_text(spark, landing, reg, out, str(tmp_path / "ckpt"))

    got = assert_gate_matches_oracle(
        spark,
        [minhash_bands(spark.createDataFrame(rows, DOCS))],
        ("band_id", "band_sig"),
        "doc_id",
        reg,
        out,
    )
    assert 30 not in got  # too short to shingle: no decision row
    assert 0 in got and 0 in got.values()


def test_uri_registry_round_trips(spark, tmp_path):
    """Registry and decisions addressed as ``file:///…`` URIs: the
    wave-2 duplicate must still find wave 1's committed owner."""
    base = " ".join(f"tok{i}" for i in range(30))
    novel = " ".join(f"other{i}" for i in range(30))
    landing = tmp_path / "landing"
    reg = (tmp_path / "reg").as_uri()
    out = (tmp_path / "out").as_uri()
    assert reg.startswith("file:///")
    ckpt = str(tmp_path / "ckpt")

    _land(spark, [(1, base, "en")], DOCS, landing, "a")
    _drain_text(spark, landing, reg, out, ckpt)
    _land(spark, [(2, base, "en"), (3, novel, "en")], DOCS, landing, "b")
    _drain_text(spark, landing, reg, out, ckpt)

    got = {r["doc_id"]: r["keep"] for r in read_decisions(spark, out).collect()}
    assert got == {1: 1, 2: 0, 3: 1}


def test_stale_checkpoint_fails_fast(spark, tmp_path):
    """A batch of docs all too short to shingle still commits an
    (empty) registry partial, so resuming is fine; a checkpoint whose
    registry was deleted refuses to start instead of re-owning every
    signature."""
    landing = tmp_path / "landing"
    reg, out = str(tmp_path / "reg"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    text = " ".join(f"tok{i}" for i in range(30))

    _land(spark, [(1, "too short", "en")], DOCS, landing, "a")
    _drain_text(spark, landing, reg, out, ckpt)
    assert read_decisions(spark, out).count() == 0
    _land(spark, [(2, text, "en")], DOCS, landing, "b")
    _drain_text(spark, landing, reg, out, ckpt)  # resumes: partial exists
    assert read_decisions(spark, out).where(F.col("keep") == 1).count() == 1

    shutil.rmtree(reg)
    _land(spark, [(3, text, "en")], DOCS, landing, "c")
    with pytest.raises(RuntimeError, match="holds no batch_id"):
        _drain_text(spark, landing, reg, out, ckpt)
