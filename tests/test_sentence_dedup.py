"""Round-16 sentence-level dedup (operators/linedup.sentence_dedup,
VERDICT r15 ask #3): the CCNet segment plane at SENTENCE granularity,
built on the round-15 ``sentences`` primitive."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prod2vec_spark.operators.linedup import sentence_dedup

DISCLAIMER = "This content is provided for informational purposes only."
PROMO = "Subscribe to our newsletter for weekly updates!"


def _docs(spark):
    rows = [
        (1, f"Alpha fact one. {DISCLAIMER} Alpha fact two."),
        (2, f"{DISCLAIMER} Beta insight here. {PROMO}"),
        (3, f"Gamma story. {PROMO} Gamma ending!"),
        (4, "Unique only. Yes. Nothing shared here?"),
        (5, "Yes. Another unique doc entirely."),
        (6, None),
        (7, "no terminal punctuation at all"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_drop_all_removes_every_copy_keeps_unique(spark):
    got = {r["doc_id"]: r for r in sentence_dedup(_docs(spark)).collect()}
    # repeated sentences vanish from every doc; unique content stays
    assert got[1]["kept_text"] == "Alpha fact one. Alpha fact two."
    assert got[2]["kept_text"] == "Beta insight here."
    assert got[3]["kept_text"] == "Gamma story. Gamma ending!"
    assert got[1]["n_sentences"] == 3 and got[1]["n_dropped"] == 1
    assert got[2]["n_dropped"] == 2
    # every input doc gets a report row; NULL / unterminated docs
    # surface as 0-sentence rows with empty kept_text
    assert set(got) == {1, 2, 3, 4, 5, 6, 7}
    assert got[6]["n_sentences"] == 0 and got[6]["kept_text"] == ""
    assert got[7]["n_sentences"] == 0 and got[7]["kept_text"] == ""


def test_min_chars_guard_protects_short_ubiquitous_sentences(spark):
    # 'Yes.' repeats across docs 4 and 5 but is under the default
    # min_chars=0? — with min_chars=0 it IS removed; with min_chars=12
    # it is protected.  Both semantics pinned.
    strict = {
        r["doc_id"]: r
        for r in sentence_dedup(_docs(spark), min_chars=0).collect()
    }
    assert "Yes." not in strict[4]["kept_text"]
    assert "Yes." not in strict[5]["kept_text"]
    guarded = {
        r["doc_id"]: r
        for r in sentence_dedup(_docs(spark), min_chars=12).collect()
    }
    assert "Yes." in guarded[4]["kept_text"]
    assert "Yes." in guarded[5]["kept_text"]
    # the long disclaimers are still removed under the guard
    assert DISCLAIMER not in guarded[1]["kept_text"]


def test_keep_first_leaves_exactly_one_copy(spark):
    got = {
        r["doc_id"]: r
        for r in sentence_dedup(_docs(spark), policy="keep_first").collect()
    }
    # min-id owner keeps each repeated sentence
    assert DISCLAIMER in got[1]["kept_text"]  # owner: doc 1
    assert DISCLAIMER not in got[2]["kept_text"]
    assert PROMO in got[2]["kept_text"]  # owner: doc 2
    assert PROMO not in got[3]["kept_text"]
    # corpus-wide: exactly one surviving copy of each repeated sentence
    survivors = " || ".join(r["kept_text"] for r in got.values())
    assert survivors.count(DISCLAIMER) == 1
    assert survivors.count(PROMO) == 1


def test_unknown_policy_raises(spark):
    with pytest.raises(ValueError, match="sentence policy"):
        sentence_dedup(_docs(spark), policy="majority")


def test_sentence_dedup_holds_on_10x_corpus(spark):
    """10x stress (the segment_dedup discipline): on the amplified
    SENTENCED corpus (the synthetic documents table has no terminal
    punctuation, so the shared sentence_corpus transform plants real
    cross-document sentences first) NO eligible repeated sentence
    survives drop_all — checked by re-segmenting the OUTPUT with the
    same primitive (sentence boundaries are preserved under sentence
    removal: survivors are whole sentences joined by spaces)."""
    from prod2vec_spark.operators.text import sentences
    from prod2vec_spark.queries.common import amplify_documents, sentence_corpus
    from tests.conftest import SF_SMOKE

    docs = sentence_corpus(
        amplify_documents(
            spark.read.parquet(f"{SF_SMOKE}/documents.parquet"), factor=10
        )
    )
    min_docs, min_chars = 2, 12
    out = sentence_dedup(docs, min_docs=min_docs, min_chars=min_chars)
    exploded = docs.select(
        "doc_id", F.explode(sentences(F.col("text"))).alias("sent")
    ).where(F.length("sent") >= min_chars)
    boiler = (
        exploded.groupBy("sent")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("sent")
    )
    out_sents = out.where(F.col("kept_text") != "").select(
        F.explode(sentences(F.col("kept_text"))).alias("sent")
    )
    leaked = out_sents.join(boiler, "sent").count()
    assert leaked == 0, f"{leaked} repeated sentences survived at 10x"
    # replicas exist at 10x -> a substantial drop really happened
    agg = out.agg(
        F.sum("n_dropped").alias("d"), F.sum("n_sentences").alias("t")
    ).first()
    assert agg["d"] > 0 and agg["d"] < agg["t"]


def test_dag_sentence_stage_semantics(spark, tmp_path):
    """The DAG stage method on a PLANTED sentenced corpus: stage
    output carries no sentence its own input repeated >=
    sent_min_docs times (eligible lengths only); a mostly-boilerplate
    doc (> sent_max_dropped_frac of its sentences dropped) leaves the
    corpus; zero-sentence docs pass through with text untouched."""
    from prod2vec_spark.operators.text import sentences
    from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline
    from tests.conftest import SF_SMOKE

    cfg = CorpusConfig(
        sf_dir=SF_SMOKE,
        work_dir=str(tmp_path / "corpus_r16_stage"),
        sentence_dedup=True,
    )
    pipe = CorpusCurationPipeline(spark, cfg)
    planted = spark.createDataFrame(
        [
            (1, f"Alpha fact one. {DISCLAIMER} Alpha fact two."),
            (2, f"{DISCLAIMER} Beta insight here. {PROMO}"),
            (3, f"Gamma story. {PROMO} Gamma ending!"),
            # mostly boilerplate: 2 of 2 eligible sentences repeated
            (4, f"{DISCLAIMER} {PROMO}"),
            (5, "no terminal punctuation passthrough"),
        ],
        "doc_id long, text string",
    )
    out = pipe.sentence_dedup(planted)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    # the all-boilerplate doc left the corpus
    assert 4 not in got
    # no repeated eligible sentence survives anywhere
    survivors = out.select(
        F.explode(sentences(F.col("text"))).alias("sent")
    )
    assert (
        survivors.where(
            F.col("sent").isin(DISCLAIMER, PROMO)
        ).count()
        == 0
    )
    # zero-sentence doc passes through untouched
    assert got[5] == "no terminal punctuation passthrough"
    assert got[1] == "Alpha fact one. Alpha fact two."


@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_dag_sentence_stage_and_drop_ledger_contract(spark, tmp_path):
    """Full DAG run with sentence_dedup on: the drop ledger's
    partition contract (input ids = final ids ∪ ledger ids, disjoint)
    holds with the new stage in the chain.  On the punctuation-free
    synthetic corpus the stage is a pure pass-through (every doc has
    zero sentences) — the contract still exercises the new ledger
    boundary."""
    from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    cfg = CorpusConfig(
        sf_dir=SF_SMOKE,
        work_dir=str(tmp_path / "corpus_r16_dag"),
        sentence_dedup=True,
    )
    pipe = CorpusCurationPipeline(spark, cfg)
    pipe.run()
    assert "sentence_dedup" in pipe._stage_ms
    # pass-through on the sentence-free corpus: counts equal
    st_in = spark.read.parquet(f"{cfg.work_dir}/exact_deduped")
    st_out = spark.read.parquet(f"{cfg.work_dir}/sentence_deduped")
    assert st_in.count() == st_out.count()
    ledger = pipe.drop_ledger()
    n_input = read_table(spark, SF_SMOKE, "documents").count()
    final = spark.read.parquet(f"{cfg.work_dir}/decontaminated")
    assert ledger.count() + final.count() == n_input
    assert (
        ledger.join(final.select("doc_id"), "doc_id", "inner").count() == 0
    )
