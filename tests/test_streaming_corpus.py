"""Streaming corpus curation pipeline: exact dedup -> near-dedup gate
over an amplified corpus with KNOWN structure, with the curated-set
invariants checked against the batch operators and exactly-once across
a full input replay.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from prod2vec_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_bands,
    text_digest,
)
from prod2vec_spark.queries.common import amplify_documents
from prod2vec_spark.sources.io import read_table
from prod2vec_spark.streaming.pipeline import (
    StreamCorpusConfig,
    StreamingCorpusPipeline,
)
from tests.conftest import SF_SMOKE
import pytest

pytestmark = pytest.mark.slow  # e2e/replay file: driver-budget suite skips it (conftest hook)


def test_streaming_corpus_curation_invariants_and_replay(spark, tmp_path):
    # factor 3 / 2 verbatim replicas: per source doc, one exact-dup
    # pair (stage 1 must collapse) + one salted near-dup variant
    # (stage 2 must drop against the kept verbatim doc)
    docs = (
        amplify_documents(
            read_table(spark, SF_SMOKE, "documents").limit(120),
            factor=3,
            exact_replicas=2,
        )
        .select("doc_id", "text", "lang")
        .localCheckpoint()
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    import shutil

    src_files = sorted((tmp_path / "stage").glob("*.parquet"))
    shutil.copy(src_files[0], landing / "batch_a.parquet")

    cfg = StreamCorpusConfig(
        landing_dir=str(landing), work_dir=str(tmp_path / "work")
    )
    pipe = StreamingCorpusPipeline(spark, cfg)
    curated = pipe.run().localCheckpoint()

    # stage 1 contract: one survivor per distinct content digest
    exact = spark.read.parquet(cfg.exact_dir)
    n_digests = (
        docs.select(text_digest(F.col("text")).alias("h")).distinct().count()
    )
    assert exact.count() == n_digests
    assert exact.select("text_hash").distinct().count() == n_digests

    # curated-set invariants (against the BATCH operators):
    # digest-unique, and no two curated docs share an LSH band
    assert curated.count() == curated.select("text_hash").distinct().count()
    assert lsh_candidate_pairs(minhash_bands(curated)).count() == 0
    assert curated.count() > 0
    # curated is a subset of the input ids
    assert curated.join(docs, "doc_id", "left_anti").count() == 0
    # the salted variants actually exercised the gate: curated is a
    # strict subset of the exact-dedup survivors
    n_curated = curated.count()
    assert n_curated < exact.count()

    # full input replay lands again: both state stores must drop
    # everything — curated corpus byte-identical
    shutil.copy(src_files[0], landing / "batch_a_replay.parquet")
    curated2 = pipe.run()
    assert curated2.count() == n_curated
    assert spark.read.parquet(cfg.exact_dir).count() == n_digests


def test_corpus_pipeline_runs_on_initially_empty_landing_dir(spark, tmp_path):
    """Bootstrap state: no input yet — both stages start, the curated
    corpus is a typed empty frame (code-review r6 finding)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    cfg = StreamCorpusConfig(
        landing_dir=str(landing), work_dir=str(tmp_path / "work")
    )
    curated = StreamingCorpusPipeline(spark, cfg).run()
    assert curated.count() == 0
    assert "text_hash" in curated.columns


def test_streaming_quality_gate_matches_batch_filter(spark, tmp_path):
    """With quality_min set, the streaming gate must admit EXACTLY the
    docs the batch row-local score admits (the score is deterministic),
    before any dedup state is spent on low-quality docs."""
    import shutil

    from prod2vec_spark.operators.text import quality_score

    docs = (
        read_table(spark, SF_SMOKE, "documents")
        .limit(200)
        .select("doc_id", "text", "lang")
        .localCheckpoint()
    )
    thr = 0.8  # ~median of the fixture scores — selective by construction
    want_ids = {
        r["doc_id"]
        for r in docs.where(quality_score(F.col("text")) >= thr)
        .select("doc_id")
        .collect()
    }
    assert 0 < len(want_ids) < docs.count()  # gate actually selective

    landing = tmp_path / "landing"
    landing.mkdir()
    docs.coalesce(1).write.parquet(str(tmp_path / "stage"))
    shutil.copy(
        sorted((tmp_path / "stage").glob("*.parquet"))[0],
        landing / "a.parquet",
    )
    cfg = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        quality_min=thr,
    )
    pipe = StreamingCorpusPipeline(spark, cfg)
    pipe.exact_stage()
    got_ids = {
        r["doc_id"]
        for r in spark.read.parquet(cfg.exact_dir).select("doc_id").collect()
    }
    # exact-dedup also collapses duplicate texts among the admitted
    # docs, so got ⊆ want with one survivor per digest
    assert got_ids <= want_ids
    from prod2vec_spark.operators.dedup import text_digest

    n_digests = (
        docs.where(quality_score(F.col("text")) >= thr)
        .select(text_digest(F.col("text")).alias("h"))
        .distinct()
        .count()
    )
    assert len(got_ids) == n_digests


def test_streaming_repetition_gate_matches_batch_gate(spark, tmp_path):
    """With repetition_gate on, the streaming stage admits EXACTLY the
    docs the batch Gopher gate admits (row-local and deterministic —
    no batch/stream semantic gap), looped spam dropped before it can
    occupy dedup state."""
    import shutil

    from prod2vec_spark.operators import repetition as RP
    from prod2vec_spark.operators.text import tokens

    base = (
        read_table(spark, SF_SMOKE, "documents")
        .limit(100)
        .select("doc_id", "text", "lang")
    )
    spam = spark.createDataFrame(
        [(900000 + i, "spam ham " * 30, "en") for i in range(5)],
        ["doc_id", "text", "lang"],
    )
    docs = base.unionByName(spam).localCheckpoint()

    staged = (
        docs.withColumn("_toks", tokens(F.col("text")))
        .withColumn("_g2", RP.word_ngrams(F.col("_toks"), 2))
        .withColumn("_g3", RP.word_ngrams(F.col("_toks"), 3))
    )
    want_ids = {
        r["doc_id"]
        for r in staged.where(
            RP.repetition_gate(
                RP.top_gram_fraction(F.col("_g2")),
                RP.dup_gram_fraction(F.col("_g3")),
                F.size(F.col("_g2")),
            )
        )
        .select("doc_id")
        .collect()
    }
    assert 0 < len(want_ids) < docs.count()
    assert not any(i >= 900000 for i in want_ids)  # spam gated out

    landing = tmp_path / "landing"
    landing.mkdir()
    docs.coalesce(1).write.parquet(str(tmp_path / "stage"))
    shutil.copy(
        sorted((tmp_path / "stage").glob("*.parquet"))[0],
        landing / "a.parquet",
    )
    cfg = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        repetition_gate=True,
    )
    StreamingCorpusPipeline(spark, cfg).exact_stage()
    got_ids = {
        r["doc_id"]
        for r in spark.read.parquet(cfg.exact_dir).select("doc_id").collect()
    }
    # exact dedup may collapse duplicate texts among admitted docs
    # (the 5 spam docs share one digest but are gated earlier anyway)
    assert got_ids <= want_ids
    n_digests = (
        staged.where(
            RP.repetition_gate(
                RP.top_gram_fraction(F.col("_g2")),
                RP.dup_gram_fraction(F.col("_g3")),
                F.size(F.col("_g2")),
            )
        )
        .select(text_digest(F.col("text")).alias("h"))
        .distinct()
        .count()
    )
    assert len(got_ids) == n_digests


def test_streaming_segment_gate_one_sided_vs_batch(spark, tmp_path):
    """Streaming boilerplate gate (segment-window CMS over the
    exact-dedup output): (a) the maintained sketch equals the one-shot
    batch sketch over the same docs — so the gate's estimates are the
    deterministic CMS values, and (b) the streamed gate's drop set is
    a SUPERSET of the exact-count gate's (CMS only overestimates) and
    drops every doc the exact gate drops."""
    import shutil

    from prod2vec_spark.operators.linedup import (
        doc_distinct_segment_hashes,
        exploded_segments,
    )
    from prod2vec_spark.operators.sketches import cms_sketch, read_cms

    docs = (
        amplify_documents(
            read_table(spark, SF_SMOKE, "documents").limit(60),
            factor=3,
            exact_replicas=2,
        )
        .select("doc_id", "text", "lang")
        .localCheckpoint()
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    src = sorted((tmp_path / "stage").glob("*.parquet"))[0]
    shutil.copy(src, landing / "batch_a.parquet")

    cfg = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        segment_gate=True,
        seg_max_frac=0.5,
    )
    pipe = StreamingCorpusPipeline(spark, cfg)
    curated = pipe.run().localCheckpoint()
    exact = spark.read.parquet(cfg.exact_dir).localCheckpoint()

    # (a) incremental sketch == one-shot batch sketch, row for row
    stream_sketch = {
        (r["depth"], r["bucket"]): r["cnt"]
        for r in read_cms(spark, cfg.segcms_dir).collect()
    }
    batch_sketch = {
        (r["depth"], r["bucket"]): r["cnt"]
        for r in cms_sketch(
            doc_distinct_segment_hashes(exact, cfg.seg_width), col="seg_h"
        ).collect()
    }
    assert stream_sketch == batch_sketch

    # (b) exact-count gate (ground truth, count-distinct docs)
    segs = exploded_segments(exact, cfg.seg_width)
    exact_boiler = (
        segs.groupBy("seg_h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= cfg.seg_min_docs)
        .select("seg_h")
    )
    dsegs = doc_distinct_segment_hashes(exact, cfg.seg_width)
    exact_frac = (
        dsegs.join(
            exact_boiler.withColumn("_b", F.lit(1)), "seg_h", "left"
        )
        .groupBy("doc_id")
        .agg(
            (F.sum(F.coalesce(F.col("_b"), F.lit(0))) / F.count(F.lit(1))).alias(
                "f"
            )
        )
    )
    exact_drop = {
        r["doc_id"]
        for r in exact_frac.where(F.col("f") > cfg.seg_max_frac).collect()
    }
    curated_ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    # every exact-gate drop is really gone from the curated corpus
    assert not (exact_drop & curated_ids)
    # the amplified corpus (verbatim replicas collapse in stage 1, but
    # salted variants share most windows) must exercise the gate
    assert exact_drop, "fixture produced no boilerplate-heavy docs"
    # stream-gate drop set ⊇ exact drop set (CMS never underestimates)
    exact_ids = {r["doc_id"] for r in exact.select("doc_id").collect()}
    stream_drop = exact_ids - {
        r["doc_id"] for r in pipe.segment_gate(exact).select("doc_id").collect()
    }
    assert exact_drop <= stream_drop


def test_streaming_lm_scoring_matches_batch(spark, tmp_path):
    """score_docs through the micro-batch door over a doc landing dir
    scores exactly as batch score_docs with the same fitted model,
    stays exactly-once across a no-new-input restart, and extends (not
    rewrites) on a second landing batch."""
    import shutil

    from prod2vec_spark.operators.lm import BigramLM, fit_lm, score_docs
    from prod2vec_spark.sources.io import read_partials, start_batch_stage

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    train = docs.where(F.col("doc_id") % 2 == 0)
    model = fit_lm(train)
    # model persists as parquet and reloads (train-once/score-many)
    model.save(str(tmp_path / "lm_model"))
    model = BigramLM.load(spark, str(tmp_path / "lm_model"))

    half_a = docs.where(F.col("doc_id") < 25)
    half_b = docs.where((F.col("doc_id") >= 25) & (F.col("doc_id") < 50))
    landing = tmp_path / "landing"
    landing.mkdir()
    half_a.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "sa"))
    half_b.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "sb"))
    shutil.copy(
        sorted((tmp_path / "sa").glob("*.parquet"))[0], landing / "a.parquet"
    )

    out = str(tmp_path / "scores")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(landing)
        )
        start_batch_stage(
            stream, lambda b, _: (score_docs(b, model),), (out,), ckpt
        ).awaitTermination()

    def scores():
        return {
            r["doc_id"]: (r["n_pairs"], r["n_backoff"], r["avg_nll"], r["ppl"])
            for r in read_partials(
                spark,
                out,
                "doc_id long, n_pairs long, n_backoff long, avg_nll double, "
                "ppl double",
                ckpt,
            ).collect()
        }

    def batch_scores(df):
        return {
            r["doc_id"]: (r["n_pairs"], r["n_backoff"], r["avg_nll"], r["ppl"])
            for r in score_docs(df, model).collect()
        }

    drain()
    got_a = scores()
    assert got_a == batch_scores(half_a)
    # no-new-input restart: nothing double-scored
    drain()
    assert scores() == got_a
    # second landing batch extends the scored set exactly
    shutil.copy(
        sorted((tmp_path / "sb").glob("*.parquet"))[0], landing / "b.parquet"
    )
    drain()
    assert scores() == {**got_a, **batch_scores(half_b)}


def test_streaming_quality_classifier_matches_batch(spark, tmp_path):
    """score_quality through the micro-batch door scores exactly as
    batch score_quality with the same fitted model, exactly-once
    across a no-input restart."""
    import shutil

    from prod2vec_spark.ml.quality_clf import (
        fit_quality_classifier,
        score_quality,
    )
    from prod2vec_spark.sources.io import read_partials, start_batch_stage

    clean = (
        read_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .withColumn("label", F.lit(1))
    )
    spam = spark.createDataFrame(
        [(100000 + i, "buy now " * 20) for i in range(20)],
        "doc_id long, text string",
    ).withColumn("label", F.lit(0))
    model = fit_quality_classifier(clean.unionByName(spam))

    score_me = clean.select("doc_id", "text").where(F.col("doc_id") < 30)
    landing = tmp_path / "landing"
    landing.mkdir()
    score_me.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "s"))
    shutil.copy(
        sorted((tmp_path / "s").glob("*.parquet"))[0], landing / "a.parquet"
    )
    out, ckpt = str(tmp_path / "scores"), str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(landing)
        )
        start_batch_stage(
            stream, lambda b, _: (score_quality(b, model),), (out,), ckpt
        ).awaitTermination()

    def read_scores():
        return read_partials(
            spark, out, "doc_id long, quality_prob double", ckpt
        ).collect()

    drain()
    got = {r["doc_id"]: r["quality_prob"] for r in read_scores()}
    want = {
        r["doc_id"]: r["quality_prob"]
        for r in score_quality(score_me, model).collect()
    }
    assert got == want and got
    drain()  # no-input restart: unchanged
    assert {r["doc_id"]: r["quality_prob"] for r in read_scores()} == got


def test_streaming_line_filter_matches_batch(spark, tmp_path):
    """Round-9b: with line_filter on, the streaming exact stage must
    surface EXACTLY the per-digest survivors the shared batch
    apply_line_filter admits — same code path, so the surviving TEXTS
    (not just ids) must agree, and the planted all-junk page never
    reaches the stream's digest state."""
    import shutil

    from prod2vec_spark.operators.linefilters import apply_line_filter

    junk = " ".join(["javascript"] * 10)
    clean = " ".join(f"tok{i}" for i in range(10))
    base = (
        read_table(spark, SF_SMOKE, "documents")
        .limit(100)
        .select("doc_id", "text", "lang")
    )
    planted = spark.createDataFrame(
        [(9001, junk, "en"), (9002, f"{clean} {junk}", "en")],
        "doc_id long, text string, lang string",
    )
    docs = base.unionByName(planted).localCheckpoint()

    want = apply_line_filter(
        docs, mode="window", width=10, blocklist=("javascript",)
    )
    want_texts = {r["text"] for r in want.select("text").collect()}

    landing = tmp_path / "landing"
    landing.mkdir()
    docs.coalesce(1).write.parquet(str(tmp_path / "stage"))
    shutil.copy(
        sorted((tmp_path / "stage").glob("*.parquet"))[0],
        landing / "a.parquet",
    )
    cfg = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        line_filter=True,
        lf_width=10,
        lf_blocklist=("javascript",),
    )
    StreamingCorpusPipeline(spark, cfg).exact_stage()
    got = spark.read.parquet(cfg.exact_dir)
    got_texts = {r["text"] for r in got.select("text").collect()}
    assert got_texts <= want_texts          # per-digest survivors only
    assert len(got_texts) == want.select("text").distinct().count()
    ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    assert 9001 not in ids                  # all-junk page gated out
    got_9002 = got.where(F.col("doc_id") == 9002).collect()
    if got_9002:                            # junk half cut before digest
        assert got_9002[0]["text"] == clean


def test_streaming_drop_ledger_partition_contract(spark, tmp_path):
    """Round-11 (VERDICT r9 ask #7) — the streaming twin of the batch
    drop-ledger partition contract: landing ids = curated ids ∪ ledger
    ids, DISJOINT, with every drop attributed to exactly one stage —
    the scan stages replayed from the stage table, the stateful stages
    read from their committed idempotent artifacts."""
    import shutil

    docs = (
        amplify_documents(
            read_table(spark, SF_SMOKE, "documents").limit(80),
            factor=3,
            exact_replicas=2,
        )
        .select("doc_id", "text", "lang")
        # a planted sub-threshold doc the quality gate must drop —
        # and must be ATTRIBUTED to, not just absent from the output
        .unionByName(
            spark.createDataFrame(
                [(999001, "!!! ??? !!!", "en")],
                "doc_id long, text string, lang string",
            )
        )
        .localCheckpoint()
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    docs.coalesce(1).write.parquet(str(tmp_path / "stage"))
    shutil.copy(
        sorted((tmp_path / "stage").glob("*.parquet"))[0],
        landing / "batch_a.parquet",
    )
    cfg = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        quality_min=0.5,  # planted junk scores ~0.27, corpus docs >0.7
    )
    pipe = StreamingCorpusPipeline(spark, cfg)
    curated = pipe.run()

    cur_ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    landing_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    led = {
        r["doc_id"]: r["dropped_at"] for r in pipe.drop_ledger().collect()
    }
    # partition contract: union covers the landing, intersection empty
    assert set(led) | cur_ids == landing_ids
    assert not (set(led) & cur_ids)
    # the planted doc is attributed to the quality gate by name
    assert led[999001] == "quality_gate"
    # the amplified corpus exercises both stateful stages' attributions
    assert "exact_dedup" in set(led.values())
    assert "near_dedup" in set(led.values())
    # only configured stages may appear
    assert set(led.values()) <= {"quality_gate", "exact_dedup", "near_dedup"}


@pytest.mark.parametrize(
    "order, D",
    [
        (2, None),  # interpolated bigram KN, the single default D
        (3, {3: (0.5, 1.1, 1.6), 2: (0.4, 0.9, 1.3)}),  # modified KN
        (4, {k: (0.4, 0.9, 1.3) for k in (2, 3, 4)}),
    ],
)
def test_streaming_knn_scoring_matches_batch(spark, tmp_path, order, D):
    """score_docs_knn through the micro-batch door, at orders 2, 3
    and 4: per-batch scores equal batch score_docs_knn under the same
    persisted model (single-D and per-level modified discounts), stay
    exactly-once across a no-new-input restart, and extend on a
    second landing batch."""
    import shutil

    from prod2vec_spark.operators.lm import KNnModel, fit_knn, score_docs_knn
    from prod2vec_spark.sources.io import read_partials, start_batch_stage

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    model = fit_knn(docs.where(F.col("doc_id") % 2 == 0), order=order)
    model.save(str(tmp_path / "kn_model"))
    model = KNnModel.load(spark, str(tmp_path / "kn_model"), order=order)

    half_a = docs.where(F.col("doc_id") < 25)
    half_b = docs.where((F.col("doc_id") >= 25) & (F.col("doc_id") < 50))
    landing = tmp_path / "landing"
    landing.mkdir()
    half_a.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "sa"))
    half_b.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "sb"))
    shutil.copy(
        sorted((tmp_path / "sa").glob("*.parquet"))[0], landing / "a.parquet"
    )
    out, ckpt = str(tmp_path / "scores"), str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(landing)
        )
        start_batch_stage(
            stream,
            lambda b, _: (score_docs_knn(b, model, discounts=D),),
            (out,),
            ckpt,
        ).awaitTermination()

    def scores():
        return {
            r["doc_id"]: (r["n_grams"], r["n_bo"], r["avg_nll"], r["ppl"])
            for r in read_partials(
                spark,
                out,
                "doc_id long, n_grams long, n_bo long, avg_nll double, "
                "ppl double",
                ckpt,
            ).collect()
        }

    def batch_scores(df):
        return {
            r["doc_id"]: (r["n_grams"], r["n_bo"], r["avg_nll"], r["ppl"])
            for r in score_docs_knn(df, model, discounts=D).collect()
        }

    assert scores() == {}  # empty before the first commit
    drain()
    got_a = scores()
    assert got_a and got_a == batch_scores(half_a)
    drain()  # no new input: exactly-once
    assert scores() == got_a
    shutil.copy(
        sorted((tmp_path / "sb").glob("*.parquet"))[0], landing / "b.parquet"
    )
    drain()
    assert scores() == {**batch_scores(half_a), **batch_scores(half_b)}


def test_streaming_decontamination_matches_batch_and_replays(spark, tmp_path):
    """Round-15 (VERDICT r14 ask #8): the streaming decon gate's
    committed decisions must equal the batch operators' verdicts over
    the same exact-dedup survivors and the same static bench suite —
    exact n-gram screen AND fuzzy MinHash/exact-Jaccard screen (the
    fuzzy leg must catch a planted paraphrase the exact rule misses) —
    drop at curated() with 'decon_gate' ledger attribution, and stay
    exactly-once across a no-new-input restart and a full replay."""
    import shutil

    from prod2vec_spark.operators.decontam import (
        contamination_report,
        fuzzy_contamination_report,
    )

    # spread=False: the planted-leak ids (3, 7) must land inside the
    # limit(80) slice, which is file-order-dependent — pin the raw
    # scan order (read_table's default spread repartitions round-robin)
    docs = (
        read_table(spark, SF_SMOKE, "documents", spread=False)
        .limit(80)
        .select("doc_id", "text", "lang")
        .localCheckpoint()
    )
    planted = {r["doc_id"]: r["text"] for r in docs.where(
        F.col("doc_id").isin(3, 7)).collect()}
    # bench suite: one verbatim leak (exact screen) + one paraphrase
    # (every 12th token swapped — under the 0.9 exact collision floor,
    # above the 0.4 Jaccard floor)
    toks = planted[7].split()
    edited = " ".join(
        ("EDITTOK" if i % 12 == 0 else t) for i, t in enumerate(toks)
    )
    bench = spark.createDataFrame(
        [(100001, planted[3], "en"), (100002, edited, "en")],
        "doc_id long, text string, lang string",
    )
    bench_dir = str(tmp_path / "bench")
    bench.write.parquet(bench_dir)

    landing = tmp_path / "landing"
    landing.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    src = sorted((tmp_path / "stage").glob("*.parquet"))[0]
    shutil.copy(src, landing / "a.parquet")

    cfg = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        decon_gate=True,
        decon_bench_dir=bench_dir,
        decon_n=5,
        decon_min_frac=0.9,
        decon_fuzzy=True,
        decon_fuzzy_jaccard=0.4,
        decon_fuzzy_hashes=16,
        decon_fuzzy_band=1,
    )
    pipe = StreamingCorpusPipeline(spark, cfg)
    curated = pipe.run().localCheckpoint()

    # batch parity over the SAME exact-dedup survivors + bench suite
    exact = spark.read.parquet(cfg.exact_dir)
    tagged = (
        exact.select("doc_id", "text")
        .withColumn("is_bench", F.lit(False))
        .unionByName(
            bench.select("doc_id", "text").withColumn(
                "is_bench", F.lit(True)
            )
        )
    )
    exp_exact = {
        r["doc_id"]
        for r in contamination_report(
            tagged, n=5, contaminated_min_frac=0.9, tagged=tagged
        ).where("contaminated").collect()
    }
    exp_fuzzy = {
        r["doc_id"]
        for r in fuzzy_contamination_report(
            tagged,
            shingle_k=3,
            num_hashes=16,
            band_size=1,
            min_jaccard=0.4,
            tagged=tagged,
        ).where("contaminated").collect()
    }
    assert 3 in exp_exact, "verbatim leak must trip the exact screen"
    assert 7 in exp_fuzzy and 7 not in exp_exact, (
        "paraphrase must be fuzzy-only"
    )
    got_drop = {r["doc_id"] for r in exact.select("doc_id").collect()} - {
        r["doc_id"] for r in pipe.decon_gate(exact).select("doc_id").collect()
    }
    assert got_drop == (exp_exact | exp_fuzzy)

    curated_ids = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert not (curated_ids & got_drop)
    ledger = {
        r["doc_id"]: r["dropped_at"] for r in pipe.drop_ledger().collect()
    }
    assert ledger[3] == "decon_gate" and ledger[7] == "decon_gate"
    # partition contract still holds with the gate on
    landing_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert curated_ids | set(ledger) == landing_ids
    assert not (curated_ids & set(ledger))

    # exactly-once: no new input, then a full replay — same curated set
    pipe.run()
    assert {
        r["doc_id"] for r in pipe.curated().select("doc_id").collect()
    } == curated_ids
    shutil.copy(src, landing / "a_replay.parquet")
    pipe.run()
    assert {
        r["doc_id"] for r in pipe.curated().select("doc_id").collect()
    } == curated_ids


def test_streaming_badwords_gate_matches_batch(spark, tmp_path):
    """Round-15: with badwords_cats set, the streaming gate chain must
    admit EXACTLY the docs the batch badwords_gate keeps (row-local +
    deterministic — zero semantic gap), and the drop ledger must
    attribute the drops to 'badwords_gate'."""
    import shutil

    from prod2vec_spark.operators.badwords import badwords_gate

    docs = (
        read_table(spark, SF_SMOKE, "documents")
        .limit(60)
        .select("doc_id", "text", "lang")
        .localCheckpoint()
    )
    cats = {"latency": ("slow",)}
    landing = tmp_path / "landing"
    landing.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    shutil.copy(
        sorted((tmp_path / "stage").glob("*.parquet"))[0],
        landing / "a.parquet",
    )
    cfg = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        badwords_cats=cats,
        badwords_max_frac=0.0,
    )
    pipe = StreamingCorpusPipeline(spark, cfg)
    pipe.run()
    bad_ids = {
        r["doc_id"]
        for r in badwords_gate(docs, cats).where("bad_verdict").collect()
    }
    assert bad_ids, "fixture must plant at least one list-bearing doc"
    exact_ids = {
        r["doc_id"]
        for r in spark.read.parquet(cfg.exact_dir).select("doc_id").collect()
    }
    assert not (exact_ids & bad_ids)
    ledger = {
        r["doc_id"]: r["dropped_at"] for r in pipe.drop_ledger().collect()
    }
    assert bad_ids <= set(ledger)
    assert {ledger[i] for i in bad_ids} == {"badwords_gate"}


def test_streaming_badwords_by_lang_matches_batch(spark, tmp_path):
    """Round-16: the per-LANGUAGE badwords gate in the streaming
    chain admits exactly the docs the batch operator keeps (row-local
    + deterministic — zero semantic gap), with 'badwords_gate' ledger
    attribution; the shared badwords_screen gate means the two chains
    cannot drift."""
    import shutil

    from prod2vec_spark.operators.badwords import badwords_by_lang

    docs = (
        read_table(spark, SF_SMOKE, "documents")
        .limit(60)
        .select("doc_id", "text", "lang")
        .localCheckpoint()
    )
    lists = {
        "en": {"latency": ("slow",)},
        "de": {"latency": ("slow", "fast")},
    }
    landing = tmp_path / "landing"
    landing.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "stage"))
    shutil.copy(
        sorted((tmp_path / "stage").glob("*.parquet"))[0],
        landing / "a.parquet",
    )
    cfg = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        badwords_lang_lists=lists,
        badwords_default_lang="en",
    )
    pipe = StreamingCorpusPipeline(spark, cfg)
    pipe.run()
    bad_ids = {
        r["doc_id"]
        for r in badwords_by_lang(docs, lists, default_lang="en")
        .where("bad_verdict")
        .collect()
    }
    assert bad_ids
    exact_ids = {
        r["doc_id"]
        for r in spark.read.parquet(cfg.exact_dir).select("doc_id").collect()
    }
    assert not (exact_ids & bad_ids)
    ledger = {
        r["doc_id"]: r["dropped_at"] for r in pipe.drop_ledger().collect()
    }
    assert bad_ids <= set(ledger)
    assert {ledger[i] for i in bad_ids} == {"badwords_gate"}
