"""Learned language-ID (ml/langid_clf.py): held-out accuracy bound on
planted multilingual fixtures (incl. CJK script), save/load through
the MLlib model plane, and the integration contract — learned labels
feeding the per-language LM and the temperature mixer."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from prod2vec_spark.ml.langid_clf import (
    fit_lang_classifier,
    lang_labels,
    score_lang,
)

import pytest

pytestmark = pytest.mark.slow  # e2e/replay file: driver-budget suite skips it (conftest hook)

_VOCAB = {
    "en": ("the cat sat on a mat and that dog is in his house of king "
           "with this from they were not what when there which").split(),
    "de": ("der hund ist nicht und das haus die katze war schön über "
           "auch ein eine wird nach bei durch für müssen zwischen").split(),
    "es": ("el perro la casa de que y es en los niños una para con "
           "por como está pero más sobre años también").split(),
    "fr": ("le chien la maison les et est une dans pour avec des pas "
           "sur qui plus sont leurs cette très après").split(),
    "zh": list("我是中国人他们的学生在大学里学习中文和数学这个时候没有什么问题可以知道"),
}
_LANGS = sorted(_VOCAB)


def _corpus(
    seed: int, n_per_lang: int = 60, space_zh: bool = False
) -> list[tuple[int, str, str]]:
    """Planted multilingual corpus; zh is unsegmented CJK by default
    (the realistic case); ``space_zh`` emits character-segmented zh
    for consumers that need whitespace tokens (the bigram LM)."""
    rng = np.random.default_rng(seed)
    rows = []
    doc_id = 0
    for lang in _LANGS:
        vocab = _VOCAB[lang]
        for _ in range(n_per_lang):
            n = int(rng.integers(6, 16))
            words = [vocab[int(i)] for i in rng.integers(0, len(vocab), n)]
            sep = " " if (lang != "zh" or space_zh) else ""
            rows.append((doc_id, sep.join(words), lang))
            doc_id += 1
    return rows


def _frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_langid_heldout_accuracy(spark):
    """CCNet-shape bound: >= 0.9 accuracy on a held-out split of the
    planted 5-language corpus (the marker heuristic's language set,
    including the CJK case)."""
    train = _frame(spark, _corpus(seed=1))
    test = _frame(spark, _corpus(seed=2, n_per_lang=20))
    model = fit_lang_classifier(train)
    assert lang_labels(model) == _LANGS  # alphabetAsc — deterministic
    scored = score_lang(test, model).join(
        test.select("doc_id", "lang"), "doc_id"
    )
    n = scored.count()
    n_right = scored.where(F.col("lang_pred") == F.col("lang")).count()
    assert n == 100
    assert n_right / n >= 0.9, f"held-out accuracy {n_right / n}"
    # probability contract
    bad = scored.where(
        (F.col("lang_prob") <= 0) | (F.col("lang_prob") > 1)
    ).count()
    assert bad == 0


def test_langid_save_load_roundtrip(spark, tmp_path):
    """The model-sink/source plane: PipelineModel.save/load preserves
    predictions exactly (same contract as the quality classifier)."""
    from pyspark.ml import PipelineModel

    train = _frame(spark, _corpus(seed=3, n_per_lang=30))
    probe = _frame(spark, _corpus(seed=4, n_per_lang=5))
    model = fit_lang_classifier(train, max_iter=20)
    path = str(tmp_path / "langid_model")
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)
    a = {r["doc_id"]: r["lang_pred"] for r in score_lang(probe, model).collect()}
    b = {r["doc_id"]: r["lang_pred"] for r in score_lang(probe, reloaded).collect()}
    assert a == b


def test_langid_labels_survive_in_scoring(spark):
    """lang_pred strings come from the model's OWN StringIndexer
    labels — never a hardcoded list — so a model trained on a label
    subset predicts only that subset."""
    rows = [r for r in _corpus(seed=5, n_per_lang=25) if r[2] in ("en", "zh")]
    train = _frame(spark, rows)
    model = fit_lang_classifier(train, max_iter=20)
    assert lang_labels(model) == ["en", "zh"]
    probe = _frame(spark, _corpus(seed=6, n_per_lang=4))
    preds = {r["lang_pred"] for r in score_lang(probe, model).collect()}
    assert preds <= {"en", "zh"}


def test_langid_feeds_lm_and_temperature_mix(spark):
    """Integration: learned labels drive the per-language LM
    (lm_perplexity keyed by lang) and the temperature mixer — the CCNet
    deployment chain lang-id -> per-lang LM -> mix, end to end on
    learned predictions instead of the corpus label column."""
    from prod2vec_spark.operators.lm import lm_perplexity
    from prod2vec_spark.operators.mixing import temperature_mix

    train = _frame(spark, _corpus(seed=7))
    # zh char-segmented here: the bigram LM needs whitespace tokens
    corpus = _frame(spark, _corpus(seed=8, n_per_lang=30, space_zh=True)).drop(
        "lang"
    )
    model = fit_lang_classifier(train)
    labeled = corpus.join(score_lang(corpus, model), "doc_id").withColumnRenamed(
        "lang_pred", "lang"
    )
    # per-language LM over learned labels: every language present,
    # every scored doc carries a finite perplexity
    ppl = lm_perplexity(labeled, train_frac=0.7, seed="lid", group_col="lang")
    langs_seen = {r["lang"] for r in ppl.select("lang").distinct().collect()}
    assert langs_seen == set(_LANGS)
    assert ppl.where((F.col("ppl") <= 0) | F.isnan("ppl")).count() == 0
    # temperature mix over learned labels: flattening contract holds
    # (alpha < 1 boosts rare languages relative to natural share)
    mix = temperature_mix(labeled, alpha=0.5, source_col="lang").collect()
    assert {r["source"] for r in mix} == set(_LANGS)
    for r in mix:
        assert r["p_temp"] > 0
    # shares sum to 1
    assert abs(sum(r["p_temp"] for r in mix) - 1.0) < 1e-6


def test_lang_id_learned_query_accuracy_bound(spark):
    """The rows-only superset entry is self-auditing: per-language
    held-out counts with total accuracy >= 0.9 on the planted corpus
    (the L-LANGID analog of ann_recall's checked number)."""
    from prod2vec_spark.queries.text import q_lang_id_learned
    from tests.conftest import SF_SMOKE

    rows = q_lang_id_learned(spark, SF_SMOKE).collect()
    assert {r["lang"] for r in rows} == set(_LANGS)
    total = sum(r["n_docs"] for r in rows)
    correct = sum(r["n_correct"] for r in rows)
    assert total > 0
    assert correct / total >= 0.9, f"accuracy {correct / total}"


def test_langid_stream_matches_batch_scoring(spark, tmp_path):
    """score_lang through the micro-batch door labels exactly as batch
    score_lang with the same fitted model, exactly-once across a
    no-input restart (the quality_clf stream contract, language
    edition)."""
    import shutil

    from prod2vec_spark.sources.io import read_partials, start_batch_stage

    model = fit_lang_classifier(_frame(spark, _corpus(seed=20, n_per_lang=30)))
    probe = _frame(spark, _corpus(seed=21, n_per_lang=6)).select(
        "doc_id", "text"
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    probe.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "s"))
    shutil.copy(
        sorted((tmp_path / "s").glob("*.parquet"))[0], landing / "a.parquet"
    )
    out, ckpt = str(tmp_path / "labels"), str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(landing)
        )
        start_batch_stage(
            stream, lambda b, _: (score_lang(b, model),), (out,), ckpt
        ).awaitTermination()

    def read_labels():
        return read_partials(
            spark, out, "doc_id long, lang_pred string, lang_prob double", ckpt
        ).collect()

    drain()
    got = {r["doc_id"]: (r["lang_pred"], r["lang_prob"]) for r in read_labels()}
    want = {
        r["doc_id"]: (r["lang_pred"], r["lang_prob"])
        for r in score_lang(probe, model).collect()
    }
    assert got == want and got
    drain()  # no-input restart: unchanged
    assert {
        r["doc_id"]: (r["lang_pred"], r["lang_prob"]) for r in read_labels()
    } == got
