"""Round-14 (VERDICT r13 ask #4): document-level badwords gate —
operators/badwords.py (the C4 §2.2 screen) and its curation-DAG
integration with drop-ledger attribution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prod2vec_spark.operators.badwords import badwords_gate

CATS = {"tox": ("darn", "heck"), "spam": ("free money",)}


def test_badwords_planted_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "a perfectly clean document"),
            (2, "well DARN that is a hit"),  # case-insensitive token
            (3, "free money for everyone free money"),  # phrase ×2
            (4, "darn heck darn"),  # 3 hits / 3 tokens
            (5, None),  # NULL text: empty doc, kept
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in badwords_gate(docs, CATS).collect()}
    assert out[1]["hits_tox"] == 0 and out[1]["hits_spam"] == 0
    assert not out[1]["bad_verdict"]
    assert out[2]["hits_tox"] == 1 and out[2]["bad_verdict"]
    assert out[3]["hits_spam"] == 2 and out[3]["bad_verdict"]
    assert out[4]["hits_tox"] == 3
    assert out[4]["badword_frac"] == 1.0
    assert out[5]["n_tokens"] == 0 and out[5]["badword_frac"] == 0.0
    assert not out[5]["bad_verdict"]


def test_badwords_whole_token_not_substring(spark):
    """The Scunthorpe guard: single-word entries match whole tokens
    only — 'darn' inside 'darning' is NOT a hit."""
    docs = spark.createDataFrame(
        [(1, "she was darning socks"), (2, "darn socks")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in badwords_gate(docs, CATS).collect()}
    assert out[1]["hits_tox"] == 0 and not out[1]["bad_verdict"]
    assert out[2]["hits_tox"] == 1 and out[2]["bad_verdict"]


def test_badwords_max_frac_threshold(spark):
    """max_frac > 0 keeps docs whose badword density stays under the
    cut (the 'report, do not censor' deployment)."""
    docs = spark.createDataFrame(
        [(1, " ".join(["ok"] * 99 + ["darn"]))], "doc_id long, text string"
    )
    assert not badwords_gate(docs, CATS, max_frac=0.02).first()["bad_verdict"]
    assert badwords_gate(docs, CATS, max_frac=0.0).first()["bad_verdict"]


def test_badwords_validation_errors(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="at least one category"):
        badwords_gate(docs, {})
    with pytest.raises(ValueError, match="has no words"):
        badwords_gate(docs, {"tox": ()})
    with pytest.raises(ValueError, match="column suffix"):
        badwords_gate(docs, {"bad cat": ("x",)})


@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_dag_badwords_stage_and_ledger(spark, tmp_path):
    """The curation DAG with badwords_cats set drops list-bearing docs
    at the fused input gate and the drop ledger attributes them to
    'badwords_gate' (not to a later stage)."""
    from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    # words guaranteed present in the synthetic corpus
    cats = {"latency": ("slow",)}
    cfg = CorpusConfig(
        sf_dir=SF_SMOKE, work_dir=str(tmp_path / "w"), badwords_cats=cats
    )
    pipe = CorpusCurationPipeline(spark, cfg)
    final = pipe.run()
    docs = read_table(spark, SF_SMOKE, "documents")
    bad_ids = {
        r["doc_id"]
        for r in badwords_gate(docs, cats).where("bad_verdict").collect()
    }
    assert bad_ids, "fixture must plant at least one list-bearing doc"
    curated = spark.read.parquet(f"{cfg.work_dir}/decontaminated")
    kept = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert not (bad_ids & kept)
    ledger = {
        r["doc_id"]: r["dropped_at"] for r in pipe.drop_ledger().collect()
    }
    assert bad_ids <= set(ledger)
    assert {ledger[i] for i in bad_ids} == {"badwords_gate"}
    assert final is not None


def test_badwords_punctuation_adjacent_tokens_count(spark):
    """Word-boundary matching (ADVICE r14): a listed word adjacent to
    punctuation — 'darn.', 'darn,', '"darn"', '(darn!)' — still counts
    as a whole-token hit, while punctuation INSIDE a word ('da.rn')
    and substrings ('darning.') still do not."""
    docs = spark.createDataFrame(
        [
            (1, "well darn. that hurts"),
            (2, 'she said "darn," twice (darn!)'),
            (3, "da.rn is not a hit and darning. is not either"),
            (4, "...darn..."),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in badwords_gate(docs, CATS).collect()}
    assert out[1]["hits_tox"] == 1
    assert out[2]["hits_tox"] == 2
    assert out[3]["hits_tox"] == 0
    assert out[4]["hits_tox"] == 1 and out[4]["bad_verdict"]


def test_badwords_by_lang_selects_each_docs_own_list(spark):
    """Round-16 (VERDICT r15 ask #8): each doc is screened against
    ITS language's blocklist; a listed language missing a category
    reads 0 there (not the default list); unlisted languages fall
    back to default_lang; NULL lang follows the fallback too."""
    from prod2vec_spark.operators.badwords import badwords_by_lang

    rows = [
        (1, "en", "the slow big engine"),
        (2, "de", "der fast slow motor"),
        (3, "fr", "la table grande table"),
        (4, "zh", "slow big words here"),   # unlisted -> en fallback
        (5, None, "slow small things"),     # NULL lang -> fallback
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    lists = {
        "en": {"latency": ("slow",), "scale": ("big", "small")},
        "de": {"latency": ("slow", "fast")},
        "fr": {"scale": ("table",)},
    }
    got = {
        r["doc_id"]: r
        for r in badwords_by_lang(
            docs, lists, default_lang="en"
        ).collect()
    }
    assert (got[1]["hits_latency"], got[1]["hits_scale"]) == (1, 1)
    # de list counts fast AND slow for latency, has NO scale category
    assert (got[2]["hits_latency"], got[2]["hits_scale"]) == (2, 0)
    # fr has no latency category — 'slow'-free text, scale counts 'table'
    assert (got[3]["hits_latency"], got[3]["hits_scale"]) == (0, 2)
    # zh unlisted -> en fallback
    assert (got[4]["hits_latency"], got[4]["hits_scale"]) == (1, 1)
    # NULL lang -> fallback as well
    assert (got[5]["hits_latency"], got[5]["hits_scale"]) == (1, 1)


def test_badwords_by_lang_language_independence(spark):
    """Adding another language's list must not change any other
    language's rows (the lm_by_lang one-grouped-computation rule,
    checked as an invariant)."""
    from prod2vec_spark.operators.badwords import badwords_by_lang

    rows = [
        (1, "en", "slow big text"),
        (2, "de", "fast slow text"),
        (3, "zh", "slow words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    base_lists = {
        "en": {"latency": ("slow",), "scale": ("big",)},
        "de": {"latency": ("fast",)},
    }
    grown = dict(base_lists)
    grown["fr"] = {"latency": ("lent",), "scale": ("table", "grande")}
    cols = ["hits_latency", "hits_scale", "badword_frac", "bad_verdict"]
    before = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in badwords_by_lang(docs, base_lists, default_lang="en").collect()
    }
    after = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in badwords_by_lang(docs, grown, default_lang="en").collect()
    }
    assert before == after


def test_badwords_by_lang_unlisted_without_default_passes(spark):
    """No default_lang: an unlisted language reads 0 hits and passes
    — absence of evidence, not a verdict."""
    from prod2vec_spark.operators.badwords import badwords_by_lang

    docs = spark.createDataFrame(
        [(1, "zh", "slow big text")], "doc_id long, lang string, text string"
    )
    lists = {"en": {"latency": ("slow",)}}
    r = badwords_by_lang(docs, lists).collect()[0]
    assert r["hits_latency"] == 0 and r["bad_verdict"] is False


def test_badwords_by_lang_validation(spark):
    import pytest as _pytest

    from prod2vec_spark.operators.badwords import badwords_by_lang

    docs = spark.createDataFrame(
        [(1, "en", "x")], "doc_id long, lang string, text string"
    )
    with _pytest.raises(ValueError, match="at least one language"):
        badwords_by_lang(docs, {})
    with _pytest.raises(ValueError, match="no words"):
        badwords_by_lang(docs, {"en": {"latency": ()}})
    with _pytest.raises(ValueError, match="default_lang"):
        badwords_by_lang(docs, {"en": {"latency": ("slow",)}}, default_lang="xx")


@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_dag_badwords_by_lang_stage_and_ledger(spark, tmp_path):
    """Round-16: the curation DAG with badwords_lang_lists drops each
    doc by ITS language's list (zh falls back to the en default), the
    ledger attributes to 'badwords_gate', and mixing both config
    forms raises."""
    import pytest as _pytest

    from prod2vec_spark.operators.badwords import badwords_by_lang
    from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    lists = {
        "en": {"latency": ("slow",)},
        "de": {"latency": ("slow", "fast")},
    }
    cfg = CorpusConfig(
        sf_dir=SF_SMOKE,
        work_dir=str(tmp_path / "w"),
        badwords_lang_lists=lists,
        badwords_default_lang="en",
    )
    pipe = CorpusCurationPipeline(spark, cfg)
    pipe.run()
    docs = read_table(spark, SF_SMOKE, "documents")
    bad_ids = {
        r["doc_id"]
        for r in badwords_by_lang(docs, lists, default_lang="en")
        .where("bad_verdict")
        .collect()
    }
    assert bad_ids
    curated = spark.read.parquet(f"{cfg.work_dir}/decontaminated")
    kept = {r["doc_id"] for r in curated.select("doc_id").collect()}
    assert not (bad_ids & kept)
    ledger = {
        r["doc_id"]: r["dropped_at"] for r in pipe.drop_ledger().collect()
    }
    assert bad_ids <= set(ledger)
    assert {ledger[i] for i in bad_ids} == {"badwords_gate"}
    # mutually exclusive with the single-list form
    both = CorpusConfig(
        sf_dir=SF_SMOKE,
        work_dir=str(tmp_path / "w2"),
        badwords_cats={"latency": ("slow",)},
        badwords_lang_lists=lists,
    )
    with _pytest.raises(ValueError, match="mutually exclusive"):
        CorpusCurationPipeline(spark, both).run()


def test_badwords_screen_empty_mapping_is_off(spark, tmp_path):
    """An empty ``cats`` or ``lang_lists`` mapping is off, as None is:
    the screen runs the other list (or passes every doc with both
    off), for the batch DAG and the streaming gate chain alike; both
    lists set is the one exclusivity error, raised by the screen."""
    from prod2vec_spark.operators.badwords import badwords_screen
    from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline
    from prod2vec_spark.streaming.pipeline import (
        StreamCorpusConfig,
        StreamingCorpusPipeline,
    )

    docs = spark.createDataFrame(
        [(1, "en", "the slow engine"), (2, "en", "a quick engine")],
        "doc_id long, lang string, text string",
    )
    lists = {"en": {"latency": ("slow",)}}

    def ids(df):
        return sorted(r["doc_id"] for r in df.collect())

    assert ids(badwords_screen(docs, cats={}, lang_lists=lists)) == [2]
    assert ids(badwords_screen(docs, cats=CATS, lang_lists={})) == [1, 2]
    assert ids(badwords_screen(docs, cats={}, lang_lists=None)) == [1, 2]
    with pytest.raises(ValueError, match="mutually exclusive"):
        badwords_screen(docs, cats=CATS, lang_lists=lists)

    stream = StreamingCorpusPipeline(
        spark,
        StreamCorpusConfig(
            landing_dir="unused",
            work_dir="unused",
            badwords_cats={},
            badwords_lang_lists=lists,
        ),
    )
    assert ids(stream._fold(docs)[0]) == [2]  # the stream's scan stages
    sf_dir = str(tmp_path / "sf")
    # the documents table carries every declared column
    docs.withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text").cast("long")
    ).write.parquet(f"{sf_dir}/documents.parquet")
    batch = CorpusCurationPipeline(
        spark,
        CorpusConfig(
            sf_dir=sf_dir,
            work_dir=str(tmp_path / "w"),
            badwords_cats={},
            badwords_lang_lists=lists,
        ),
    )
    assert ids(batch.scrubbed_input()) == [2]
