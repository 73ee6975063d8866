"""Behavioral tests for the round-7 operator families (segment dedup,
bigram-LM perplexity, BM25 retrieval, quality-canonical survivor) —
the oracle-parity gate (test_oracle_parity.py) covers value equality;
these assert the operator SEMANTICS on constructed inputs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


# ------------------------------------------------------ segment dedup
def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_segments_windows(spark):
    from prod2vec_spark.operators.linedup import token_segments

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, "")], "id long, text string"
    )
    out = df.select(
        token_segments(F.split(F.trim("text"), r"\s+"), 2).alias("segs")
    ).collect()
    assert out[0]["segs"] == ["a b", "c d", "e"]  # ragged tail kept
    assert out[1]["segs"] == ["x"]
    # split('') yields [''] — one empty token, one window; the operator
    # guards only the genuinely-empty array case
    assert out[2]["segs"] == [""]


def test_token_segments_rejects_bad_width():
    from prod2vec_spark.operators.linedup import token_segments

    with pytest.raises(ValueError):
        token_segments(F.col("x"), 0)


def test_segment_dedup_drops_shared_keeps_unique(spark):
    from prod2vec_spark.operators.linedup import segment_dedup

    boiler = "p q r"  # 3-token window shared by all docs
    docs = _docs(
        spark,
        [
            (1, f"{boiler} a b c"),
            (2, f"{boiler} d e f"),
            (3, f"{boiler} g h i"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in segment_dedup(docs, width=3, min_docs=2).collect()
    }
    for d in (1, 2, 3):
        assert out[d]["n_segs"] == 2
        assert out[d]["n_dropped"] == 1
    assert out[1]["kept_text"] == "a b c"
    assert out[2]["kept_text"] == "d e f"


def test_segment_dedup_fully_boilerplate_doc_survives_empty(spark):
    from prod2vec_spark.operators.linedup import segment_dedup

    docs = _docs(spark, [(1, "p q r"), (2, "p q r"), (3, "u v w")])
    out = {
        r["doc_id"]: r
        for r in segment_dedup(docs, width=3, min_docs=2).collect()
    }
    # docs 1/2 are 100% boilerplate: present, empty text — the drop
    # decision stays with the caller
    assert out[1]["kept_text"] == "" and out[1]["n_dropped"] == 1
    assert out[3]["kept_text"] == "u v w" and out[3]["n_dropped"] == 0


def test_segment_dedup_order_preserved(spark):
    from prod2vec_spark.operators.linedup import segment_dedup

    # two shared windows interleaved with unique ones: reassembly must
    # keep original position order, not collection order
    docs = _docs(
        spark,
        [
            (1, "s1 s1 a a s2 s2 b b"),
            (2, "s1 s1 c c s2 s2 d d"),
        ],
    )
    out = {
        r["doc_id"]: r["kept_text"]
        for r in segment_dedup(docs, width=2, min_docs=2).collect()
    }
    assert out[1] == "a a b b"
    assert out[2] == "c c d d"


# --------------------------------------------------- LM perplexity
def test_lm_corpus_scoring_finite_and_split_real(spark):
    from prod2vec_spark.operators.lm import lm_perplexity

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = lm_perplexity(docs).collect()
    held = [r for r in rows if r["is_train"] == 0]
    assert held, "split should leave held-out docs at sf0.001"
    # NOTE: the ~40-word synthetic vocab means every bigram is seen in
    # train, so n_backoff is 0 corpus-wide here; the backoff leg is
    # exercised by the constructed-membership test below
    for r in rows:
        assert r["n_pairs"] >= 1
        assert r["ppl"] >= 1.0  # exp of a mean of -ln(p<=1) >= 1
        assert r["avg_nll"] is not None and math.isfinite(r["avg_nll"])
        assert r["n_backoff"] <= r["n_pairs"]


def test_lm_backoff_leg_exact_floor(spark):
    from prod2vec_spark.operators.lm import lm_perplexity

    tagged = spark.createDataFrame(
        [(1, "a b a b", True), (2, "b b zz", False)],
        "doc_id long, text string, is_train boolean",
    )
    out = {
        r["doc_id"]: r
        for r in lm_perplexity(tagged, tagged=tagged).collect()
    }
    # train: c2(a,b)=2, c2(b,a)=1; c1(a)=2, c1(b)=2; T=4, V=2
    # doc 2 pairs (b,b) and (b,zz) are both unseen → pure backoff:
    #   p(b)  = 0.4 * (2+1)/(4+2) = 0.2      (seen unigram)
    #   p(zz) = 0.4 * (0+1)/(4+2) = 0.0667   (unseen unigram floor)
    r2 = out[2]
    assert r2["is_train"] == 0
    assert r2["n_backoff"] == r2["n_pairs"] == 2
    expect = round(-(math.log(0.2) + math.log(0.4 / 6)) / 2, 4)
    assert r2["avg_nll"] == expect
    assert out[1]["n_backoff"] == 0


def test_lm_known_tiny_model(spark):
    from prod2vec_spark.operators.lm import lm_perplexity

    # force both docs into train via train_frac=1.0: model is exact
    docs = _docs(spark, [(1, "a b a b"), (2, "a b")])
    out = {
        r["doc_id"]: r
        for r in lm_perplexity(docs, train_frac=1.0).collect()
    }
    # train counts: c2(a,b)=3, c2(b,a)=1, c1(a)=3, c1(b)=3
    # doc 2: single pair (a,b): p = 3/3 = 1 → nll 0, ppl 1
    assert out[2]["avg_nll"] == 0.0 and out[2]["ppl"] == 1.0
    # doc 1: pairs (a,b),(b,a),(a,b): nll = -(ln1+ln(1/3)+ln1)/3
    expect = round(-(math.log(1.0) + math.log(1 / 3) + math.log(1.0)) / 3, 4)
    assert out[1]["avg_nll"] == expect
    assert out[1]["n_backoff"] == 0


def test_lm_unseen_unigram_floor_positive(spark):
    from prod2vec_spark.operators.lm import lm_perplexity

    # doc 20 is scored against a model trained only on doc-split
    # members; with train_frac tuned so doc 20 is held out and its
    # tokens never seen, every pair takes the smoothed backoff floor
    docs = _docs(spark, [(1, "a b a b a b"), (20, "zz yy zz yy")])
    # hash_unit('lm|20') happens < 0.8? — pin the split by seed choice:
    # use a seed that puts 20 held out; assert on whichever doc is held
    for seed in ("lm", "lm2", "s3"):
        rows = lm_perplexity(docs, train_frac=0.5, seed=seed).collect()
        held = [r for r in rows if r["is_train"] == 0]
        if held:
            for r in held:
                assert r["avg_nll"] > 0  # floor never yields log(0)
            return
    pytest.skip("no held-out doc under any tried seed (unlikely)")


# ------------------------------------------------------------- BM25
def test_bm25_hand_computed_score(spark):
    from prod2vec_spark.operators.bm25 import bm25_topk

    docs = _docs(spark, [(1, "x x y"), (2, "y z"), (3, "z z z")])
    out = bm25_topk(docs, [("q1", ["x"])], k=5).collect()
    # only doc 1 contains x: N=3, df=1, tf=2, dl=3, avgdl=8/3
    idf = math.log(1 + (3 - 1 + 0.5) / (1 + 0.5))
    s = idf * 2 * 2.2 / (2 + 1.2 * (1 - 0.75 + 0.75 * 3 / (8 / 3)))
    assert len(out) == 1
    assert out[0]["doc_id"] == 1 and out[0]["rank"] == 1
    assert out[0]["score"] == round(s, 4)


def test_bm25_rank_deterministic_and_capped(spark):
    from prod2vec_spark.operators.bm25 import bm25_topk

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = bm25_topk(
        docs, [("q1", ["table", "spark"]), ("q2", ["scan"])], k=3
    ).collect()
    by_q: dict[str, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 3
        scores = [r["score"] for r in rows]
        assert scores == sorted(scores, reverse=True)


def test_bm25_multi_term_sums_per_doc(spark):
    from prod2vec_spark.operators.bm25 import bm25_topk

    docs = _docs(spark, [(1, "x y"), (2, "x q"), (3, "y q")])
    both = {r["doc_id"]: r["score"] for r in bm25_topk(docs, [("q", ["x", "y"])], k=5).collect()}
    only_x = {r["doc_id"]: r["score"] for r in bm25_topk(docs, [("q", ["x"])], k=5).collect()}
    only_y = {r["doc_id"]: r["score"] for r in bm25_topk(docs, [("q", ["y"])], k=5).collect()}
    # doc 1 matches both terms: its two-term score is the sum (mod
    # rounding) of the single-term scores
    assert abs(both[1] - (only_x[1] + only_y[1])) <= 2e-4
    # docs 2/3 match one term each — identical to the single-term runs
    assert both[2] == only_x[2]
    assert both[3] == only_y[3]


# --------------------------------------- quality-canonical survivor
def test_canonical_by_quality_picks_max_quality(spark):
    from prod2vec_spark.operators.graph import canonical_by_quality

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)],
        "doc_id long, cluster_id long",
    )
    scored = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (7, 0.4), (9, 0.4)],
        "doc_id long, q double",
    )
    out = {r["cluster_id"]: r for r in canonical_by_quality(clusters, scored).collect()}
    assert out[1]["keep_doc_id"] == 2 and out[1]["keep_q"] == 0.9
    assert out[1]["n_members"] == 3
    # tie on q → lowest doc_id wins (deterministic)
    assert out[7]["keep_doc_id"] == 7


def test_bm25_indexed_path_matches_adhoc(spark):
    """The persisted-index path (postings bucketed by term,
    sources/io.write_bucketed) returns exactly the ad-hoc one-scan
    path's results — the amortized 100 TB query shape is
    value-identical, not just approximately right."""
    from prod2vec_spark.operators.bm25 import bm25_topk, postings
    from prod2vec_spark.sources.io import write_bucketed

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    queries = [("q1", ["table", "spark"]), ("q2", ["scan", "slow"])]
    adhoc = sorted(
        map(tuple, bm25_topk(docs, queries, k=7).collect())
    )
    write_bucketed(
        postings(docs), "bm25_postings_t", "term", n_buckets=4,
        sort_col="term",
    )
    try:
        indexed = sorted(
            map(
                tuple,
                bm25_topk(
                    docs, queries, k=7, post=spark.table("bm25_postings_t")
                ).collect(),
            )
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS bm25_postings_t")
    assert adhoc == indexed


# ------------------------------------------- property tests (hypothesis)
def test_segment_dedup_matches_python_reference_property(spark):
    """Property: on random corpora over a tiny vocab (forcing window
    collisions), segment_dedup agrees EXACTLY with a pure-Python
    reference of the same spec — windows, distinct-doc counts,
    drops, and ordered reassembly."""
    from hypothesis import given, settings, strategies as st

    from prod2vec_spark.operators.linedup import segment_dedup

    W, M = 3, 2
    word = st.integers(min_value=0, max_value=5).map(lambda i: f"w{i}")

    def ref(docs):
        wins = {
            d: [
                " ".join(toks[i : i + W])
                for i in range(0, len(toks), W)
            ]
            for d, toks in docs.items()
        }
        from collections import defaultdict

        docs_per = defaultdict(set)
        for d, ws in wins.items():
            for s in ws:
                docs_per[s].add(d)
        boiler = {s for s, ds in docs_per.items() if len(ds) >= M}
        out = {}
        for d, ws in wins.items():
            kept = [s for s in ws if s not in boiler]
            out[d] = (len(ws), len(ws) - len(kept), " ".join(kept))
        return out

    @settings(max_examples=6, deadline=None)
    @given(
        toklists=st.lists(
            st.lists(word, min_size=1, max_size=14), min_size=1, max_size=6
        )
    )
    def check(toklists):
        docs = {i + 1: t for i, t in enumerate(toklists)}
        df = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in docs.items()],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_segs"], r["n_dropped"], r["kept_text"])
            for r in segment_dedup(df, width=W, min_docs=M).collect()
        }
        assert got == ref(docs)

    check()


@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_lm_perplexity_matches_python_reference_property(spark):
    """Property: on random corpora with explicit train membership,
    lm_perplexity agrees with a pure-Python Stupid-Backoff reference
    (same counts, same smoothed backoff, same 4-digit rounding)."""
    import math as m

    from hypothesis import given, settings, strategies as st

    from prod2vec_spark.operators.lm import lm_perplexity

    ALPHA = 0.4
    word = st.integers(min_value=0, max_value=4).map(lambda i: f"w{i}")

    def ref(docs, train_ids):
        from collections import Counter

        c1, c2 = Counter(), Counter()
        for d, toks in docs.items():
            if d in train_ids:
                c1.update(toks)
                c2.update(zip(toks, toks[1:]))
        T, V = sum(c1.values()), len(c1)
        out = {}
        for d, toks in docs.items():
            pairs = list(zip(toks, toks[1:]))
            if not pairs:
                continue
            nlls, nb = [], 0
            for w1, w2 in pairs:
                if (w1, w2) in c2:
                    p = c2[(w1, w2)] / c1[w1]
                else:
                    nb += 1
                    p = ALPHA * (c1.get(w2, 0) + 1) / (T + V)
                nlls.append(-m.log(p))
            avg = sum(nlls) / len(nlls)
            out[d] = (
                1 if d in train_ids else 0,
                len(pairs),
                nb,
                round(avg, 4),
                round(m.exp(avg), 4),
            )
        return out

    @settings(max_examples=6, deadline=None)
    @given(
        toklists=st.lists(
            st.lists(word, min_size=2, max_size=10), min_size=2, max_size=5
        ),
        mask=st.lists(st.booleans(), min_size=5, max_size=5),
    )
    def check(toklists, mask):
        docs = {i + 1: t for i, t in enumerate(toklists)}
        train_ids = {d for d in docs if mask[(d - 1) % len(mask)]}
        if not train_ids:
            train_ids = {1}
        tagged = spark.createDataFrame(
            [(d, " ".join(t), d in train_ids) for d, t in docs.items()],
            "doc_id long, text string, is_train boolean",
        )
        got = {
            r["doc_id"]: (
                r["is_train"], r["n_pairs"], r["n_backoff"],
                r["avg_nll"], r["ppl"],
            )
            for r in lm_perplexity(tagged, tagged=tagged).collect()
        }
        assert got == ref(docs, train_ids)

    check()


def test_bm25_matches_python_reference_property(spark):
    """Property: on random corpora and query term sets, bm25_topk's
    rounded scores and tie-broken ranking agree with a pure-Python
    BM25 reference."""
    import math as m

    from hypothesis import given, settings, strategies as st

    from prod2vec_spark.operators.bm25 import B, K1, bm25_topk

    word = st.integers(min_value=0, max_value=6).map(lambda i: f"w{i}")

    def ref(docs, terms, k):
        from collections import Counter

        dls = {d: len(t) for d, t in docs.items()}
        n = len(dls)
        avgdl = sum(dls.values()) / n
        tfs = {d: Counter(t) for d, t in docs.items()}
        scores = {}
        for d, tf in tfs.items():
            s = 0.0
            hit = False
            for t in set(terms):
                if tf[t] == 0:
                    continue
                hit = True
                df = sum(1 for x in tfs.values() if x[t] > 0)
                idf = m.log(1 + (n - df + 0.5) / (df + 0.5))
                s += (
                    idf * tf[t] * (K1 + 1)
                    / (tf[t] + K1 * (1 - B + B * dls[d] / avgdl))
                )
            if hit:
                scores[d] = round(s, 4)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [
            (i + 1, d, s) for i, (d, s) in enumerate(ranked)
        ]

    @settings(max_examples=6, deadline=None)
    @given(
        toklists=st.lists(
            st.lists(word, min_size=1, max_size=12), min_size=1, max_size=6
        ),
        terms=st.lists(word, min_size=1, max_size=3),
    )
    def check(toklists, terms):
        docs = {i + 1: t for i, t in enumerate(toklists)}
        df = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in docs.items()],
            "doc_id long, text string",
        )
        got = sorted(
            (r["rank"], r["doc_id"], r["score"])
            for r in bm25_topk(df, [("q", terms)], k=4).collect()
        )
        assert got == sorted(ref(docs, terms, 4))

    check()


# ---------------------------------------------- hard-negative mining
def test_hard_negatives_exclude_query_label(spark):
    from prod2vec_spark.operators.simsearch import (
        brute_force_topk,
        hard_negative_topk,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10)
    out = hard_negative_topk(emb, q, k=5).collect()
    assert out
    by_q: dict[int, list] = {}
    for r in out:
        assert r["neighbor_label"] != r["query_label"]
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
        sims = [r["cosine_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
    # consistency with the plain top-k: every hard negative's sim is
    # <= the best unrestricted neighbor's sim for that query
    best = {
        r["query_id"]: r["cosine_sim"]
        for r in brute_force_topk(emb, q, k=1).collect()
    }
    for qid, rows in by_q.items():
        assert rows[0]["cosine_sim"] <= best[qid] + 1e-9


# ------------------------------------------- learned quality classifier
@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_quality_classifier_separates_planted_spam(spark, tmp_path):
    """The L-QUALITY checked number: LR on the heuristic feature
    vector must separate planted spam (looped text / symbol soup)
    from fixture prose with held-out AUC >= 0.9, and the model
    round-trips through MLlib save/load."""
    from pyspark.ml.classification import LogisticRegressionModel
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from prod2vec_spark.ml.quality_clf import (
        assemble_vec,
        doc_features,
        fit_quality_classifier,
        score_quality,
    )

    clean = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .withColumn("label", F.lit(1))
    )
    n_clean = clean.count()
    # planted spam: looped phrases and symbol soup, ids disjoint
    spam_rows = []
    for i in range(n_clean // 2):
        if i % 2 == 0:
            spam_rows.append((100000 + i, "buy now " * 25))
        else:
            spam_rows.append((100000 + i, ("#$%@! " * 10 + f"x{i} ") * 3))
    spam = spark.createDataFrame(
        spam_rows, "doc_id long, text string"
    ).withColumn("label", F.lit(0))
    corpus = clean.unionByName(spam)
    train = corpus.where(F.col("doc_id") % 3 != 0)
    held = corpus.where(F.col("doc_id") % 3 == 0)
    assert held.where(F.col("label") == 0).count() > 0
    assert held.where(F.col("label") == 1).count() > 0

    model = fit_quality_classifier(train)
    path = str(tmp_path / "quality_lr")
    model.save(path)
    model = LogisticRegressionModel.load(path)

    scored = assemble_vec(doc_features(held)).join(
        held.select("doc_id", "label"), "doc_id"
    )
    auc = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    ).evaluate(model.transform(scored))
    assert auc >= 0.9, f"held-out AUC {auc}"

    # scoring surface: every doc gets a probability in [0, 1], and
    # the spam mean sits below the clean mean
    probs = score_quality(held, model).join(
        held.select("doc_id", "label"), "doc_id"
    )
    agg = {
        r["label"]: r["m"]
        for r in probs.groupBy("label")
        .agg(F.avg("quality_prob").alias("m"))
        .collect()
    }
    assert 0.0 <= agg[0] < agg[1] <= 1.0


def test_quality_scoring_after_an_observe(spark, tmp_path):
    """A fitted quality model scores in a session that has already run
    an ``observe``: the model keeps no training summary, whose
    SparkSession field would otherwise carry the session's
    non-serializable ObservationManager into every scoring task."""
    from prod2vec_spark.ml.quality_clf import (
        fit_quality_classifier,
        score_quality,
    )
    from prod2vec_spark.sources.io import checkpoint

    _, seen = checkpoint(
        spark.range(3), str(tmp_path / "obs"),
        observe=[F.count(F.lit(1)).alias("n")],
    )
    assert seen["n"] == 3
    rows = [(i, "the cat sat on the mat with a book " * 3) for i in range(6)]
    rows += [(100 + i, "buy now " * 20) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "label", (F.col("doc_id") < 100).cast("int")
    )
    model = fit_quality_classifier(docs, max_iter=5)
    assert not model.hasSummary
    got = score_quality(docs, model).collect()
    assert len(got) == 12
    assert all(0.0 <= r["quality_prob"] <= 1.0 for r in got)


# --------------------------------------------------- text normalize
def test_normalize_text_golden(spark):
    from prod2vec_spark.operators.text import normalize_text

    df = spark.createDataFrame(
        [
            (1, "  Hello\tWorld \x01 again  "),
            (2, "already clean"),
            (3, "MIXED Case\n\nlines"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r["n"] for r in df.select("id", normalize_text(F.col("text")).alias("n")).collect()}
    assert out[1] == "hello world again"
    assert out[2] == "already clean"
    assert out[3] == "mixed case lines"
    # case-preserving variant
    keep = {r["id"]: r["n"] for r in df.select("id", normalize_text(F.col("text"), lowercase=False).alias("n")).collect()}
    assert keep[3] == "MIXED Case lines"


def test_pipeline_normalize_collapses_whitespace_variants(spark, tmp_path):
    """With normalize on, two docs differing only in whitespace/case
    collapse in the exact-dedup stage (digest over canonical bytes)."""
    from prod2vec_spark.operators.dedup import exact_dup_groups
    from prod2vec_spark.operators.text import normalize_text

    docs = spark.createDataFrame(
        [(1, "The  quick fox"), (2, "the quick\tfox"), (3, "other doc")],
        "doc_id long, text string",
    ).withColumn("text", normalize_text(F.col("text")))
    keep = exact_dup_groups(docs)
    assert keep.count() == 2  # 1/2 collapsed, 3 alone


def test_fit_lm_rejects_empty_train(spark):
    import pytest as _pytest

    from prod2vec_spark.operators.lm import fit_lm

    empty = spark.createDataFrame([], "doc_id long, text string")
    with _pytest.raises(ValueError, match="no tokens"):
        fit_lm(empty)


def test_bm25_ranks_planted_relevant_doc_first(spark):
    """Relevance sanity: a doc stuffed with the query terms must
    outrank fixture docs that mention them incidentally."""
    from prod2vec_spark.operators.bm25 import bm25_topk

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    planted = spark.createDataFrame(
        [(999999, "needlex haystacky needlex haystacky needlex")],
        "doc_id long, text string",
    )
    out = bm25_topk(
        docs.unionByName(planted),
        [("q", ["needlex", "haystacky"])],
        k=3,
    ).collect()
    assert out and out[0]["doc_id"] == 999999 and out[0]["rank"] == 1
    # fixture docs never contain the planted terms -> only one hit
    assert len(out) == 1


def _sb_by_lang(docs, **kw):
    from prod2vec_spark.operators.lm import lm_perplexity

    return lm_perplexity(docs, group_col="lang", **kw).select(
        "doc_id", "n_pairs", "n_backoff", "avg_nll"
    )


def _kn_by_lang(docs, **kw):
    from prod2vec_spark.operators.lm import knn_perplexity

    return knn_perplexity(docs, order=2, group_col="lang", **kw).select(
        "doc_id", "n_grams", "n_bo", "avg_nll"
    )


@pytest.mark.parametrize(
    "by_lang", [_sb_by_lang, _kn_by_lang], ids=["stupid_backoff", "kneser_ney"]
)
def test_lm_by_lang_models_are_independent(spark, by_lang):
    """Per-language models (both smoothing families keyed by lang):
    adding documents in language B must not change language A's
    scores (the models share nothing)."""
    base = spark.createDataFrame(
        [(1, "a b a b a b", "en"), (2, "a b a", "en")],
        "doc_id long, text string, lang string",
    )
    extra = spark.createDataFrame(
        [(100, "a b zz a b zz", "de"), (101, "zz a zz", "de")],
        "doc_id long, text string, lang string",
    )
    only_en = {
        r[0]: tuple(r[1:]) for r in by_lang(base, train_frac=1.0).collect()
    }
    both = {
        r[0]: tuple(r[1:])
        for r in by_lang(base.unionByName(extra), train_frac=1.0).collect()
    }
    for d in (1, 2):
        assert both[d] == only_en[d]
    # the de docs scored against the de model only: 'a b' in de train
    # has different counts than in en
    assert 100 in both and 101 in both


@pytest.mark.parametrize("family", ["stupid_backoff", "kneser_ney"])
def test_keyed_lm_save_raises_and_unkeyed_round_trips(spark, tmp_path, family):
    """A keyed model's tables would reload as ONE unkeyed model that
    scores across languages, so its save raises before writing
    anything; the unkeyed save/load round trip scores identically."""
    from prod2vec_spark.operators import lm as LM

    if family == "stupid_backoff":
        fit, score, load = LM.fit_lm, LM.score_docs, LM.BigramLM.load
    else:
        def fit(d, **kw):
            return LM.fit_knn(d, order=2, **kw)

        score, load = LM.score_docs_knn, LM.KNnModel.load
    docs = spark.createDataFrame(
        [(1, "a b a b", "en"), (2, "a b c a", "de"), (3, "b a zz a", "en")],
        "doc_id long, text string, lang string",
    )
    keyed = fit(docs, group_col="lang")
    with pytest.raises(ValueError, match="keyed by 'lang'"):
        keyed.save(str(tmp_path / "keyed"))
    assert not (tmp_path / "keyed").exists()
    model = fit(docs)
    model.save(str(tmp_path / "plain"))
    reloaded = load(spark, str(tmp_path / "plain"))
    assert sorted(map(tuple, score(docs, reloaded).collect())) == sorted(
        map(tuple, score(docs, model).collect())
    )


def test_curriculum_buckets_are_balanced_quartiles(spark):
    from prod2vec_spark.queries.lm import q_curriculum_buckets

    rows = q_curriculum_buckets(spark, SF_SMOKE).collect()
    n = len(rows)
    assert n > 0
    by_b: dict[int, int] = {}
    for r in rows:
        assert 0 <= r["bucket"] <= 3
        by_b[r["bucket"]] = by_b.get(r["bucket"], 0) + 1
    # quartile thresholds: every bucket populated and roughly balanced
    assert set(by_b) == {0, 1, 2, 3}
    for c in by_b.values():
        assert c >= n // 8
    # monotone: max ppl in bucket k <= min ppl in bucket k+1
    import collections

    ppls = collections.defaultdict(list)
    for r in rows:
        ppls[r["bucket"]].append(r["ppl"])
    for k in range(3):
        assert max(ppls[k]) <= min(ppls[k + 1])


# ------------------------------------------------ corpus snapshot diff
def test_snapshot_diff_classifies_every_transition(spark):
    from prod2vec_spark.operators.dedup import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will be removed")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed now"), (4, "brand new")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    # digest is whitespace/case-canonical: formatting-only edits are
    # 'unchanged' (matches the exact-dedup digest semantics)
    new2 = spark.createDataFrame(
        [(1, "  SAME "), (2, "will change"), (3, "will be removed")],
        "doc_id long, text string",
    )
    out2 = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new2).collect()}
    assert out2 == {1: "unchanged", 2: "unchanged", 3: "unchanged"}


def test_incremental_exact_dedup_equals_full_rerun(spark):
    """The snapshot-diff incremental contract, proven where it is
    exact: with min-id canonicals and monotonically-growing ids,
    incremental exact dedup (prior survivors + unseen-digest new
    docs) equals a full re-run over crawl N+1."""
    from prod2vec_spark.operators.dedup import (
        exact_dup_groups,
        snapshot_diff,
        text_digest,
    )

    v1 = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    # crawl N+1: everything survives, plus new higher-id docs — some
    # verbatim copies of v1 content (must dedup away), some fresh
    copies = v1.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    fresh = v1.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" fresh content")).alias("text"),
    )
    v2 = v1.unionByName(copies).unionByName(fresh)

    full = {
        r["keep_doc_id"] for r in exact_dup_groups(v2).collect()
    }

    # incremental: survivors of v1 + added docs whose digest is unseen
    prior = exact_dup_groups(v1).select(
        F.col("keep_doc_id").alias("doc_id"), "text_hash"
    )
    added_ids = snapshot_diff(v1, v2).where(F.col("status") == "added")
    added = v2.join(added_ids.select("doc_id"), "doc_id", "left_semi")
    unseen = (
        added.withColumn("text_hash", text_digest(F.col("text")))
        .join(prior.select("text_hash"), "text_hash", "left_anti")
    )
    # among the added-and-unseen, digests can still collide with each
    # other: keep min id per digest (the same canonical rule)
    inc_new = {
        r["keep_doc_id"] for r in exact_dup_groups(unseen).collect()
    }
    incremental = {r["doc_id"] for r in prior.collect()} | inc_new
    assert incremental == full


# ----------------------------------------------------- BPE training
def test_bpe_learns_expected_merges_on_tiny_corpus(spark):
    """Hand-checkable corpus: 'low' x5 + 'lower' x2 — the classic
    Sennrich example shape.  First merges must assemble the shared
    'low' stem deterministically."""
    from prod2vec_spark.operators.bpe import train_bpe

    docs = spark.createDataFrame(
        [(1, "low low low low low"), (2, "lower lower")],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, n_merges=3)
    # pair counts round 1: (l,o)=7, (o,w)=7, (w,▁)=5, (w,e)=2 ... ->
    # tie (l,o)/(o,w) breaks lexicographic: ('l','o') first
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")  # 'low' assembled
    assert merges[2] == ("low", "▁")  # whole-word 'low' (count 5)


def test_bpe_column_encoder_matches_python_reference(spark):
    """The Column replace-chain encoder and the Python reference
    tokenize identically (same merges, same leftmost semantics) on
    the fixture corpus."""
    from pyspark.sql import functions as F  # noqa: F811

    from prod2vec_spark.operators.bpe import (
        bpe_token_count,
        encode_word,
        train_bpe,
    )
    from prod2vec_spark.operators.text import tokens as tk

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    merges = train_bpe(docs, n_merges=30)
    assert len(merges) == 30
    got = {
        r["doc_id"]: r["n_bpe"]
        for r in docs.select(
            "doc_id", bpe_token_count(F.col("text"), merges).alias("n_bpe")
        ).collect()
    }
    rows = docs.select("doc_id", tk(F.col("text")).alias("t")).collect()
    for r in rows:
        expect = sum(len(encode_word(w, merges)) for w in r["t"])
        assert got[r["doc_id"]] == expect, r["doc_id"]


def test_bpe_merges_compress_token_stream(spark):
    """More merges => fewer tokens, bounded below by word count and
    above by char count."""
    from pyspark.sql import functions as F  # noqa: F811

    from prod2vec_spark.operators.bpe import bpe_token_count, train_bpe
    from prod2vec_spark.operators.text import tokens as tk

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    m30 = train_bpe(docs, n_merges=30)
    agg = docs.agg(
        F.sum(bpe_token_count(F.col("text"), [])).alias("n0"),
        F.sum(bpe_token_count(F.col("text"), m30[:10])).alias("n10"),
        F.sum(bpe_token_count(F.col("text"), m30)).alias("n30"),
        F.sum(F.size(tk(F.col("text")))).alias("nw"),
    ).first()
    assert agg["n0"] > agg["n10"] > agg["n30"] >= agg["nw"]


def test_ql_ranker_scores_all_query_terms_per_candidate(spark):
    """Dirichlet QL: the planted stuffed doc ranks first; a candidate
    matching only ONE query term still gets a (background-smoothed)
    contribution for the missing term — hand-computed."""
    from prod2vec_spark.operators.bm25 import ql_topk

    docs = _docs(
        spark,
        [(1, "x x y"), (2, "x q"), (3, "q q q")],
    )
    out = {
        (r["query_id"], r["doc_id"]): (r["rank"], r["score"])
        for r in ql_topk(docs, [("q", ["x", "y"])], k=5, mu=10.0).collect()
    }
    # candidates: docs 1 and 2 (doc 3 matches nothing)
    assert set(out) == {("q", 1), ("q", 2)}
    # hand-compute: C=8 tokens, cf(x)=3, cf(y)=1
    import math as m

    def score(tfs, dl):
        return round(
            sum(
                m.log((tf + 10.0 * cf / 8) / (dl + 10.0))
                for tf, cf in tfs
            ),
            4,
        )

    assert out[("q", 1)][1] == score([(2, 3), (1, 1)], 3)
    assert out[("q", 2)][1] == score([(1, 3), (0, 1)], 2)
    assert out[("q", 1)][0] == 1  # doc 1 matches both terms → ranks first


def test_lm_pruning_falls_back_to_backoff(spark):
    """BigramLM.pruned drops the sub-floor bigram tail; scoring stays
    finite, pruned pairs take the backoff leg, and pairs above the
    floor score identically to the unpruned model."""
    from prod2vec_spark.operators.lm import fit_lm, score_docs

    train = _docs(spark, [(1, "a b a b a b c d")])  # c2(a,b)=3, others 1
    model = fit_lm(train)
    pruned = model.pruned(min_count=2)
    assert pruned.c2.count() < model.c2.count()
    probe = _docs(spark, [(10, "a b a b"), (11, "c d")])
    full = {r["doc_id"]: r for r in score_docs(probe, model).collect()}
    cut = {r["doc_id"]: r for r in score_docs(probe, pruned).collect()}
    # (a,b) survives the floor: identical score, no backoff
    assert cut[10]["avg_nll"] == full[10]["avg_nll"]
    assert cut[10]["n_backoff"] == 0
    # (c,d) was pruned: now scores via backoff, finite, worse
    assert full[11]["n_backoff"] == 0 and cut[11]["n_backoff"] == 1
    assert cut[11]["avg_nll"] > full[11]["avg_nll"]
    assert math.isfinite(cut[11]["avg_nll"])
