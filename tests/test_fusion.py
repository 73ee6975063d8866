"""Round-11: reciprocal-rank fusion (operators/fusion.py) — the
lexical+dense hybrid combiner over the BM25 and ANN planes.  RRF is
pure rank arithmetic, so tests pin exact values."""

from __future__ import annotations

import pytest

from prod2vec_spark.operators.fusion import rrf_fuse


def _ranking(spark, rows):
    return spark.createDataFrame(
        rows, "query_id string, doc_id long, rank int"
    )


def test_rrf_exact_values_and_overlap_dominance(spark):
    """A doc ranked 3rd in BOTH lists (2/(60+3)) must outrank a doc
    ranked 1st in ONE list (1/(60+1)) — the point of fusion."""
    a = _ranking(spark, [("q", 10, 1), ("q", 30, 3)])
    b = _ranking(spark, [("q", 20, 1), ("q", 30, 3)])
    got = {
        r["doc_id"]: (r["rrf_score"], r["rank"])
        for r in rrf_fuse([a, b], k=10).collect()
    }
    assert got[30] == (pytest.approx(round(2 / 63, 6)), 1)
    assert got[10] == (pytest.approx(round(1 / 61, 6)), 2)  # tie → lower id
    assert got[20] == (pytest.approx(round(1 / 61, 6)), 3)


def test_rrf_three_lists_and_k_cut(spark):
    lists = [
        _ranking(spark, [("q", d, r) for r, d in enumerate(perm, start=1)])
        for perm in ([1, 2, 3], [2, 1, 3], [3, 2, 1])
    ]
    rows = rrf_fuse(lists, k=2, k_rrf=60).collect()
    assert len(rows) == 2  # k cut applied
    got = {r["doc_id"]: r["rrf_score"] for r in rows}
    # doc 2: ranks (2,1,2) -> 1/62+1/61+1/62 ; doc 1: (1,2,3)
    assert got[2] == pytest.approx(round(1 / 62 + 1 / 61 + 1 / 62, 6))
    assert got[1] == pytest.approx(round(1 / 61 + 1 / 62 + 1 / 63, 6))
    assert got[2] > got[1]


def test_rrf_multi_query_independence(spark):
    a = _ranking(spark, [("q1", 1, 1), ("q2", 2, 1)])
    b = _ranking(spark, [("q1", 1, 2), ("q2", 3, 1)])
    rows = rrf_fuse([a, b], k=5).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["doc_id"])
    assert sorted(per_q["q1"]) == [1]
    assert sorted(per_q["q2"]) == [2, 3]


def test_rrf_rejects_empty_input(spark):
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])


def _scored(spark, rows):
    return spark.createDataFrame(
        rows, "query_id string, doc_id long, score double"
    )


def test_linear_fuse_exact_minmax_weighting(spark):
    """Per-query min-max normalization + weights, exact values: a doc
    strong in BOTH lists beats a doc that tops only one."""
    from prod2vec_spark.operators.fusion import linear_fuse

    a = _scored(spark, [("q", 1, 10.0), ("q", 2, 8.0), ("q", 3, 0.0)])
    b = _scored(spark, [("q", 2, 0.9), ("q", 3, 0.1)])
    got = {
        r["doc_id"]: (r["fused_score"], r["rank"])
        for r in linear_fuse([(a, 0.6), (b, 0.4)], k=10).collect()
    }
    # doc1: 0.6*1.0 ; doc2: 0.6*0.8 + 0.4*1.0 = 0.88 ; doc3: 0 + 0
    assert got[2] == (pytest.approx(0.88), 1)
    assert got[1] == (pytest.approx(0.6), 2)
    assert got[3] == (pytest.approx(0.0), 3)


def test_linear_fuse_constant_list_is_presence_signal(spark):
    """max == min normalizes to 1.0 for every member — membership in
    the list still contributes its full weight."""
    from prod2vec_spark.operators.fusion import linear_fuse

    a = _scored(spark, [("q", 1, 5.0), ("q", 2, 5.0)])
    got = {
        r["doc_id"]: r["fused_score"]
        for r in linear_fuse([(a, 0.5)], k=5).collect()
    }
    assert got == {1: pytest.approx(0.5), 2: pytest.approx(0.5)}
    with pytest.raises(ValueError, match="at least one"):
        linear_fuse([])


def _emb_df(spark, vecs: dict[int, list[float]]):
    return spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )


def test_mmr_demotes_planted_redundancy(spark):
    """Docs 1 and 2 are near-identical and most relevant; doc 3 is
    orthogonal and less relevant.  Pure relevance picks (1, 2, 3);
    MMR at lam=0.5 must pick 1, then 3 (2's redundancy penalty
    outweighs its relevance edge), then 2."""
    from prod2vec_spark.operators.fusion import mmr_rerank

    emb = _emb_df(
        spark,
        {
            1: [1.0, 0.0, 0.0],
            2: [0.999, 0.04, 0.0],
            3: [0.0, 1.0, 0.0],
        },
    )
    cand = spark.createDataFrame(
        [("q", 1, 0.95), ("q", 2, 0.94), ("q", 3, 0.70)],
        "query_id string, doc_id long, rel double",
    )
    order = [
        r["doc_id"]
        for r in mmr_rerank(cand, emb, k=3, lam=0.5)
        .orderBy("rank")
        .collect()
    ]
    assert order == [1, 3, 2]
    # lam=1 reduces to pure relevance order
    rel_order = [
        r["doc_id"]
        for r in mmr_rerank(cand, emb, k=3, lam=1.0).orderBy("rank").collect()
    ]
    assert rel_order == [1, 2, 3]
    # the first pick is ALWAYS the most relevant doc
    for lam in (0.0, 0.3, 0.7):
        first = (
            mmr_rerank(cand, emb, k=1, lam=lam).collect()[0]["doc_id"]
        )
        assert first == 1, lam


def test_mmr_exact_scores_and_validation(spark):
    from prod2vec_spark.operators.fusion import mmr_rerank

    emb = _emb_df(spark, {1: [1.0, 0.0], 2: [1.0, 0.0], 3: [0.0, 1.0]})
    cand = spark.createDataFrame(
        [("q", 1, 0.9), ("q", 2, 0.8), ("q", 3, 0.5)],
        "query_id string, doc_id long, rel double",
    )
    got = {
        r["doc_id"]: (r["mmr_score"], r["rank"])
        for r in mmr_rerank(cand, emb, k=3, lam=0.5).collect()
    }
    # pick 1: 0.5*0.9 ; then doc2 score 0.5*0.8-0.5*1.0, doc3 0.5*0.5-0
    assert got[1] == (pytest.approx(0.45), 1)
    assert got[3] == (pytest.approx(0.25), 2)
    assert got[2] == (pytest.approx(-0.1), 3)
    with pytest.raises(ValueError, match="lam"):
        mmr_rerank(cand, emb, lam=1.5)


def test_mmr_missing_embedding_and_null_rel_fail_loudly(spark):
    """A candidate with no embedding row (or a null relevance) must
    raise with the doc ids named — never silently vanish and let a
    lower-relevance doc fill its rank."""
    from prod2vec_spark.operators.fusion import mmr_rerank

    emb = _emb_df(spark, {1: [1.0, 0.0]})
    cand = spark.createDataFrame(
        [("q", 1, 0.9), ("q", 99, 0.8)],  # doc 99 has no embedding
        "query_id string, doc_id long, rel double",
    )
    with pytest.raises(Exception, match="without an embedding row.*99"):
        mmr_rerank(cand, emb, k=2).collect()
    cand2 = spark.createDataFrame(
        [("q", 1, None)], "query_id string, doc_id long, rel double"
    )
    with pytest.raises(Exception, match="null relevance"):
        mmr_rerank(cand2, emb, k=1).collect()
    # a duplicated shortlist row would be scored independently and the
    # same doc could occupy two output ranks — reject loudly
    cand3 = spark.createDataFrame(
        [("q", 1, 0.9), ("q", 1, 0.8)],
        "query_id string, doc_id long, rel double",
    )
    with pytest.raises(Exception, match="duplicate candidate rows.*1"):
        mmr_rerank(cand3, emb, k=2).collect()


def test_mmr_entry_shape_and_determinism(spark):
    from prod2vec_spark.queries.retrieval import q_mmr_diverse_topk
    from tests.conftest import SF_SMOKE

    out = q_mmr_diverse_topk(spark, SF_SMOKE)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(per_q) == set(range(5))
    assert all(sorted(v) == list(range(1, 11)) for v in per_q.values())
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, rows))


def test_hybrid_rrf_entry_shape(spark):
    """The catalog-facing composition: 10 fused docs per keyword
    query, deterministic across runs."""
    from prod2vec_spark.queries.retrieval import q_hybrid_rrf_topk
    from tests.conftest import SF_SMOKE

    out = q_hybrid_rrf_topk(spark, SF_SMOKE)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(per_q) == {"q_spark", "q_scan", "q_stream"}
    assert all(sorted(v) == list(range(1, 11)) for v in per_q.values())
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in rows]
