"""Operator unit + property tests on tiny literal DataFrames
(FIXTURES.md §3-4 invariants), mirroring the reference's own quality
gates (data_quality_checks.py) as engine expectations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prod2vec_spark.functions.arrays import seeded_shuffle
from prod2vec_spark.operators.baskets import (
    assemble_baskets,
    build_vocab,
    index_baskets,
    index_items,
)
from prod2vec_spark.operators.quality import Rules, assert_expectations, expect
from prod2vec_spark.operators.skipgram import (
    negative_samples,
    skipgram_pairs_array,
    skipgram_pairs_selfjoin,
    training_examples_flat,
    training_triples,
    with_positions,
)


@pytest.fixture(scope="module")
def tiny_lineitem(spark):
    rows = [
        # order 1: items 10,20,30,40,50,60 at positions 1..6
        *[(1, 10 * i, 100 + i, i) for i in range(1, 7)],
        # order 2: two items
        (2, 10, 101, 1),
        (2, 99, 102, 2),
        # order 3: single item (no pairs)
        (3, 20, 103, 1),
    ]
    return spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int"
    )


def test_basket_order_and_cap(spark, tiny_lineitem):
    b = {r["order_id"]: r["basket"] for r in assemble_baskets(tiny_lineitem, max_len=3).collect()}
    assert b[1] == [10, 20, 30]  # cart order, capped at 3
    assert b[2] == [10, 99]
    assert b[3] == [20]


def test_vocab_unk_pinned_and_rank_bijection(spark, tiny_lineitem):
    v = build_vocab(tiny_lineitem, num_prods=4).collect()
    by_idx = {r["idx"]: r for r in v}
    assert by_idx[0]["product_id"] is None  # UNK at 0 (data_prep.py:78-84)
    assert sorted(by_idx) == [0, 1, 2, 3]
    # idx 1 = most frequent; ties by product_id: 10 and 20 both count 2
    assert by_idx[1]["product_id"] == 10
    assert by_idx[2]["product_id"] == 20
    counts = [by_idx[i]["count"] for i in (1, 2, 3)]
    assert counts == sorted(counts, reverse=True)


def test_oov_defaults_to_unk(spark, tiny_lineitem):
    v = build_vocab(tiny_lineitem, num_prods=3)  # only 2 real entries
    out = index_items(tiny_lineitem, v)
    idx_of = {(r["l_orderkey"], r["l_partkey"]): r["idx"] for r in out.collect()}
    assert idx_of[(2, 99)] == 0  # OOV -> UNK
    assert idx_of[(1, 10)] in (1, 2)


def test_index_baskets_matches_index_items(spark, tiny_lineitem):
    v = build_vocab(tiny_lineitem, num_prods=4)
    b = index_baskets(assemble_baskets(tiny_lineitem), v).collect()
    for r in b:
        assert len(r["basket_idx"]) == len(r["basket"])
        for item, idx in zip(r["basket"], r["basket_idx"]):
            assert idx >= 0


def test_skipgram_forms_agree(spark, tiny_lineitem):
    """Array form and self-join form emit the identical pair multiset
    (SURVEY.md §4.4)."""
    arr = skipgram_pairs_array(assemble_baskets(tiny_lineitem), 2)
    sj = skipgram_pairs_selfjoin(with_positions(tiny_lineitem), 2)
    a = sorted(map(tuple, arr.collect()))
    s = sorted(map(tuple, sj.collect()))
    assert a == s
    assert len(a) > 0


def test_skipgram_window_invariants(spark, tiny_lineitem):
    """Every pair co-occurs in its basket within window distance; both
    directions are emitted; no self-position pairs (FIXTURES.md §4)."""
    window = 2
    baskets = {r["order_id"]: r["basket"] for r in assemble_baskets(tiny_lineitem).collect()}
    pairs = skipgram_pairs_array(assemble_baskets(tiny_lineitem), window).collect()
    seen = set()
    for r in pairs:
        basket = baskets[r["order_id"]]
        pt = [i for i, x in enumerate(basket) if x == r["target"]]
        pc = [i for i, x in enumerate(basket) if x == r["context"]]
        assert any(1 <= abs(i - j) <= window for i in pt for j in pc)
        seen.add((r["order_id"], r["target"], r["context"]))
    # symmetric: (t,c) present => (c,t) present
    for (o, t, c) in seen:
        assert (o, c, t) in seen
    # singleton basket emits nothing
    assert not any(r["order_id"] == 3 for r in pairs)


def test_negative_sampling_invariants(spark, tiny_lineitem):
    vocab_size = 50
    pairs = skipgram_pairs_array(assemble_baskets(tiny_lineitem), 2)
    withneg = negative_samples(pairs, vocab_size, num_ns=4, seed=7)
    for r in withneg.collect():
        assert len(r["negatives"]) == 4
        assert all(0 <= n < vocab_size for n in r["negatives"])
    # determinism: same seed -> same stream
    again = negative_samples(pairs, vocab_size, num_ns=4, seed=7)
    assert sorted(map(tuple, withneg.collect())) == sorted(map(tuple, again.collect()))
    # different seed -> different stream
    other = negative_samples(pairs, vocab_size, num_ns=4, seed=8)
    assert sorted(map(tuple, withneg.collect())) != sorted(map(tuple, other.collect()))


def test_negative_sampling_distinct_mode(spark, tiny_lineitem):
    """distinct=True: negatives unique within row and != true context."""
    pairs = skipgram_pairs_array(assemble_baskets(tiny_lineitem), 2)
    withneg = negative_samples(pairs, vocab_size=10, num_ns=3, seed=1, distinct=True)
    for r in withneg.collect():
        negs = r["negatives"]
        assert len(negs) == len(set(negs))
        assert r["context"] not in negs


def test_training_shapes(spark, tiny_lineitem):
    """Triple assembly: context_vec = [true]+negs, label = [1,0,...]
    (data_prep.py:188-199)."""
    pairs = skipgram_pairs_array(assemble_baskets(tiny_lineitem), 2)
    withneg = negative_samples(pairs, vocab_size=50, num_ns=4)
    for r in training_triples(withneg, num_ns=4).collect():
        assert len(r["context_vec"]) == 5
        assert r["label_vec"] == [1, 0, 0, 0, 0]
    flat = training_examples_flat(withneg)
    n_pairs = pairs.count()
    assert flat.count() == n_pairs * 5
    assert flat.filter(F.col("label") == 1).count() == n_pairs


def test_seeded_shuffle_deterministic_permutation(spark):
    df = spark.createDataFrame([(1, list(range(20))), (2, list(range(20)))], "id long, arr array<int>")
    out1 = df.select("id", seeded_shuffle(F.col("arr"), F.col("id")).alias("s")).collect()
    out2 = df.select("id", seeded_shuffle(F.col("arr"), F.col("id")).alias("s")).collect()
    by_id1 = {r["id"]: r["s"] for r in out1}
    by_id2 = {r["id"]: r["s"] for r in out2}
    assert by_id1 == by_id2  # deterministic
    for id_, s in by_id1.items():
        assert sorted(s) == list(range(20))  # a permutation
        assert s != list(range(20))  # actually shuffled (20! odds)
    assert by_id1[1] != by_id1[2]  # salt-dependent


def test_quality_gates_fail_modes(spark):
    """Q1 nulls / Q3 column count / Q5 dup keys must fail; clean data
    passes (data_quality_checks.py:7-133 re-expressed)."""
    clean = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    nulls = spark.createDataFrame([(None, "a"), (2, "b")], "k long, v string")

    ok = expect(clean, Rules(not_null=["k"], unique_key=["k"], column_count=2))
    assert all(r["passed"] for r in ok.collect())

    bad_dup = expect(dup, Rules(unique_key=["k"]))
    assert not bad_dup.collect()[0]["passed"]

    bad_null = expect(nulls, Rules(not_null=["k"]))
    assert not bad_null.collect()[0]["passed"]

    with pytest.raises(ValueError, match="not_null"):
        assert_expectations(nulls, Rules(not_null=["k"]))

    bad_cols = expect(clean, Rules(column_count=3))
    assert not bad_cols.collect()[0]["passed"]


def test_lsh_degenerate_band_cap(spark):
    """A hot band signature (many identical docs) must be droppable:
    max_group keeps the pair expansion from going quadratic, and
    lsh_oversize_groups reports exactly what was dropped."""
    from prod2vec_spark.operators.dedup import (
        lsh_candidate_pairs,
        lsh_oversize_groups,
        minhash_bands,
    )

    same = [(i, "the same exact document text repeated verbatim here") for i in range(40)]
    near = [
        (100, "a genuinely different document about distributed joins"),
        (101, "a genuinely different document about distributed joins ok"),
    ]
    docs = spark.createDataFrame(same + near, "doc_id long, text string")
    bands = minhash_bands(docs)

    uncapped = lsh_candidate_pairs(bands)
    assert uncapped.count() == (40 * 39) // 2 + 1  # identical clique + near pair

    capped = lsh_candidate_pairs(bands, max_group=10)
    rows = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert rows == {(100, 101)}  # clique dropped, real near-dup kept

    over = lsh_oversize_groups(bands, max_group=10).collect()
    assert len(over) == 2  # both bands of the identical clique
    assert all(r["n_docs"] == 40 for r in over)


def test_index_baskets_exploded_matches_literal_map(spark):
    """The unbounded-vocab shape (posexplode + broadcast + regroup)
    must emit identical (basket, basket_idx) pairs to the literal-map
    variant, including OOV -> UNK."""
    from prod2vec_spark.operators.baskets import (
        assemble_baskets,
        build_vocab,
        index_baskets,
        index_baskets_exploded,
    )
    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    baskets = assemble_baskets(li)
    vocab = build_vocab(li, num_prods=51)
    lit = {
        r["order_id"]: (list(r["basket"]), list(r["basket_idx"]))
        for r in index_baskets(baskets, vocab).collect()
    }
    exp = {
        r["order_id"]: (list(r["basket"]), list(r["basket_idx"]))
        for r in index_baskets_exploded(baskets, vocab).collect()
    }
    assert lit == exp


def test_index_baskets_guard_and_35k_vocab(spark):
    """At the reference's real vocab scale (35k) the literal-map plan
    is fenced off; the exploded shape handles it without plan blowup."""
    import pytest as _pytest

    from prod2vec_spark.operators.baskets import (
        index_baskets,
        index_baskets_exploded,
    )
    from pyspark.sql import functions as F

    vocab = (
        spark.range(1, 35_001)
        .select(
            F.col("id").alias("product_id"),
            F.lit(1).alias("count"),
            F.col("id").cast("int").alias("idx"),
        )
    )
    baskets = spark.createDataFrame(
        [(1, [1, 2, 34_999, 99_999_999]), (2, [5, 70_000_000])],
        "order_id long, basket array<long>",
    )
    with _pytest.raises(ValueError, match="index_baskets_exploded"):
        index_baskets(baskets, vocab)

    out = {
        r["order_id"]: list(r["basket_idx"])
        for r in index_baskets_exploded(baskets, vocab).collect()
    }
    assert out == {1: [1, 2, 34_999, 0], 2: [5, 0]}  # OOV -> UNK 0


def test_bin_range_join_boundaries(spark):
    """Binned range join must agree with the naive BETWEEN semantics,
    including exact lo (inclusive) / hi (exclusive) boundaries and
    intervals spanning multiple bins."""
    from prod2vec_spark.operators.ranges import bin_range_join

    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 9.99, 10.0, 25.0, 99.9, 100.0, 250.0])],
        "pid long, x double",
    )
    ivl = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 100.0), ("c", 50.0, 260.0)],
        "name string, lo double, hi double",
    )
    got = {
        (r["pid"], r["name"])
        for r in bin_range_join(pts, ivl, "x", "lo", "hi", bin_width=30.0).collect()
    }
    naive = {
        (r["pid"], r["name"])
        for r in pts.crossJoin(ivl)
        .filter((F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi")))
        .collect()
    }
    assert got == naive and len(got) > 0


def test_salted_join_equals_plain_join(spark):
    """Salting is an internal partitioning detail: row multiset must
    equal the plain join, skewed hot key included."""
    from prod2vec_spark.operators.ranges import salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 1000), (3, 2000)], "k long, v long"
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "warm"), (4, "unused")], "k long, name string")
    got = sorted(
        (r["k"], r["v"], r["name"]) for r in salted_join(fact, dim, "k", n_salts=4).collect()
    )
    plain = sorted(
        (r["k"], r["v"], r["name"]) for r in fact.join(dim, "k").collect()
    )
    assert got == plain and len(got) == 501


def test_bin_range_join_left_keeps_unmatched(spark):
    """how='left' must null-extend unmatched points (round-2 bug:
    post-join residual filter silently dropped them = inner)."""
    from prod2vec_spark.operators.ranges import bin_range_join

    pts = spark.createDataFrame(
        [(1, 5.0), (2, 15.0), (3, 999.0)], "pid long, x double"
    )
    ivl = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 20.0)], "name string, lo double, hi double"
    )
    got = sorted(
        (r["pid"], r["name"])
        for r in bin_range_join(pts, ivl, "x", "lo", "hi", bin_width=7.0, how="left").collect()
    )
    naive = sorted(
        (r["pid"], r["name"])
        for r in pts.join(
            ivl, (F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi")), "left"
        ).collect()
    )
    assert got == naive
    assert (3, None) in got  # the unmatched point survives null-extended
    with pytest.raises(ValueError):
        bin_range_join(pts, ivl, "x", "lo", "hi", bin_width=7.0, how="full")


def test_salted_join_rejects_outer_how(spark):
    from prod2vec_spark.operators.ranges import salted_join

    fact = spark.createDataFrame([(1, 1)], "k long, v long")
    dim = spark.createDataFrame([(1, "x")], "k long, name string")
    with pytest.raises(ValueError):
        salted_join(fact, dim, "k", how="right")


def test_negative_sampling_distinct_exact_arity(spark):
    """distinct=True must emit EXACTLY num_ns negatives per row even
    when the oversample dedups below num_ns (tiny vocab) — TF's
    unique=True contract (data_prep.py:178-186).  vocab_size=6 with
    num_ns=4 demonstrably under-filled the round-2 slice."""
    from prod2vec_spark.operators.skipgram import negative_samples

    rows = [(o, t, c) for o in range(30) for t, c in [(1, 2), (3, 4), (0, 5)]]
    pairs = spark.createDataFrame(rows, "order_id long, target long, context long")
    out = negative_samples(pairs, vocab_size=6, num_ns=4, seed=3, distinct=True)
    for r in out.collect():
        negs = r["negatives"]
        assert len(negs) == 4, f"under-filled: {negs}"
        assert len(set(negs)) == 4
        assert r["context"] not in negs
        assert all(0 <= n < 6 for n in negs)
    # impossible contract -> loud error, not silent under-fill
    with pytest.raises(ValueError):
        negative_samples(pairs, vocab_size=4, num_ns=4, distinct=True)


def test_skipgram_subsampled_properties(spark):
    """F3 wiring invariants (keras skipgrams + sampling_table,
    data_prep.py:163-169): subsampling drops only vocab-ranked TARGET
    occurrences — OOV targets keep every pair; frequent ranks retain
    less than the keep-everything baseline; deterministic in seed."""
    from prod2vec_spark.operators.baskets import build_vocab
    from prod2vec_spark.operators.skipgram import (
        skipgram_pairs_selfjoin,
        skipgram_pairs_subsampled,
        with_positions,
    )
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    li = read_table(spark, SF_SMOKE, "lineitem")
    pos = with_positions(li)
    vocab = build_vocab(li, num_prods=101)
    full = skipgram_pairs_selfjoin(pos, 4).groupBy("target").count()
    sub = (
        skipgram_pairs_subsampled(pos, vocab, vocab_size=101, window=4, seed=42)
        .groupBy("target")
        .count()
    )
    in_vocab = {
        r["product_id"]
        for r in vocab.collect()
        if r["product_id"] is not None
    }
    f = {r["target"]: r["count"] for r in full.collect()}
    s = {r["target"]: r["count"] for r in sub.collect()}
    # every subsampled target-count is <= the unsubsampled one
    assert all(s[t] <= f[t] for t in s)
    # OOV targets (rarest; keep_prob = 1) lose nothing
    oov = [t for t in f if t not in in_vocab]
    assert oov and all(s.get(t, 0) == f[t] for t in oov)
    # vocab targets (frequent) are aggressively subsampled at t=1e-5
    kept = sum(s.get(t, 0) for t in in_vocab)
    total = sum(f[t] for t in in_vocab)
    assert kept < 0.5 * total
    # determinism
    again = (
        skipgram_pairs_subsampled(pos, vocab, vocab_size=101, window=4, seed=42)
        .groupBy("target")
        .count()
    )
    assert s == {r["target"]: r["count"] for r in again.collect()}


def test_connected_components_chain_and_islands(spark):
    """CC on a worst-case-diameter chain (0-1-2-3-4), a separate
    triangle, and a 2-node island: labels converge to the component
    minimum for every node; self-loops and duplicate edges are inert."""
    from prod2vec_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4),          # chain, diameter 4
         (10, 11), (11, 12), (12, 10),            # triangle
         (20, 21), (21, 20), (21, 21)],           # island + dup + loop
        "src: long, dst: long",
    )
    got = {
        (r["node"], r["comp"])
        for r in connected_components(edges).collect()
    }
    want = {(n, 0) for n in range(5)} | {(n, 10) for n in (10, 11, 12)} | {
        (20, 20), (21, 20)}
    assert got == want


def test_dedup_clusters_canonical_flags(spark):
    """dedup_clusters: exactly one canonical doc per cluster, and it is
    the min id."""
    from prod2vec_spark.operators.graph import dedup_clusters

    pairs = spark.createDataFrame(
        [(5, 9), (9, 7), (100, 101)], "doc_a: long, doc_b: long"
    )
    rows = dedup_clusters(pairs).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert set(by_cluster) == {5, 100}
    for cid, members in by_cluster.items():
        canon = [m for m in members if m["is_canonical"] == 1]
        assert len(canon) == 1 and canon[0]["doc_id"] == cid


def test_connected_components_survives_ansi_mode(spark):
    """The convergence checksum must not overflow under ANSI mode
    (Spark 4's default): sum(xxhash64) as long crashes with
    ARITHMETIC_OVERFLOW on ANSI-on clusters; the decimal(38,0) form is
    portable.  Run CC with ansi enabled and restore the repo default."""
    from prod2vec_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(0, 2), (4, 6)],
        "src: long, dst: long",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {(r["node"], r["comp"]) for r in connected_components(edges).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert (2, 0) in got and (6, 4) in got


def test_connected_components_rounds_bound_on_lsh_graph(spark):
    """Locks the scale claim 'LSH candidate graphs converge in
    ~diameter ≈ 2-3 rounds': run the real bands→pairs→CC pipeline on
    the sf0.001 documents and assert the fixed point is reached within
    4 propagation rounds (diameter + 1 confirmation round)."""
    from prod2vec_spark.operators import dedup as DD
    from prod2vec_spark.operators.graph import connected_components_with_rounds
    from prod2vec_spark.queries.common import LSH_MAX_GROUP
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    pairs = DD.lsh_candidate_pairs(DD.minhash_bands(docs), max_group=LSH_MAX_GROUP)
    labels, rounds = connected_components_with_rounds(pairs, src="doc_a", dst="doc_b")
    assert labels.count() > 0
    assert rounds <= 4, f"LSH dedup graph took {rounds} rounds — near-clique claim broken"


def test_kmeans_assignment_is_nearest_centroid(spark):
    """KMeans invariants: k clusters, deterministic under a seed, and
    every row's assigned cluster IS the argmin-distance centroid
    (checked exactly against the collected centers)."""
    import math

    from prod2vec_spark.ml.clustering import cluster_profile, kmeans_fit
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    model, assigned = kmeans_fit(emb, k=4, seed=42, max_iter=10)
    centers = [c.tolist() for c in model.clusterCenters()]
    assert len(centers) == 4

    rows = assigned.select("vec_id", "embedding", "cluster").collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        dists = [
            math.sqrt(sum((float(x) - c[i]) ** 2 for i, x in enumerate(r["embedding"])))
            for c in centers
        ]
        assert r["cluster"] == dists.index(min(dists))

    prof = {p["cluster"]: p["n_vecs"] for p in cluster_profile(assigned).collect()}
    assert sum(prof.values()) == len(rows)

    # seed determinism: same seed -> same assignment
    _, again = kmeans_fit(emb, k=4, seed=42, max_iter=10)
    a = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    b = {r["vec_id"]: r["cluster"] for r in again.collect()}
    assert a == b


def test_kmeans_ivf_recall_beats_sampled_centroids(spark):
    """The clustering module's quality-upgrade claim as a checked
    number: IVF with Lloyd-refined centroids must reach at least the
    recall@5 of seeded-sample centroids at equal nprobe (both paths
    fully seeded, so the comparison is deterministic)."""
    from pyspark.sql import functions as F

    from prod2vec_spark.ml.clustering import kmeans_ivf_topk
    from prod2vec_spark.operators.simsearch import brute_force_topk, ivf_topk
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q, k=5).collect()
    }
    samp = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, q, dims=64, k=5, n_centroids=8, nprobe=2).collect()
    }
    km = {
        (r["query_id"], r["neighbor_id"])
        for r in kmeans_ivf_topk(emb, q, dims=64, k=5, n_centroids=8, nprobe=2).collect()
    }
    r_samp = len(samp & exact) / len(exact)
    r_km = len(km & exact) / len(exact)
    assert r_km >= r_samp, (r_km, r_samp)
    assert r_km > 0.3  # sanity floor: refined cells must stay useful


@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_bin_range_join_equivalent_to_between_property(spark):
    """Property (hypothesis): on arbitrary generated interval tables
    and point sets, the binned equi-join form must produce EXACTLY the
    pairs of the naive BETWEEN theta join it replaces — including
    intervals wider than, narrower than, and straddling the bin
    width."""
    from hypothesis import given, settings, strategies as st

    from prod2vec_spark.operators.ranges import bin_range_join

    @settings(max_examples=12, deadline=None)
    @given(
        points=st.lists(
            st.floats(min_value=0.0, max_value=1000.0, allow_nan=False),
            min_size=1,
            max_size=20,
        ),
        intervals=st.lists(
            st.tuples(
                st.floats(min_value=0.0, max_value=1000.0, allow_nan=False),
                st.floats(min_value=0.0, max_value=500.0, allow_nan=False),
            ),
            min_size=1,
            max_size=8,
        ),
    )
    def check(points, intervals):
        pts = spark.createDataFrame(
            [(i, float(p)) for i, p in enumerate(points)], "pid int, x double"
        )
        ivs = spark.createDataFrame(
            [(j, float(lo), float(lo + w)) for j, (lo, w) in enumerate(intervals)],
            "iid int, lo double, hi double",
        )
        got = {
            (r["pid"], r["iid"])
            for r in bin_range_join(
                pts, ivs, point_col="x", lo_col="lo", hi_col="hi", bin_width=100.0
            ).collect()
        }
        want = {
            (i, j)
            for i, p in enumerate(points)
            for j, (lo, w) in enumerate(intervals)
            if lo <= p < lo + w
        }
        assert got == want

    check()


@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_overlap_range_join_equivalent_to_theta_property(spark):
    """Property (hypothesis): the binned interval-overlap join emits
    exactly the pairs of the naive overlap theta join
    (lo_a < hi_b AND lo_b < hi_a), each pair ONCE — the bin-ownership
    clause must dedup shared-bin pairs by construction."""
    from hypothesis import given, settings, strategies as st

    from prod2vec_spark.operators.ranges import overlap_range_join

    ivl = st.lists(
        st.tuples(
            st.floats(min_value=0.0, max_value=500.0, allow_nan=False),
            st.floats(min_value=0.0, max_value=300.0, allow_nan=False),
        ),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=10, deadline=None)
    @given(a=ivl, b=ivl)
    def check(a, b):
        la = spark.createDataFrame(
            [(i, float(lo), float(lo + w)) for i, (lo, w) in enumerate(a)],
            "aid int, a_lo double, a_hi double",
        )
        lb = spark.createDataFrame(
            [(j, float(lo), float(lo + w)) for j, (lo, w) in enumerate(b)],
            "bid int, b_lo double, b_hi double",
        )
        rows = overlap_range_join(
            la, lb, "a_lo", "a_hi", "b_lo", "b_hi", bin_width=100.0
        ).collect()
        got = [(r["aid"], r["bid"]) for r in rows]
        want = [
            (i, j)
            for i, (alo, awid) in enumerate(a)
            for j, (blo, bwid) in enumerate(b)
            if alo < blo + bwid and blo < alo + awid
        ]
        assert sorted(got) == sorted(want)  # exact multiset: no dup emits

    check()


def test_skew_safe_count_distinct_exact(spark):
    """Value-hash salting must reproduce countDistinct exactly,
    including on a deliberately hot key carrying many distinct and
    many duplicated values."""
    from prod2vec_spark.operators.relational import skew_safe_count_distinct

    rows = [("hot", v % 97) for v in range(2000)] + [
        ("cold", v) for v in range(5)
    ]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {
        r["k"]: r["n_distinct"]
        for r in skew_safe_count_distinct(df, ["k"], "v", n_salts=8).collect()
    }
    want = {
        r["k"]: r["nd"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("nd")).collect()
    }
    assert got == want == {"hot": 97, "cold": 5}


def test_cc_raises_on_max_iter_exhaustion(spark):
    """A truncated run must not masquerade as a fixed point (ADVICE
    r5): a diameter-7 chain cannot converge in 2 propagation rounds,
    and CC must raise rather than return partial labels."""
    import pytest

    from prod2vec_spark.operators.graph import connected_components_with_rounds

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "src: long, dst: long"
    )
    with pytest.raises(RuntimeError, match="no fixed point"):
        connected_components_with_rounds(edges, max_iter=2)
    # with enough budget the same graphs converge fine
    labels, _ = connected_components_with_rounds(edges, max_iter=25)
    assert {r["comp"] for r in labels.collect()} == {0}


def test_ivf_supplied_centroids_zero_norm_guard(spark):
    """ADVICE r5: caller-supplied centroids get the same zero-norm
    guard as the sampled path — zero vectors are dropped, an all-zero
    list is a ValueError, and a mixed list still answers."""
    import pytest

    from prod2vec_spark.operators.simsearch import ivf_topk
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    corpus = read_table(spark, SF_SMOKE, "embeddings").limit(50)
    queries = corpus.limit(2).select("vec_id", "embedding")
    dims = len(corpus.first()["embedding"])
    with pytest.raises(ValueError, match="zero norm"):
        ivf_topk(corpus, queries, dims=dims, centroids=[[0.0] * dims])
    mixed = [[0.0] * dims, [1.0] + [0.0] * (dims - 1)]
    out = ivf_topk(
        corpus, queries, dims=dims, k=3, n_centroids=2, nprobe=1,
        centroids=mixed,
    )
    assert out.count() > 0


def test_kmeans_ivf_all_zero_corpus_raises(spark):
    """ADVICE r5: a corpus of zero vectors leaves no unit-scalable
    cluster centers — kmeans_ivf_topk must fail with the cause, not
    build a malformed empty centroid matrix."""
    import pytest

    from prod2vec_spark.ml.clustering import kmeans_ivf_topk

    zeros = spark.createDataFrame(
        [(i, [0.0, 0.0, 0.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    queries = zeros.limit(1).select("vec_id", "embedding")
    with pytest.raises(ValueError, match="zero norm"):
        kmeans_ivf_topk(zeros, queries, dims=3, n_centroids=2)


@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_cc_both_algorithms_match_union_find_property(spark):
    """Property (hypothesis): on arbitrary random graphs (self-loops,
    duplicates, multi-component, chains) distributed CC must produce
    exactly the component partition of a driver-side union-find
    reference."""
    from hypothesis import given, settings, strategies as st

    from prod2vec_spark.operators.graph import connected_components

    @settings(max_examples=8, deadline=None)
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 25), st.integers(0, 25)),
            min_size=1,
            max_size=35,
        )
    )
    def check(edges):
        # driver-side union-find ground truth
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        # canonicalize: component id = min member (what the operators emit)
        comp_min = {}
        for n in parent:
            r = find(n)
            comp_min[r] = min(comp_min.get(r, n), n)
        want = {n: comp_min[find(n)] for n in parent}
        # nodes whose ONLY edges are self-loops stay singletons:
        # compare on the real-edge domain, and require any extra node
        # to be a singleton.
        real = {n for a, b in edges if a != b for n in (a, b)}

        e = spark.createDataFrame(edges, "src long, dst long")
        labels = connected_components(e, src="src", dst="dst")
        got = {r["node"]: r["comp"] for r in labels.collect()}
        assert {n: c for n, c in got.items() if n in real} == {
            n: c for n, c in want.items() if n in real
        }
        for n, c in got.items():
            if n not in real:
                assert c == n

    check()


def test_cms_sketch_never_underestimates_and_merges(spark):
    """Count-min invariants on a known multiset: estimate >= true for
    EVERY item, and the sketch of a union equals the counter-wise sum
    of the parts' sketches (mergeability — the reason the sketch is a
    table, not a driver object)."""
    from pyspark.sql import functions as F

    from prod2vec_spark.operators.sketches import cms_estimate, cms_sketch

    a = spark.createDataFrame(
        [("x",)] * 50 + [("y",)] * 20 + [("z",)] * 5, "term string"
    )
    b = spark.createDataFrame(
        [("x",)] * 30 + [("w",)] * 7, "term string"
    )
    both = a.unionAll(b)
    true = {"x": 80, "y": 20, "z": 5, "w": 7}

    # probe set includes a term the sketch never saw: it must still get
    # a row, and (absent collisions in every depth) estimate 0
    probes = spark.createDataFrame(
        [(t,) for t in true] + [("never_seen_term",)], "term string"
    )
    est = {
        r["term"]: r["cms_est"]
        for r in cms_estimate(cms_sketch(both), probes).collect()
    }
    assert set(est) == set(true) | {"never_seen_term"}
    for t, n in true.items():
        assert est[t] >= n, (t, est[t], n)
    assert est["never_seen_term"] >= 0  # ≥ true count (0); usually == 0

    # merge = union + counter sum; must equal the one-shot sketch
    merged = (
        cms_sketch(a)
        .unionByName(cms_sketch(b))
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    one_shot = cms_sketch(both)
    assert merged.exceptAll(one_shot).count() == 0
    assert one_shot.exceptAll(merged).count() == 0


@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_cms_overestimate_property(spark):
    """Property (hypothesis): for ARBITRARY multisets the CMS estimate
    is >= the true count for every distinct item — the one-sided error
    contract, independent of collision structure."""
    from collections import Counter

    from hypothesis import given, settings, strategies as st

    from prod2vec_spark.operators.sketches import cms_estimate, cms_sketch

    @settings(max_examples=8, deadline=None)
    @given(
        items=st.lists(
            st.text(alphabet="abcde", min_size=1, max_size=3),
            min_size=1,
            max_size=60,
        )
    )
    def check(items):
        true = Counter(items)
        df = spark.createDataFrame([(x,) for x in items], "term string")
        probes = spark.createDataFrame([(t,) for t in true], "term string")
        # small width forces real collisions; the contract must hold
        est = {
            r["term"]: r["cms_est"]
            for r in cms_estimate(
                cms_sketch(df, width=16), probes, width=16
            ).collect()
        }
        assert set(est) == set(true)
        for t, n in true.items():
            assert est[t] >= n, (t, est[t], n)

    check()


@pytest.mark.slow  # driver-budget suite skips (VERDICT r16 ask #3)
def test_cc_reliable_checkpoint_equivalence(spark, tmp_path):
    """VERDICT r14 ask #7: passing checkpoint_dir switches the
    per-round lineage breaks to RELIABLE checkpoints (survive executor
    loss on a real cluster) — labels and rounds must be identical to
    the localCheckpoint path, and the checkpoint dir must actually
    receive data."""
    import os

    from prod2vec_spark.operators.graph import connected_components_with_rounds

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9), (10, 11), (11, 12), (12, 13)],
        "src long, dst long",
    )
    ckpt = str(tmp_path / "cc_ckpt")
    want, want_r = connected_components_with_rounds(edges)
    got, got_r = connected_components_with_rounds(edges, checkpoint_dir=ckpt)
    assert {(r["node"], r["comp"]) for r in got.collect()} == {
        (r["node"], r["comp"]) for r in want.collect()
    }
    assert got_r == want_r
    assert any(files for _, _, files in os.walk(ckpt)), (
        "reliable checkpoint dir received no data"
    )


def test_break_lineage_warns_on_checkpoint_root_repoint(spark, tmp_path):
    """ADVICE r15: setCheckpointDir is SparkContext-global — silently
    re-pointing an already-set different root races concurrent
    operators.  break_lineage must warn (naming both roots) on a
    re-point and stay silent on an idempotent repeat."""
    import warnings

    from prod2vec_spark.functions.lineage import break_lineage

    df = spark.range(3)
    a = str(tmp_path / "root_a")
    b = str(tmp_path / "root_b")
    break_lineage(df, checkpoint_dir=a)
    # same root again: no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        break_lineage(df, checkpoint_dir=a)
    # different root: one RuntimeWarning naming both
    with warnings.catch_warnings(record=True) as got:
        warnings.simplefilter("always")
        break_lineage(df, checkpoint_dir=b)
    msgs = [str(w.message) for w in got if w.category is RuntimeWarning]
    assert any("root_a" in m and "root_b" in m for m in msgs)


def test_fit_knn_reliable_checkpoint_equivalence(spark, tmp_path):
    """fit_knn's per-level lineage breaks honor checkpoint_dir with
    score output row-identical to the localCheckpoint path."""
    from prod2vec_spark.operators.lm import fit_knn, score_docs_knn

    docs = spark.createDataFrame(
        [(1, "a b c d e a b c"), (2, "a b c d f g h"), (3, "x y z w v u t")],
        "doc_id long, text string",
    )
    m_local = fit_knn(docs, order=4)
    m_ckpt = fit_knn(docs, order=4, checkpoint_dir=str(tmp_path / "kn_ckpt"))
    want = {r["doc_id"]: r.asDict() for r in score_docs_knn(docs, m_local).collect()}
    got = {r["doc_id"]: r.asDict() for r in score_docs_knn(docs, m_ckpt).collect()}
    assert got == want and len(want) == 3
