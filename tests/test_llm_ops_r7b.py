"""Behavioral tests for the round-7 wave-B operator families
(deterministic hash split, temperature source mixing, edit-distance
near-dup confirmation) — oracle parity is covered by
test_oracle_parity.py; these assert the SEMANTICS on constructed
inputs and the scale-relevant invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


# ------------------------------------------------------- hash split
def test_assign_split_is_a_partition(spark):
    from prod2vec_spark.operators.splits import assign_split
    from prod2vec_spark.sources.io import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    s = assign_split(docs, key_col="doc_id", seed=42)
    # exactly one split per row, only the three labels
    assert s.count() == docs.count()
    labels = {r["split"] for r in s.select("split").distinct().collect()}
    assert labels <= {"train", "val", "test"}
    # deterministic: a second evaluation assigns identically
    a = {r["doc_id"]: r["split"] for r in s.select("doc_id", "split").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in assign_split(docs, key_col="doc_id", seed=42)
        .select("doc_id", "split")
        .collect()
    }
    assert a == b


def test_assign_split_stable_under_ingestion(spark):
    """The property that matters at 100 TB: adding/removing OTHER rows
    never moves an existing row between splits (pure function of
    (seed, key))."""
    from prod2vec_spark.operators.splits import assign_split
    from prod2vec_spark.sources.io import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    full = {
        r["doc_id"]: r["split"]
        for r in assign_split(docs, seed=42).select("doc_id", "split").collect()
    }
    half = {
        r["doc_id"]: r["split"]
        for r in assign_split(docs.filter(F.col("doc_id") % 2 == 0), seed=42)
        .select("doc_id", "split")
        .collect()
    }
    assert all(full[k] == v for k, v in half.items())


def test_assign_split_fractions_and_seed_sensitivity(spark):
    from prod2vec_spark.operators.splits import assign_split
    from prod2vec_spark.sources.io import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    n = docs.count()
    counts = {
        r["split"]: r["n"]
        for r in assign_split(docs, seed=42)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # loose tolerance at the smoke SF — the md5 uniform is unbiased
    assert abs(counts.get("train", 0) / n - 0.90) < 0.06
    # a different seed produces a different assignment somewhere
    other = assign_split(docs, seed=7).select("doc_id", F.col("split").alias("s2"))
    moved = (
        assign_split(docs, seed=42)
        .select("doc_id", "split")
        .join(other, "doc_id")
        .filter(F.col("split") != F.col("s2"))
        .count()
    )
    assert moved > 0


def test_split_assignment_rejects_bad_fractions():
    from prod2vec_spark.operators.splits import split_assignment

    with pytest.raises(ValueError):
        split_assignment(F.col("x"), 42, (("a", 0.5), ("b", 0.4)))


# -------------------------------------------------- temperature mix
def test_temperature_mix_flattens(spark):
    """alpha < 1 upsamples low-resource sources: boost is
    anti-monotone in token mass, p_temp still sums to 1."""
    from prod2vec_spark.operators.mixing import temperature_mix
    from prod2vec_spark.sources.io import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    rows = temperature_mix(docs, alpha=0.5).collect()
    assert abs(sum(r["p_temp"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["p_raw"] for r in rows) - 1.0) < 1e-3
    by_mass = sorted(rows, key=lambda r: r["n_tokens"])
    boosts = [r["boost"] for r in by_mass]
    assert boosts == sorted(boosts, reverse=True)  # smaller source, bigger boost
    # budget is conserved up to per-source floor loss
    total = sum(r["target_tokens"] for r in rows)
    assert 1_000_000 - len(rows) <= total <= 1_000_000


def test_temperature_mix_alpha_one_is_natural(spark):
    from prod2vec_spark.operators.mixing import temperature_mix
    from prod2vec_spark.sources.io import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    rows = temperature_mix(docs, alpha=1.0).collect()
    for r in rows:
        assert abs(r["p_temp"] - r["p_raw"]) < 2e-6  # both rounded at 6
        assert abs(r["boost"] - 1.0) < 1e-3


def test_temperature_mix_rejects_bad_alpha(spark):
    from prod2vec_spark.operators.mixing import temperature_mix
    from prod2vec_spark.sources.io import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    with pytest.raises(ValueError):
        temperature_mix(docs, alpha=0.0)
    with pytest.raises(ValueError):
        temperature_mix(docs, alpha=1.5)


# --------------------------------------------- edit-dist confirm
def _pairs_and_docs(spark, docs_rows, pair_rows):
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    pairs = spark.createDataFrame(pair_rows, "doc_a long, doc_b long")
    return pairs, docs


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def test_editdist_confirm_matches_python_reference(spark):
    from prod2vec_spark.operators.dedup import editdist_confirm

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "the quick brown fox jumped over the lazy dog",
        3: "completely unrelated content with other words entirely",
        4: "",
    }
    pairs, docs = _pairs_and_docs(
        spark, list(texts.items()), [(1, 2), (1, 3), (1, 4)]
    )
    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in editdist_confirm(pairs, docs, prefix_len=256, max_dist=51).collect()
    }
    r12 = out[(1, 2)]
    assert r12["dist"] == _py_lev(texts[1], texts[2]) == 2
    assert r12["confirmed"] == 1 and r12["edit_sim"] > 0.9
    r13 = out[(1, 3)]
    exact = _py_lev(texts[1], texts[3])
    assert r13["dist"] == (exact if exact <= 51 else -1)
    assert r13["confirmed"] == 0
    # empty side: dist = len(other) within threshold, sim 0, unconfirmed
    r14 = out[(1, 4)]
    assert r14["dist"] == len(texts[1]) and r14["confirmed"] == 0
    assert r14["edit_sim"] == 0.0


def test_editdist_confirm_early_abandon_sentinel(spark):
    from prod2vec_spark.operators.dedup import editdist_confirm

    a = "a" * 200
    b = "b" * 200
    pairs, docs = _pairs_and_docs(spark, [(1, a), (2, b)], [(1, 2)])
    [r] = editdist_confirm(pairs, docs, prefix_len=256, max_dist=51).collect()
    assert r["dist"] == -1 and r["edit_sim"] == -1.0 and r["confirmed"] == 0


def test_editdist_confirm_prefix_cap(spark):
    """Documents differing only beyond the prefix confirm as dups —
    the documented (and audited) cost/recall trade of the cap."""
    from prod2vec_spark.operators.dedup import editdist_confirm

    base = "x " * 200  # 400 chars
    pairs, docs = _pairs_and_docs(
        spark, [(1, base + "tail one"), (2, base + "completely different tail")],
        [(1, 2)],
    )
    [r] = editdist_confirm(pairs, docs, prefix_len=64, max_dist=51).collect()
    assert r["dist"] == 0 and r["confirmed"] == 1
    assert r["len_a"] == 64 and r["len_b"] == 64


# ------------------------------------------- incremental LSH
def test_incremental_lsh_equals_full_rerun(spark):
    """The incremental contract: full-corpus candidates == prior-run
    candidates ∪ delta candidates, for id-disjoint snapshots with no
    group cap (the cap is a policy knob tested separately)."""
    from prod2vec_spark.operators.dedup import (
        incremental_lsh_candidates,
        lsh_candidate_pairs,
        minhash_bands,
    )
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents")
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    full = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(minhash_bands(docs)).collect()
    }
    prior = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(minhash_bands(old)).collect()
    }
    delta = {
        (r["doc_a"], r["doc_b"])
        for r in incremental_lsh_candidates(minhash_bands(old), new).collect()
    }
    assert prior | delta == full
    # the delta never re-emits a known old×old pair
    assert not (delta & prior)
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert all(a in new_ids or b in new_ids for a, b in delta)


def test_incremental_lsh_changed_doc_supersedes_stored_bands(spark):
    """Re-ingested ids drop their stored band rows: a doc whose text
    CHANGED pairs according to its new signature, and its stale
    signature produces no pair."""
    from prod2vec_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_bands,
    )

    text_x = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_y = "one two three four five six seven eight nine ten eleven"
    v1 = spark.createDataFrame(
        [(1, text_x), (2, text_x), (3, text_y)], "doc_id long, text string"
    )
    # doc 2's text changes to match doc 3; doc 4 arrives matching doc 1
    v2_changed = spark.createDataFrame(
        [(2, text_y), (4, text_x)], "doc_id long, text string"
    )
    delta = {
        (r["doc_a"], r["doc_b"])
        for r in incremental_lsh_candidates(minhash_bands(v1), v2_changed).collect()
    }
    assert (2, 3) in delta        # new signature pairs with doc 3
    assert (1, 4) in delta        # pure addition pairs with stored doc 1
    assert (1, 2) not in delta    # stale signature is gone
    assert (2, 4) not in delta


# ------------------------------------------- materialized mix
def test_materialize_mix_hits_targets(spark):
    """Realized token mass per source lands near the recipe target
    (stochastic rounding is unbiased), the draw is deterministic, and
    the exploded stream has exactly sum(n_copies) rows."""
    from prod2vec_spark.operators import text as TX
    from prod2vec_spark.operators.mixing import materialize_mix, temperature_mix
    from prod2vec_spark.sources.io import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    mat = materialize_mix(docs, alpha=0.5, seed=42).withColumn(
        "_nt", F.size(TX.tokens(F.col("text"))).cast("long")
    )
    realized = {
        r["source"]: r["rt"]
        for r in mat.groupBy("source")
        .agg(F.sum(F.col("n_copies") * F.col("_nt")).alias("rt"))
        .collect()
    }
    targets = {
        r["source"]: r["target_tokens"]
        for r in temperature_mix(docs, alpha=0.5).collect()
    }
    for s, t in targets.items():
        assert abs(realized[s] / t - 1.0) < 0.25, (s, realized[s], t)

    # determinism
    again = {
        (r["doc_id"], r["n_copies"])
        for r in materialize_mix(docs, alpha=0.5, seed=42)
        .select("doc_id", "n_copies")
        .collect()
    }
    assert {(r["doc_id"], r["n_copies"]) for r in mat.select("doc_id", "n_copies").collect()} == again

    # explode contract: sequence(1, n_copies) yields sum(n_copies) rows
    n_exploded = (
        mat.select(F.explode(F.sequence(F.lit(1), F.col("n_copies"))))
        .count()
    )
    assert n_exploded == mat.agg(F.sum("n_copies")).first()[0]


# ------------------------------------------- spearman helper
def test_spearman_by_group_known_values(spark):
    """Exact rank arithmetic on constructed data: perfect concordance
    -> 1.0, perfect discordance -> -1.0, and a hand-computed mixed
    case; groups below min_n are dropped."""
    from prod2vec_spark.functions.stats import spearman_by_group

    rows = []
    # g=conc: y = 2x (monotone increasing)
    for i in range(10):
        rows.append(("conc", i, float(i), float(2 * i)))
    # g=disc: y decreasing in x
    for i in range(10):
        rows.append(("disc", i, float(i), float(-i)))
    # g=mixed: x = 1,2,3,4 ; y = 2,1,4,3 -> d = (1,-1,1,-1), sum_d2=4
    # spearman = 1 - 24/(4*15) = 0.6
    for i, (x, y) in enumerate([(1, 2), (2, 1), (3, 4), (4, 3)]):
        rows.append(("mixed", i, float(x), float(y)))
    # g=tiny: single row, dropped by min_n
    rows.append(("tiny", 0, 1.0, 1.0))
    df = spark.createDataFrame(rows, "g string, id long, x double, y double")
    out = {
        r["group"]: r
        for r in spearman_by_group(df, "g", "x", "y", "id").collect()
    }
    assert out["conc"]["spearman"] == 1.0 and out["conc"]["sum_d2"] == 0
    assert out["disc"]["spearman"] == -1.0
    assert out["mixed"]["spearman"] == 0.6 and out["mixed"]["sum_d2"] == 4
    assert "tiny" not in out


def test_spearman_tiebreak_is_deterministic(spark):
    """All-equal x: ranks fall back to the id order on BOTH axes when
    y is also id-ordered, so the statistic is exactly 1.0 — the
    deterministic-tiebreak contract (not NaN, not engine-dependent)."""
    from prod2vec_spark.functions.stats import spearman_by_group

    df = spark.createDataFrame(
        [("g", i, 5.0, float(i)) for i in range(8)],
        "g string, id long, x double, y double",
    )
    [r] = spearman_by_group(df, "g", "x", "y", "id").collect()
    assert r["spearman"] == 1.0


# ------------------------------------------- RM3 expansion
def test_rm3_matches_python_reference(spark):
    """RM3 weights recomputed in pure Python from the (already
    hand-tested) QL top-k output and the raw texts: softmax doc
    weights, RM1 mixture, interpolation — the Spark result must agree
    to rounding; non-candidate vocabulary must not leak in."""
    import math

    from prod2vec_spark.operators.bm25 import ql_topk, rm3_terms

    texts = {
        1: "apple apple banana",
        2: "apple cherry cherry kiwi",
        3: "durian durian durian",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    queries = [("q0", ["apple"])]
    k, m, lam, mu = 2, 100, 0.5, 300.0

    top = ql_topk(docs, queries, k=k, mu=mu).collect()
    assert {r["doc_id"] for r in top} == {1, 2}

    smax = max(r["score"] for r in top)
    wexp = {r["doc_id"]: math.exp(r["score"] - smax) for r in top}
    z = sum(wexp.values())
    wd = {d: w / z for d, w in wexp.items()}
    rm1 = {}
    for d, w in wd.items():
        toks = texts[d].split()
        for t in set(toks):
            rm1[t] = rm1.get(t, 0.0) + w * toks.count(t) / len(toks)
    expected = {
        t: round((1 - lam) * (1.0 if t == "apple" else 0.0) + lam * p, 4)
        for t, p in rm1.items()
    }

    got = {
        r["term"]: r["weight"]
        for r in rm3_terms(docs, queries, k=k, m=m, lam=lam, mu=mu).collect()
    }
    assert got == expected
    assert "durian" not in got  # non-candidate doc's vocabulary
    # a (near-)proper distribution: candidate LMs and weights sum to 1
    assert abs(sum(got.values()) - 1.0) < 0.01
    # the original query term dominates at lam=0.5
    assert max(got, key=got.get) == "apple" and got["apple"] >= 0.5


def test_rm3_lambda_extremes(spark):
    """lam=0 returns exactly the uniform original-query distribution;
    lam=1 drops the original terms unless they occur in the feedback
    docs."""
    from prod2vec_spark.operators.bm25 import rm3_terms

    docs = spark.createDataFrame(
        [(1, "x y z"), (2, "x w w")], "doc_id long, text string"
    )
    q = [("q0", ["x", "missing"])]
    lam0 = {
        r["term"]: r["weight"]
        for r in rm3_terms(docs, q, k=2, m=100, lam=0.0).collect()
        if r["weight"] > 0
    }
    assert lam0 == {"x": 0.5, "missing": 0.5}
    lam1 = {
        r["term"]: r["weight"]
        for r in rm3_terms(docs, q, k=2, m=100, lam=1.0).collect()
        if r["weight"] > 0
    }
    assert "missing" not in lam1 and "x" in lam1 and "w" in lam1


# ------------------------------------------- epoch shards
def test_epoch_shards_on_disk_order_is_the_permutation(spark, tmp_path):
    """write_epoch_shards: every doc lands in exactly one shard; the
    on-disk row order within each shard file equals the (pos, id)
    permutation; a rewrite of the same epoch is byte-order identical;
    a different epoch produces a different permutation."""
    from prod2vec_spark.operators.shards import (
        epoch_assignments,
        epoch_order_checksum,
        write_epoch_shards,
    )
    from prod2vec_spark.sources.io import read_table

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id")
    n = docs.count()
    path = str(tmp_path / "epoch3")
    write_epoch_shards(docs, path, epoch=3, n_shards=4)
    back = spark.read.parquet(path)
    assert back.count() == n
    assert back.select("doc_id").distinct().count() == n

    # on-disk order per shard == the declared permutation (parquet
    # preserves row order; read per shard dir and compare sequences)
    expected = {}
    for r in (
        epoch_assignments(docs, 3, 4)
        .select("shard", "pos", "doc_id")
        .collect()
    ):
        expected.setdefault(r["shard"], []).append((r["pos"], r["doc_id"]))
    for s, lst in expected.items():
        lst.sort()
        # toPandas preserves file order for a single-file partition
        got = spark.read.parquet(f"{path}/shard={s}").toPandas()["doc_id"].tolist()
        assert got == [d for _, d in lst], f"shard {s} order mismatch"

    # determinism + epoch sensitivity via the order checksum
    ck3a = {r["shard"]: r["order_ck"] for r in
            epoch_order_checksum(epoch_assignments(docs, 3, 4)).collect()}
    ck3b = {r["shard"]: r["order_ck"] for r in
            epoch_order_checksum(epoch_assignments(docs, 3, 4)).collect()}
    ck4 = {r["shard"]: r["order_ck"] for r in
           epoch_order_checksum(epoch_assignments(docs, 4, 4)).collect()}
    assert ck3a == ck3b
    assert ck3a != ck4

    # shard balance: md5 uniformity keeps the spread tight
    sizes = [len(v) for v in expected.values()]
    assert len(sizes) == 4 and min(sizes) > 0
    assert max(sizes) / min(sizes) < 2.0


def test_epoch_assignments_rejects_bad_shards(spark):
    from prod2vec_spark.operators.shards import epoch_assignments
    from prod2vec_spark.sources.io import read_table

    import pytest as _pytest

    docs = read_table(spark, SF_SMOKE, "documents")
    with _pytest.raises(ValueError):
        epoch_assignments(docs, 1, 0)


# ------------------------------------------- property tests (hypothesis)
def test_split_matches_python_reference_property(spark):
    """Property: for random fraction tuples and random id sets, the
    split assignment agrees EXACTLY with a pure-Python replay of the
    md5-threshold spec, and is a partition."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    from prod2vec_spark.operators.splits import assign_split

    def ref_split(seed, key, fractions):
        u = int(
            hashlib.md5(f"{seed}|{key}".encode()).hexdigest()[:8], 16
        ) / 4294967296.0
        cum = 0.0
        for name, frac in fractions[:-1]:
            cum += frac
            if u < cum:
                return name
        return fractions[-1][0]

    @settings(max_examples=6, deadline=None)
    @given(
        ids=st.lists(st.integers(min_value=0, max_value=10**9),
                     min_size=1, max_size=30, unique=True),
        cut1=st.floats(min_value=0.1, max_value=0.8),
        cut2=st.floats(min_value=0.05, max_value=0.15),
        seed=st.integers(min_value=0, max_value=99),
    )
    def check(ids, cut1, cut2, seed):
        fracs = (("a", cut1), ("b", cut2), ("c", 1.0 - cut1 - cut2))
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        got = {
            r["doc_id"]: r["split"]
            for r in assign_split(df, seed=seed, fractions=fracs).collect()
        }
        assert got == {i: ref_split(seed, i, fracs) for i in ids}

    check()


def test_editdist_matches_python_reference_property(spark):
    """Property: Spark's banded levenshtein + sim/confirm columns
    agree with the pure-Python DP on random short strings, including
    the early-abandon sentinel."""
    from hypothesis import given, settings, strategies as st

    from prod2vec_spark.operators.dedup import editdist_confirm

    alpha = st.text(alphabet="abcx ", min_size=0, max_size=30)

    @settings(max_examples=6, deadline=None)
    @given(a=alpha, b=alpha, t=st.integers(min_value=1, max_value=8))
    def check(a, b, t):
        pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
        docs = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
        [r] = editdist_confirm(
            pairs, docs, prefix_len=64, max_dist=t, sim_threshold=0.8
        ).collect()
        d = _py_lev(a[:64], b[:64])
        assert r["dist"] == (d if d <= t else -1)
        if d <= t:
            la, lb = len(a[:64]), len(b[:64])
            sim = round(1.0 - d / max(la, lb, 1), 4)
            assert r["edit_sim"] == sim
            assert r["confirmed"] == (1 if sim >= 0.8 else 0)
        else:
            assert r["edit_sim"] == -1.0 and r["confirmed"] == 0

    check()


def test_epoch_checksum_detects_order_changes_property(spark):
    """Property: the order checksum equals a pure-Python replay, and
    swapping any two adjacent docs in the realized order changes it
    (for distinct residues) — i.e. it is genuinely order-sensitive."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    from prod2vec_spark.operators.shards import (
        epoch_assignments,
        epoch_order_checksum,
    )

    def ref(ids, epoch, n_shards):
        rows = []
        for i in ids:
            h = int(
                hashlib.md5(f"epoch{epoch}|{i}".encode()).hexdigest()[:15], 16
            )
            rows.append((h % n_shards, h, i))
        out = {}
        from collections import defaultdict

        per = defaultdict(list)
        for s, p, i in rows:
            per[s].append((p, i))
        for s, lst in per.items():
            lst.sort()
            ck = sum(
                (rk + 1) * (i % 1000003) for rk, (_, i) in enumerate(lst)
            ) % 2147483647
            out[s] = (len(lst), ck)
        return out

    @settings(max_examples=6, deadline=None)
    @given(
        ids=st.lists(st.integers(min_value=0, max_value=10**9),
                     min_size=2, max_size=40, unique=True),
        epoch=st.integers(min_value=0, max_value=9),
    )
    def check(ids, epoch):
        df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        got = {
            r["shard"]: (r["n_docs"], r["order_ck"])
            for r in epoch_order_checksum(
                epoch_assignments(df, epoch, 3)
            ).collect()
        }
        assert got == ref(ids, epoch, 3)

    check()


def test_spearman_matches_python_reference_property(spark):
    """Property: spearman_by_group equals a pure-Python replay of the
    rank spec on random (x, y) data with the same id tiebreak."""
    from hypothesis import given, settings, strategies as st

    from prod2vec_spark.functions.stats import spearman_by_group

    @settings(max_examples=6, deadline=None)
    @given(
        xs=st.lists(st.integers(min_value=0, max_value=5),
                    min_size=2, max_size=25),
        ys=st.lists(st.integers(min_value=0, max_value=5),
                    min_size=25, max_size=25),
    )
    def check(xs, ys):
        rows = [("g", i, float(x), float(ys[i])) for i, x in enumerate(xs)]
        df = spark.createDataFrame(rows, "g string, id long, x double, y double")
        [r] = spearman_by_group(df, "g", "x", "y", "id").collect()
        n = len(rows)
        rx = {row[1]: rk + 1 for rk, row in enumerate(
            sorted(rows, key=lambda t: (t[2], t[1])))}
        ry = {row[1]: rk + 1 for rk, row in enumerate(
            sorted(rows, key=lambda t: (t[3], t[1])))}
        sum_d2 = sum((rx[i] - ry[i]) ** 2 for i in rx)
        assert r["n"] == n and r["sum_d2"] == sum_d2
        assert r["spearman"] == round(1.0 - 6.0 * sum_d2 / (n * (n * n - 1.0)), 4)

    check()


# ------------------------------------------- Luhn CC detection
def test_luhn_matches_python_reference_property(spark):
    """Property: the pure-Column Luhn fold agrees with a Python
    reference on random digit strings (with random separators), both
    the checksum and the 13-19 length gate."""
    from hypothesis import given, settings, strategies as st

    from prod2vec_spark.operators.pii import luhn_valid

    def py_luhn(digits: str) -> bool:
        if not (13 <= len(digits) <= 19):
            return False
        total = 0
        for i, ch in enumerate(reversed(digits)):
            d = int(ch)
            total += d if i % 2 == 0 else (d * 2 - 9 if d * 2 > 9 else d * 2)
        return total % 10 == 0

    @settings(max_examples=6, deadline=None)
    @given(
        digit_lists=st.lists(
            st.lists(st.integers(0, 9), min_size=10, max_size=21),
            min_size=1, max_size=6,
        ),
        sep=st.sampled_from(["", " ", "-"]),
    )
    def check(digit_lists, sep):
        cands = [sep.join(str(d) for d in ds) if sep else "".join(
            str(d) for d in ds) for ds in digit_lists]
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(cands)], "i long, cand string"
        )
        got = {
            r["i"]: r["ok"]
            for r in df.select("i", luhn_valid(F.col("cand")).alias("ok")).collect()
        }
        for i, ds in enumerate(digit_lists):
            assert got[i] == py_luhn("".join(str(d) for d in ds)), (i, cands[i])

    check()


def test_cc_report_counts_planted_cards(spark):
    from prod2vec_spark.operators.pii import cc_report
    from prod2vec_spark.queries.text import CC_PLANTED

    df = spark.createDataFrame(CC_PLANTED, "doc_id long, text string")
    r = cc_report(F.col("text"))
    got = {
        row["doc_id"]: (row["c"], row["v"])
        for row in df.select(
            "doc_id", r["n_cc_candidates"].alias("c"), r["n_cc_valid"].alias("v")
        ).collect()
    }
    assert got == {-1: (1, 1), -2: (1, 0), -3: (2, 2), -4: (1, 0), -5: (0, 0)}


def test_scrub_cc_redacts_only_valid_cards(spark):
    """scrub_cc replaces checksum-valid candidates with <CC> and
    leaves Luhn-failing look-alikes byte-identical."""
    from prod2vec_spark.operators.pii import scrub_cc

    df = spark.createDataFrame(
        [
            (1, "pay 4111 1111 1111 1111 now"),
            (2, "order 4111111111111112 today"),
            (3, "two: 4111 1111 1111 1111 and 5500-0000-0000-0004"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["t"]
        for r in df.select("doc_id", scrub_cc(F.col("text")).alias("t")).collect()
    }
    assert got[1] == "pay <CC> now"
    assert got[2] == "order 4111111111111112 today"
    assert got[3] == "two: <CC> and <CC>"


def test_pipeline_scrub_cc_flag(spark, tmp_path):
    """scrub_cc=True in the DAG: the exact-dedup checkpoint carries no
    checksum-valid card string (planted via a work-dir side table is
    overkill — assert on the operator wiring through scrubbed_input)."""
    from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline

    cfg = CorpusConfig(
        sf_dir=SF_SMOKE, work_dir=str(tmp_path / "w"), scrub_cc=True
    )
    p = CorpusCurationPipeline(spark, cfg)
    out = p.scrubbed_input()
    from prod2vec_spark.operators.pii import cc_report

    r = cc_report(F.col("text"))
    assert (
        out.select(r["n_cc_valid"].alias("v")).agg(F.sum("v")).first()[0] or 0
    ) == 0


# ------------------------------------------- compression signal
def test_compression_ratio_matches_stdlib_and_separates(spark):
    """The Arrow-batched ratio equals the stdlib zlib reference per
    row, and separates repetitive from natural text (the signal's
    reason to exist)."""
    import zlib

    from prod2vec_spark.functions.compress import ZLIB_LEVEL, compression_ratio

    texts = {
        1: "the sky darkened as distant thunder rolled over the hills",
        2: "spam spam spam spam spam spam spam spam spam spam spam spam",
        3: "",
        4: "a",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: r["cr"]
        for r in df.select(
            "doc_id", compression_ratio(F.col("text")).alias("cr")
        ).collect()
    }

    def ref(t):
        raw = t.encode("utf-8")
        return len(zlib.compress(raw, ZLIB_LEVEL)) / len(raw) if raw else 1.0

    for d, t in texts.items():
        assert abs(got[d] - ref(t)) < 1e-12, (d, got[d], ref(t))
    assert got[2] < got[1]  # repetitive text compresses much further
    assert got[3] == 1.0


def test_compression_profile_rows_only_contract(spark):
    # (name kept for the coverage matrix's history; the entry is
    # FULLY ORACLED since round 15 — see the golden-honesty test
    # below, which locks the fixture to the live codec)
    from prod2vec_spark.queries.text import q_compression_profile
    from tests.conftest import SF_SMOKE

    out = q_compression_profile(spark, SF_SMOKE)
    rows = out.collect()
    assert len(rows) > 0
    assert all(0.0 < r["comp_ratio"] <= 1.2 for r in rows)
    assert all(r["low_entropy"] in (0, 1) for r in rows)


def test_compress_goldens_match_live_zlib():
    """Round-15 honesty lock: the persisted (md5(text) -> raw/comp
    lengths) goldens must equal live zlib over the ACTUAL testdata
    texts at every sf — a zlib-level or encoding drift must fail here,
    not hide behind a stale fixture."""
    import hashlib
    import os
    import zlib

    import pyarrow.parquet as pq

    fix = pq.read_table(
        os.path.join(os.path.dirname(__file__), "fixtures", "compress_goldens.parquet")
    )
    goldens = {
        h: (r, c)
        for h, r, c in zip(
            fix["text_md5"].to_pylist(),
            fix["raw_len"].to_pylist(),
            fix["comp_len"].to_pylist(),
        )
    }
    for sf in ("0.001", "0.01", "0.1"):
        t = pq.read_table(
            f"/root/testdata/sf{sf}/documents.parquet", columns=["text"]
        )
        for text in t["text"].to_pylist():
            raw = text.encode("utf-8")
            h = hashlib.md5(raw).hexdigest()
            assert h in goldens, f"sf{sf} text missing from goldens"
            want_raw, want_comp = goldens[h]
            assert want_raw == len(raw)
            if raw:
                assert want_comp == len(zlib.compress(raw, 6))


# ------------------------------------------- script profile
def test_script_profile_golden_cases(spark, tmp_path):
    """Constructed docs: pure Latin, pure Han, mixed Latin+Cyrillic
    and symbol-only — dominant + mixed flags; a single homoglyph
    char stays under the 10% majority bar but is visible in the
    per-script counts."""
    import os

    from prod2vec_spark.queries.text import q_script_profile

    rows = [
        (1, "plain english text here"),
        (2, "中文文本内容"),
        (3, "paуpal dot com login"),   # Cyrillic u0443 inside Latin
        (4, "12345 !!! ???"),
        (5, "word слово word слово"),
    ]
    d = str(tmp_path / "sd")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    got = {
        r["doc_id"]: r for r in q_script_profile(spark, d).collect()
    }
    assert got[1]["dominant"] == "latin" and got[1]["mixed_script"] == 0
    assert got[2]["dominant"] == "han" and got[2]["n_han"] == 6
    # one homoglyph char is ~6% of scripted chars — below the 10%
    # majority bar, so the MIX flag stays 0 (the per-script counts
    # still expose it: n_cyrillic == 1)
    assert got[3]["dominant"] == "latin" and got[3]["mixed_script"] == 0
    assert got[3]["n_cyrillic"] == 1
    assert got[4]["dominant"] == "none" and got[4]["n_scripted"] == 0
    assert got[5]["mixed_script"] == 1  # both scripts ~50%
