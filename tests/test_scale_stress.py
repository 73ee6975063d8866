"""10x curation scale-stress (VERDICT r5 ask #6): the exact-dedup →
LSH → connected-components chain run end-to-end on an amplified
corpus with KNOWN structure, asserting the invariants the 100 TB
design leans on — the CC round bound on near-clique graphs, exact
dedup collapsing exactly the verbatim replicas, and the oversize-group
audit reporting (not silently dropping) capped bands.

The corpus is synthesized by a row-local explode of the documents
fixture (no new fixtures): see queries_r6.amplify_documents.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # e2e/replay file: driver-budget suite skips it (conftest hook)
from pyspark.sql import functions as F

from prod2vec_spark.operators.dedup import (
    exact_dup_groups,
    lsh_candidate_pairs,
    lsh_oversize_groups,
    minhash_bands,
    text_digest,
)
from prod2vec_spark.operators.graph import connected_components_with_rounds
from prod2vec_spark.queries.common import amplify_documents
from prod2vec_spark.queries.dedup import curation_stress
from prod2vec_spark.sources.io import read_table
from tests.conftest import SF_SMOKE

FACTOR = 10
EXACT_REPLICAS = 2


@pytest.fixture(scope="module")
def amplified(spark):
    docs = amplify_documents(
        read_table(spark, SF_SMOKE, "documents"),
        factor=FACTOR,
        exact_replicas=EXACT_REPLICAS,
    ).localCheckpoint()
    return docs


def test_amplification_shape(spark, amplified):
    base = read_table(spark, SF_SMOKE, "documents")
    assert amplified.count() == base.count() * FACTOR
    # ids stay unique and recoverable
    assert amplified.select("doc_id").distinct().count() == base.count() * FACTOR


def test_exact_dedup_collapses_exactly_the_verbatim_replicas(spark, amplified):
    """Survivor count == distinct base digests x (FACTOR - EXACT_REPLICAS
    + 1): the verbatim replicas collapse to one, each salted variant
    survives — known by construction, so the digest pass is checked
    against ground truth at 10x, not just for idempotence."""
    base = read_table(spark, SF_SMOKE, "documents")
    n_digests = (
        base.select(text_digest(F.col("text")).alias("h")).distinct().count()
    )
    keep = exact_dup_groups(amplified).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    n_survivors = amplified.join(keep, "doc_id", "left_semi").count()
    assert n_survivors == n_digests * (FACTOR - EXACT_REPLICAS + 1)


def test_cc_round_bound_holds_on_10x_candidate_graph(spark, amplified):
    """The scale claim: LSH candidate graphs are unions of near-cliques,
    so CC converges in ~diameter rounds INDEPENDENT of corpus size.
    At 10x the candidate graph is ~10x denser per component than the
    base fixture's — the bound must not grow."""
    keep = exact_dup_groups(amplified).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    survivors = amplified.join(keep, "doc_id", "left_semi")
    bands = minhash_bands(survivors, shingle_k=3)
    pairs = lsh_candidate_pairs(bands, max_group=64).localCheckpoint()
    assert pairs.count() > 0  # the salted variants must LSH-collide

    labels, rounds = connected_components_with_rounds(
        pairs, src="doc_a", dst="doc_b"
    )
    assert rounds <= 4, f"CC needed {rounds} rounds on the 10x graph"

    # every variant family that got candidate edges must cluster with
    # its own source doc (doc_id div FACTOR): same-source pairs are
    # near-identical by construction, so a cluster mixing zero
    # same-source members would mean LSH recall collapsed
    fam = labels.withColumn("src_doc", (F.col("node") / FACTOR).cast("long"))
    same_src_clusters = (
        fam.groupBy("comp")
        .agg(F.countDistinct("src_doc").alias("n_src"), F.count("*").alias("n"))
    )
    multi = same_src_clusters.filter(F.col("n") > 1).count()
    assert multi > 0  # variant families actually formed clusters


def test_oversize_audit_reports_capped_bands(spark, amplified):
    """With a cap below the variant-family size, families hit the cap
    and MUST show up in the audit — conservation between dropped
    groups and emitted pairs, never silent loss."""
    keep = exact_dup_groups(amplified).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    survivors = amplified.join(keep, "doc_id", "left_semi")
    bands = minhash_bands(survivors, shingle_k=3).localCheckpoint()

    cap = 4  # below the 9-member variant families
    dropped = lsh_oversize_groups(bands, cap)
    n_dropped = dropped.count()
    assert n_dropped > 0, "cap below family size must drop groups"
    assert dropped.filter(F.col("n_docs") <= cap).count() == 0

    # capped pairs must be a subset of uncapped pairs
    capped = lsh_candidate_pairs(bands, max_group=cap)
    uncapped = lsh_candidate_pairs(bands, max_group=None)
    assert capped.count() < uncapped.count()
    assert capped.exceptAll(uncapped).count() == 0


def test_curation_stress_stats_frame(spark):
    """The bench-facing entry returns a sane 1-row stats frame."""
    row = curation_stress(spark, SF_SMOKE, factor=FACTOR).first()
    # exact dedup must collapse AT LEAST the verbatim replica per doc
    assert (
        row["n_exact"]
        <= row["n_input"] * (FACTOR - EXACT_REPLICAS + 1) // FACTOR
    )
    assert row["n_exact"] < row["n_input"]
    assert row["n_clusters"] > 0
    assert row["cc_rounds"] <= 4
    assert row["n_clustered_docs"] >= row["n_clusters"]


def test_segment_dedup_holds_on_10x_corpus(spark, amplified):
    """CCNet segment dedup at 10x amplification: after the pass, NO
    boilerplate window survives — checked against ground truth by
    re-exploding the OUTPUT.  (Every window except the ragged tail is
    exactly ``width`` tokens, so dropping any subset and concatenating
    keeps the survivors aligned at width boundaries: the output
    explode reproduces exactly the surviving input windows.)"""
    from prod2vec_spark.operators.linedup import (
        exploded_segments,
        segment_dedup,
    )

    width, min_docs = 10, 2
    out = segment_dedup(amplified, width=width, min_docs=min_docs)
    # ground truth: input windows and their doc counts
    in_segs = exploded_segments(amplified, width)
    boiler = (
        in_segs.groupBy("seg_h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
    )
    out_segs = exploded_segments(
        out.where(F.col("kept_text") != ""), width, text_col="kept_text"
    )
    leaked = out_segs.join(boiler.select("seg_h"), "seg_h").count()
    assert leaked == 0, f"{leaked} boilerplate windows survived at 10x"
    # replicas exist at 10x → a substantial drop really happened
    agg = out.agg(
        F.sum("n_dropped").alias("d"), F.sum("n_segs").alias("t")
    ).first()
    assert agg["d"] > 0 and agg["d"] < agg["t"]


def test_lm_scoring_holds_on_10x_corpus(spark, amplified):
    """Bigram-LM scoring at 10x: every doc scores finite, the train
    split is non-degenerate, and replicas of the same text get the
    SAME score when they land on the same side of the split (the
    model is content-deterministic, not row-deterministic)."""
    from prod2vec_spark.operators.lm import lm_perplexity

    rep = lm_perplexity(amplified).localCheckpoint()
    n = rep.count()
    assert n > 0
    assert rep.where(F.col("ppl").isNull() | F.isnan("ppl")).count() == 0
    n_train = rep.where(F.col("is_train") == 1).count()
    assert 0 < n_train < n
    # same text + same split side => same (n_pairs, avg_nll)
    joined = (
        amplified.select("doc_id", F.md5("text").alias("h"))
        .join(rep, "doc_id")
        .groupBy("h", "is_train")
        .agg(F.count_distinct("avg_nll").alias("k"))
    )
    assert joined.where(F.col("k") > 1).count() == 0


def test_incremental_lsh_holds_on_10x_corpus(spark, amplified):
    """The incremental contract at 10x: treating 90% of the amplified
    corpus as the prior snapshot (band table precomputed and
    checkpointed — the 100 TB read-back shape) and 10% as the ingest
    batch, prior ∪ delta must equal the full-corpus rerun exactly, and
    the delta pass must touch only new-side signatures (asserted
    structurally: every delta pair involves a new id)."""
    from prod2vec_spark.operators.dedup import incremental_lsh_candidates

    old = amplified.where(F.col("doc_id") % 10 != 0)
    new = amplified.where(F.col("doc_id") % 10 == 0)
    old_bands = minhash_bands(old).localCheckpoint()  # "persisted" table

    full = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(minhash_bands(amplified)).collect()
    }
    prior = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(old_bands).collect()
    }
    delta = {
        (r["doc_a"], r["doc_b"])
        for r in incremental_lsh_candidates(old_bands, new).collect()
    }
    assert prior | delta == full
    assert not (delta & prior)
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert delta and all(a in new_ids or b in new_ids for a, b in delta)


def test_domain_cap_removes_skew_on_10x_corpus(spark, amplified):
    """Round-9 domain plane at 10x: the per-domain cap holds exactly
    (<= K kept per domain), the mega-domain's group shrinks from its
    amplified size to K, and the selection is deterministic — the
    operator that REMOVES mega-domain skew keeps doing so as the
    corpus grows."""
    from prod2vec_spark.operators.domains import attach_urls, domain_cap, with_domain

    docs = attach_urls(amplified.select("doc_id"))
    k = 25
    sizes = {
        r["domain"]: r["n"]
        for r in with_domain(docs)
        .groupBy("domain")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert max(sizes.values()) > 3 * k  # the skew is real pre-cap
    kept = domain_cap(docs, max_per_domain=k)
    kept_sizes = {
        r["domain"]: r["n"]
        for r in kept.groupBy("domain").agg(F.count("*").alias("n")).collect()
    }
    for d, n in sizes.items():
        assert kept_sizes.get(d, 0) == min(n, k), d
    # deterministic under re-evaluation
    a = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    b = sorted(
        r["doc_id"]
        for r in domain_cap(docs, max_per_domain=k).select("doc_id").collect()
    )
    assert a == b
    # skew-safety: the row set feeding the exact rank window is BOUNDED
    # per domain (~ K*safety + slack), not the mega-domain's raw size —
    # no task ever sorts 20% of the corpus inside the cap operator
    from prod2vec_spark.operators.domains import _domain_cap_prerank

    safety, slack = 2.0, 16
    prerank_sizes = {
        r["domain"]: r["n"]
        for r in _domain_cap_prerank(
            docs, k, prefilter_safety=safety, prefilter_slack=slack
        )
        .where(F.col("domain").isNotNull())
        .groupBy("domain")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    bound = k * safety + slack
    mega_domains = [d for d, n in sizes.items() if d is not None and n > bound]
    assert mega_domains  # the 10x corpus really has prefiltered domains
    for d in mega_domains:
        # binomial mean = bound; 3x the mean is far beyond any plausible
        # draw — the window partition never sees the raw domain size
        assert prerank_sizes[d] <= min(3 * bound, sizes[d]), (
            d,
            prerank_sizes[d],
            sizes[d],
        )
    # and the heaviest domain really was cut down, not just under bound
    heaviest = max(sizes, key=lambda d: sizes[d] if d is not None else -1)
    assert sizes[heaviest] > 3 * bound
    assert prerank_sizes[heaviest] < sizes[heaviest] / 2


def test_image_span_plane_holds_at_10x_fixture(spark):
    """Round-12 tile plane at 10x: the full 5000-image fixture (10x
    the sf0.001 doc range the oracle gate sees) through the SAME
    banded dataflow.  The 10x corpus EXPOSES the degenerate hot
    bucket: letterbox bar-straddling tiles have a constant half, so
    their top-rows (or bottom-rows) gradient band is 0 across ~4k
    UNRELATED images — a quadratic pair_expand group.  The designed
    valve is the max_group cap (the LSH text plane's): capping the
    hot bucket loses NO planted family, because an aligned duplicate
    tile pair matches on its noise-half bands too (pigeonhole over
    the remaining bands), which land in family-sized buckets.  All
    2500 families recover under the cap; every pair is within-family.
    """
    from prod2vec_spark.operators import phash as PH
    from prod2vec_spark.queries.common import _image_fixture_path
    from prod2vec_spark.operators.phash import UNIT_ID_BASE
    from prod2vec_spark.queries.media import MIN_SHARED

    tiles = spark.read.parquet(_image_fixture_path()).select(
        (F.col("doc_id") * F.lit(UNIT_ID_BASE) + F.col("tile_idx")).alias(
            "tid"
        ),
        "thash",
    )
    assert tiles.count() > 100_000  # genuinely 10x the oracle slice

    # the hot bucket is real at 10x: half-constant straddle tiles of
    # unrelated letterbox images share a zero gradient band
    sigs = tiles.select(
        "tid",
        F.explode(F.array(*PH.band_structs(F.col("thash"), 4))).alias("bs"),
    )
    groups = sigs.groupBy("bs.band", "bs.slice").agg(F.count("*").alias("n"))
    assert groups.agg(F.max("n")).first()[0] > 1000  # degenerate bucket
    # ...and every bucket OTHER than the structural zero-slice ones is
    # family-sized (md5-noise tiles only collide when aligned dups)
    benign_max = (
        groups.where(F.col("slice") != 0).agg(F.max("n")).first()[0]
    )
    assert benign_max <= 128, benign_max

    pairs = PH.phash_neardup(
        tiles, id_col="tid", hash_col="thash", max_distance=3, max_group=256
    )
    img_a = F.floor(F.col("id_a") / F.lit(UNIT_ID_BASE)).cast("long")
    img_b = F.floor(F.col("id_b") / F.lit(UNIT_ID_BASE)).cast("long")
    rolled = (
        pairs.select(img_a.alias("ia"), img_b.alias("ib"))
        .where(F.col("ia") != F.col("ib"))
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= MIN_SHARED)
        .collect()
    )
    fams = {r["id_a"] // 2 for r in rolled}
    assert fams == set(range(2500))  # every family, even under the cap
    assert all(r["id_a"] // 2 == r["id_b"] // 2 for r in rolled)


def test_audio_span_plane_holds_at_10x_fixture(spark):
    """Round-13 window plane at 10x: the full 5000-clip fixture (10x
    the sf0.001 doc range the oracle gate sees) through the SAME
    banded dataflow.  Unlike the tile plane, the window plane has NO
    structural degenerate bucket at 10x — digital silence is skipped
    at the hash step (the constant-window rule) and the md5-seeded
    envelopes are full-entropy, so the largest (band, slice) bucket
    stays family-sized; all 2500 embedded-jingle families recover
    across the PCM<->ADPCM boundary with zero cross-family pairs even
    UNCAPPED.
    """
    from prod2vec_spark.operators import phash as PH
    from prod2vec_spark.queries.common import _audio_fixture_path
    from prod2vec_spark.operators.phash import UNIT_ID_BASE
    from prod2vec_spark.queries.media import AUDIO_MIN_SHARED

    wins = spark.read.parquet(_audio_fixture_path()).select(
        (F.col("doc_id") * F.lit(UNIT_ID_BASE) + F.col("win_idx")).alias(
            "wid"
        ),
        "whash",
    )
    assert wins.count() > 45_000  # genuinely 10x the oracle slice

    # no degenerate bucket: max group stays family-sized (the silence
    # skip + full-entropy envelopes leave nothing structural to share)
    sigs = wins.select(
        "wid",
        F.explode(F.array(*PH.band_structs(F.col("whash"), 4))).alias("bs"),
    )
    groups = sigs.groupBy("bs.band", "bs.slice").agg(F.count("*").alias("n"))
    assert groups.agg(F.max("n")).first()[0] <= 128

    pairs = PH.phash_neardup(
        wins, id_col="wid", hash_col="whash", max_distance=3
    )
    clip_a = F.expr(f"id_a div {UNIT_ID_BASE}").cast("long")
    clip_b = F.expr(f"id_b div {UNIT_ID_BASE}").cast("long")
    rolled = (
        pairs.select(clip_a.alias("ca"), clip_b.alias("cb"))
        .where(F.col("ca") != F.col("cb"))
        .select(
            F.least("ca", "cb").alias("id_a"),
            F.greatest("ca", "cb").alias("id_b"),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= AUDIO_MIN_SHARED)
        .collect()
    )
    fams = {r["id_a"] // 2 for r in rolled}
    assert fams == set(range(2500))
    assert all(r["id_a"] // 2 == r["id_b"] // 2 for r in rolled)
