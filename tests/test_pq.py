"""Round-11: product-quantization ANN (operators/simsearch.py:
pq_codebooks / pq_encode / pq_topk) — ADC correctness against a numpy
reference, planted-family recall through the exact-re-rank stage, and
the zero-shuffle encode plan shape.  Mirrors test_ann_scale_stress's
amplified-corpus strategy."""

from __future__ import annotations

import numpy as np
import pytest

pytestmark = pytest.mark.slow  # e2e/replay file: driver-budget suite skips it (conftest hook)
from pyspark.sql import functions as F

from prod2vec_spark.operators import simsearch as SS
from prod2vec_spark.operators.simsearch import l2_norm
from prod2vec_spark.sources.io import read_table
from tests.conftest import SF_SMOKE
from tests.test_ann_scale_stress import FACTOR, PROBE_BASE_IDS, amplify_embeddings

DIMS = 64


def _emb(spark):
    # spread=False: the encode shuffle-free lock below asserts the
    # OPERATOR's plan; the input-parallelism floor (io.spread_scan) is
    # input-layer and absent at scale
    return read_table(spark, SF_SMOKE, "embeddings", spread=False)


def test_pq_codebooks_shape_and_determinism(spark):
    cbs = SS.pq_codebooks(_emb(spark), DIMS, m=4, n_codes=8)
    assert len(cbs) == 4
    assert all(len(cb) == 8 for cb in cbs)
    assert all(len(cw) == 16 for cb in cbs for cw in cb)
    # codewords are slices of UNIT vectors: per-sample norms sum to 1
    for j in range(8):
        assert sum(
            sum(c * c for c in cbs[mi][j]) for mi in range(4)
        ) == pytest.approx(1.0)
    assert SS.pq_codebooks(_emb(spark), DIMS, m=4, n_codes=8) == cbs


def test_pq_encode_codebook_sources_encode_to_themselves(spark):
    """A sampled codebook-source vector's subspace slices ARE codewords
    j, so it must encode to [j]*m exactly (dist 0, strict-< tiebreak)."""
    emb = _emb(spark)
    cbs = SS.pq_codebooks(emb, DIMS, m=4, n_codes=8)
    sampled = (
        emb.where(l2_norm(F.col("embedding")) > 0)
        .orderBy(
            F.md5(F.concat_ws("|", F.lit("pq"), F.col("vec_id"))), F.col("vec_id")
        )
        .limit(8)
        .collect()
    )
    ids = [r["vec_id"] for r in sampled]
    got = {
        r["vec_id"]: list(r["codes"])
        for r in SS.pq_encode(emb, cbs)
        .where(F.col("vec_id").isin(ids))
        .collect()
    }
    for j, vid in enumerate(ids):
        assert got[vid] == [j] * 4, (vid, j, got[vid])


def test_pq_encode_matches_numpy_and_is_shuffle_free(spark):
    emb = _emb(spark)
    cbs = SS.pq_codebooks(emb, DIMS, m=4, n_codes=8)
    codes_df = SS.pq_encode(emb, cbs)
    # plan shape: encode is ONE map pass — no Exchange anywhere
    plan = codes_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    codes = {r["vec_id"]: list(r["codes"]) for r in codes_df.collect()}
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    CB = [np.asarray(cb) for cb in cbs]
    for vid in list(codes)[:64]:
        u = vecs[vid] / np.linalg.norm(vecs[vid])
        ref = [
            int(np.argmin(((CB[mi] - u[mi * 16 : (mi + 1) * 16]) ** 2).sum(1)))
            for mi in range(4)
        ]
        assert codes[vid] == ref, vid


def test_pq_adc_matches_numpy_reference(spark):
    """The per-pair ADC score is exactly Σ_mi <q_mi, codeword(codes[mi])>
    — the LUT path must agree with a direct numpy evaluation (this is
    the regression test for the nested-HOF lambda mis-binding the
    original transform()-built LUT hit)."""
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") < 3)
    cbs = SS.pq_codebooks(emb, DIMS, m=4, n_codes=8)
    codes = {r["vec_id"]: list(r["codes"]) for r in SS.pq_encode(emb, cbs).collect()}
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    CB = [np.asarray(cb) for cb in cbs]

    def ref_adc(qid, nid):
        u = vecs[qid] / np.linalg.norm(vecs[qid])
        return sum(
            float(CB[mi][codes[nid][mi]] @ u[mi * 16 : (mi + 1) * 16])
            for mi in range(4)
        )

    rows = SS.pq_topk(emb, q, dims=DIMS, k=5, codebooks=cbs).collect()
    assert len(rows) == 15
    for r in rows:
        assert r["pq_sim"] == pytest.approx(
            ref_adc(r["query_id"], r["neighbor_id"]), abs=1e-5
        )


def test_pq_refine_recovers_planted_families(spark):
    """On the amplified corpus (each vector's 9 jittered siblings are
    its true neighbors), ADC+exact-re-rank recall@5 vs brute force is
    ≥0.9 with m=8/16 codes/refine=8 (measured 1.0), and the refine
    stage strictly improves on raw ADC with the same codebooks."""
    corpus = amplify_embeddings(_emb(spark)).localCheckpoint()
    probes = corpus.where(
        F.col("vec_id").isin([b * FACTOR for b in PROBE_BASE_IDS])
    )
    exact = SS.brute_force_topk(corpus, probes, k=5).localCheckpoint()
    denom = 5 * len(PROBE_BASE_IDS)

    def recall(df):
        return (
            exact.join(
                df.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_semi",
            ).count()
            / denom
        )

    cbs = SS.pq_codebooks(corpus, DIMS, m=8, n_codes=16)
    r_adc = recall(SS.pq_topk(corpus, probes, dims=DIMS, k=5, codebooks=cbs))
    r_ref = recall(
        SS.pq_topk(corpus, probes, dims=DIMS, k=5, refine=8, codebooks=cbs)
    )
    assert r_ref >= 0.9, f"PQ refine recall@5 = {r_ref}"
    assert r_ref >= r_adc
    # refined output carries the EXACT cosine column, not pq_sim
    cols = SS.pq_topk(
        corpus, probes, dims=DIMS, k=5, refine=8, codebooks=cbs
    ).columns
    assert "cosine_sim" in cols and "pq_sim" not in cols


def test_pq_zero_vectors_excluded_everywhere(spark):
    emb = _emb(spark).limit(50)
    zero = spark.createDataFrame(
        [(9999, [0.0] * DIMS)], "vec_id long, embedding array<double>"
    )
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>")).union(
        zero
    )
    cbs = SS.pq_codebooks(corpus, DIMS, m=4, n_codes=8)
    codes = SS.pq_encode(corpus, cbs)
    assert codes.where(F.col("vec_id") == 9999).count() == 0
    out = SS.pq_topk(
        corpus, corpus.where(F.col("vec_id").isin([9999, 0])), dims=DIMS,
        k=3, codebooks=cbs,
    )
    got = out.select("query_id").distinct().collect()
    assert [r["query_id"] for r in got] == [0]  # zero query dropped
    assert out.where(F.col("neighbor_id") == 9999).count() == 0


def test_pq_rejects_bad_dims(spark):
    with pytest.raises(ValueError, match="not divisible"):
        SS.pq_codebooks(_emb(spark), DIMS, m=5)


def test_ivfpq_refine_recovers_planted_families(spark):
    """The composed IVF+PQ layout: cells prune candidates, ADC scores
    codes, exact re-rank restores recall ≥0.9 (measured 1.0) on the
    planted-family corpus — and raw ADC recall can only improve
    through refine."""
    corpus = amplify_embeddings(_emb(spark)).localCheckpoint()
    probes = corpus.where(
        F.col("vec_id").isin([b * FACTOR for b in PROBE_BASE_IDS])
    )
    exact = SS.brute_force_topk(corpus, probes, k=5).localCheckpoint()
    denom = 5 * len(PROBE_BASE_IDS)

    def recall(df):
        return (
            exact.join(
                df.select("query_id", "neighbor_id"),
                ["query_id", "neighbor_id"],
                "left_semi",
            ).count()
            / denom
        )

    cbs = SS.pq_codebooks(corpus, DIMS, m=8, n_codes=16)
    r_adc = recall(
        SS.ivf_pq_topk(
            corpus, probes, dims=DIMS, k=5, n_centroids=16, nprobe=4,
            codebooks=cbs,
        )
    )
    r_ref = recall(
        SS.ivf_pq_topk(
            corpus, probes, dims=DIMS, k=5, n_centroids=16, nprobe=4,
            refine=8, codebooks=cbs,
        )
    )
    assert r_ref >= 0.9, f"IVFPQ refine recall@5 = {r_ref}"
    assert r_ref >= r_adc


def test_pq_encode_streams_and_is_incremental(spark, tmp_path):
    """pq_encode is stateless and row-local, so the scale contracts
    hold by construction and are locked here: (a) the SAME call
    applies to a structured stream unchanged and matches batch output
    exactly; (b) with fixed codebooks, encoding crawl deltas and
    unioning equals the full re-run (full == prior ∪ delta) — the PQ
    code table is append-only across snapshots, nothing re-encodes."""
    emb = _emb(spark).limit(60).localCheckpoint()
    cbs = SS.pq_codebooks(emb, DIMS, m=4, n_codes=8)
    batch = {
        r["vec_id"]: list(r["codes"]) for r in SS.pq_encode(emb, cbs).collect()
    }

    src = tmp_path / "src"
    emb.write.parquet(str(src))
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>, label int"
    ).parquet(str(src))
    out_dir, ckpt = str(tmp_path / "codes"), str(tmp_path / "ckpt")
    q = (
        SS.pq_encode(stream, cbs)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert streamed == batch

    prior = emb.where(F.col("vec_id") % 2 == 0)
    delta = emb.where(F.col("vec_id") % 2 == 1)
    unioned = {
        r["vec_id"]: list(r["codes"])
        for r in SS.pq_encode(prior, cbs)
        .unionByName(SS.pq_encode(delta, cbs))
        .collect()
    }
    assert unioned == batch


def test_ivfpq_candidates_are_ivf_cell_restricted(spark):
    """Same 'ivf' seed protocol as ivf_topk → identical cells: every
    IVFPQ neighbor must come from the query's nprobe probed cells, and
    the plan is broadcast-equi-join shaped (no cartesian product)."""
    emb = _emb(spark)
    probes = emb.filter(F.col("vec_id") < 5)
    out = SS.ivf_pq_topk(
        emb, probes, dims=DIMS, k=5, n_centroids=8, nprobe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan
    # the IVF candidate set with the same (n_centroids, nprobe) is a
    # superset of IVFPQ's output pairs (same cells, different scorer)
    ivf_all = SS.ivf_topk(
        emb, probes, dims=DIMS, k=10**6, n_centroids=8, nprobe=2
    )
    extra = out.select("query_id", "neighbor_id").exceptAll(
        ivf_all.select("query_id", "neighbor_id")
    )
    assert extra.count() == 0


def test_ivfpq_index_roundtrip_reproduces_topk(spark, tmp_path):
    """Round-16 (VERDICT r15 ask #6): IvfPqIndex.fit → save → load →
    topk reproduces ivf_pq_topk row-for-row — with and without the
    exact re-rank (the refine path re-reads the raw corpus, which the
    index deliberately does not duplicate)."""
    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") < 3)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    idx = SS.IvfPqIndex.fit(emb, DIMS, n_centroids=8, m=4, n_codes=8)
    idx.save(str(tmp_path / "ivfpq"))
    loaded = SS.IvfPqIndex.load(spark, str(tmp_path / "ivfpq"))
    assert loaded.dims == DIMS and loaded.cents == idx.cents
    assert loaded.cbs == idx.cbs

    want_adc = SS.ivf_pq_topk(emb, queries, DIMS, k=5, nprobe=2)
    assert rows(loaded.topk(queries, k=5, nprobe=2)) == rows(want_adc)

    want_ref = SS.ivf_pq_topk(emb, queries, DIMS, k=5, nprobe=2, refine=3)
    got_ref = loaded.topk(queries, k=5, nprobe=2, refine=3, corpus=emb)
    assert rows(got_ref) == rows(want_ref)
    # refine without the raw corpus is a structural error, not silence
    with pytest.raises(ValueError, match="raw-vector corpus"):
        loaded.topk(queries, k=5, refine=3)


def test_ivfpq_index_incremental_ingest(spark, tmp_path):
    """ingest() encodes ONLY new vectors with the FROZEN quantizers:
    the union index equals encoding the union corpus with the stored
    quantizers (archive never re-encoded, assignments comparable),
    and newly ingested vectors are probe-visible."""
    emb = _emb(spark)
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)
    idx = SS.IvfPqIndex.fit(old, DIMS, n_centroids=8, m=4, n_codes=8)
    grown = idx.ingest(new)
    # quantizers frozen
    assert grown.cents == idx.cents and grown.cbs == idx.cbs
    # union codes table == one-shot encode of the union with the
    # STORED quantizers (not a re-fit)
    want = SS._ivfpq_encode(emb, idx.cents, idx.cbs, "vec_id", "embedding")
    got = grown.enc
    key = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["cid"], tuple(r["codes"])) for r in df.collect()
    )
    assert key(got) == key(want)
    # survives a save/load cycle and the new vectors are probe-visible
    grown.save(str(tmp_path / "grown"))
    reloaded = SS.IvfPqIndex.load(spark, str(tmp_path / "grown"))
    res = reloaded.topk(emb.where(F.col("vec_id") == 1), k=8, nprobe=8)
    neighbors = {r["neighbor_id"] for r in res.collect()}
    assert any(n % 2 == 1 for n in neighbors), "ingested vectors invisible"
