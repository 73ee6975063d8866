"""Dedup and graph queries: exact digests, document sketches,
MinHash/LSH banding and candidate pairs, connected-component
clusters, sketch-accuracy and cross-modal audits, winnowing and
segment/sentence span dedup, semantic and embedding near-dups,
canonical survivors, snapshot diffs, URL canonicalisation and
benchmark decontamination (exact n-gram and fuzzy MinHash)."""

from __future__ import annotations

from pyspark.sql import functions as F

from prod2vec_spark.operators import dedup as DD
from prod2vec_spark.operators import simsearch as SS
from prod2vec_spark.operators import text as TX
from prod2vec_spark.operators.domains import TRACKING_PARAM_RE as TRACKING_RE_SQL
from prod2vec_spark.queries.common import (
    LSH_MAX_GROUP,
    _DOT,
    _L2,
    _SENT_PAT,
    _SQL_MINHASH,
    _SQL_SENT_CORPUS,
    _SQL_SHINGLES3,
    _TOKS,
    _UNIT,
    amplify_documents,
    register,
    sentence_corpus,
)
from prod2vec_spark.sources.io import read_table


# ---------------------------------------------------------- fingerprint
def q_fingerprint(spark, sf_dir):
    """Rolling polynomial hash fingerprint per document."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fp"))


SQL_FINGERPRINT = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(toks, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % 2147483647)),
    (a, b) -> (a * 131 + b) % 2147483647) AS fp
FROM t
"""

register(q_fingerprint, SQL_FINGERPRINT)


# -------------------------------------------------------------- simhash
def q_simhash(spark, sf_dir):
    """32-bit SimHash per document, fully row-local."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.simhash32(F.col("text")).alias("simhash"))


SQL_SIMHASH = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id,
        list_transform(toks, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
      FROM t),
v AS (SELECT doc_id,
        list_transform(generate_series(0, 31), b ->
          list_sum(list_transform(hs, x -> ((x >> b) & 1) * 2 - 1))) AS vs
      FROM h)
SELECT doc_id,
  CAST(list_sum(list_transform(generate_series(0, 31), b ->
    CASE WHEN vs[b + 1] > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
FROM v
"""

register(q_simhash, SQL_SIMHASH)


# ----------------------------------------------------------- exact dedup
def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups by normalized-content digest."""
    docs = read_table(spark, sf_dir, "documents")
    return DD.exact_dup_groups(docs)


SQL_DEDUP_EXACT = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS text_hash,
       count(*) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""

register(q_dedup_exact, SQL_DEDUP_EXACT)


# -------------------------------------------------------- minhash bands
def q_minhash_bands(spark, sf_dir):
    """MinHash LSH band signatures (8 hashes, 2 bands of 4) over word
    3-shingles."""
    docs = read_table(spark, sf_dir, "documents")
    return DD.minhash_bands(docs)


SQL_MINHASH_BANDS = f"""
WITH {_SQL_SHINGLES3},
{_SQL_MINHASH}
SELECT doc_id, band_id, band_sig FROM bands
"""

register(q_minhash_bands, SQL_MINHASH_BANDS)


def q_lsh_candidates(spark, sf_dir):
    """Near-dup candidate pairs: docs sharing a MinHash band, with the
    degenerate-band group cap applied (oracle replays the cap)."""
    docs = read_table(spark, sf_dir, "documents")
    return DD.lsh_candidate_pairs(DD.minhash_bands(docs), max_group=LSH_MAX_GROUP)


SQL_LSH_CANDIDATES = f"""
WITH {_SQL_SHINGLES3},
{_SQL_MINHASH},
eligible AS (
  SELECT band_id, band_sig FROM bands
  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {LSH_MAX_GROUP})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN eligible e ON a.band_id = e.band_id AND a.band_sig = e.band_sig
JOIN bands b
  ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
"""

register(q_lsh_candidates, SQL_LSH_CANDIDATES)


# ------------------------------------------------------ n-gram jaccard
def q_ngram_jaccard(spark, sf_dir):
    """Exact pairwise Jaccard over word bigram shingles (document
    frequency ≤ 100 — common-gram filtered), pairs ≥ 0.05."""
    docs = read_table(spark, sf_dir, "documents")
    return DD.jaccard_pairs(docs, shingle_k=2, threshold=0.05, max_df=100)


SQL_NGRAM_JACCARD = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
        generate_series(1, greatest(len(toks) - 1, 0)),
        i -> toks[i] || ' ' || toks[i+1]))) AS shingle
      FROM t),
s AS (SELECT doc_id, shingle FROM s0
      WHERE shingle NOT IN (SELECT shingle FROM s0 GROUP BY 1 HAVING count(*) > 100)),
sz AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_inter,
       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 5) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 5) >= 0.05
"""

register(q_ngram_jaccard, SQL_NGRAM_JACCARD)


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via BANDED sign-LSH (4 bands ×
    4 planes, OR-over-bands): equi-join candidates on the band
    signature, exact unit-vector cosine ≥ 0.4 confirms.  Fully
    deterministic (md5-derived hyperplanes) — the oracle replays the
    identical banding and arithmetic."""
    from prod2vec_spark.operators.simsearch import embedding_neardup

    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_neardup(
        emb,
        dims=64,
        threshold=0.4,
        bands=4,
        planes_per_band=4,
        min_parallelism=spark.sparkContext.defaultParallelism,
    )


def _sql_neardup() -> str:
    from prod2vec_spark.operators.simsearch import deterministic_planes

    planes = deterministic_planes(64, 16)
    sig_selects = []
    for b in range(4):
        terms = []
        for p in range(4):
            lits = ", ".join(repr(c) for c in planes[b * 4 + p])
            d = (
                "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
                f"list_transform(generate_series(1, 64), i -> nvec[i]::DOUBLE * ([{lits}])[i])), "
                "(x, y) -> x + y)"
            )
            terms.append(
                f"(CASE WHEN ({d}) > 0 THEN {1 << p}::BIGINT ELSE 0::BIGINT END)"
            )
        sig_selects.append(
            f"SELECT vec_id, nvec, {b} AS band, ({' + '.join(terms)}) AS sig FROM n"
        )
    sigs = " UNION ALL ".join(sig_selects)
    pair_dot = _DOT.format(a="na.nvec", b="nb.nvec")
    return f"""
WITH n AS (SELECT vec_id, {_UNIT.format(a='embedding')} AS nvec FROM embeddings),
s AS ({sigs}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM s a JOIN s b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id),
p AS (
  SELECT vec_a, vec_b, round({pair_dot}, 5) AS cosine_sim
  FROM cand JOIN n na ON na.vec_id = vec_a JOIN n nb ON nb.vec_id = vec_b)
SELECT vec_a, vec_b, cosine_sim FROM p WHERE cosine_sim >= 0.4
"""


register(q_embedding_neardup, _sql_neardup())


# ------------------------------------------------- dedup clusters (LLM)
def q_dedup_clusters(spark, sf_dir):
    """Full near-dup pipeline: minhash bands -> LSH candidate pairs ->
    connected components -> (doc_id, cluster_id, is_canonical).  The
    component id is the cluster's min doc_id (deterministic); the
    canonical doc is the one a dedup pass keeps.  CC is min-label
    propagation — 2 shuffles/round, rounds = graph diameter (~2 for
    LSH near-clique clusters), lineage broken per round
    (operators/graph.py scale notes)."""
    from prod2vec_spark.operators import dedup as DD
    from prod2vec_spark.operators import graph as GR

    docs = read_table(spark, sf_dir, "documents")
    pairs = DD.lsh_candidate_pairs(DD.minhash_bands(docs), max_group=LSH_MAX_GROUP)
    return GR.dedup_clusters(pairs)


def _sql_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE {_SQL_SHINGLES3},
{_SQL_MINHASH},
eligible AS (
  SELECT band_id, band_sig FROM bands
  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {LSH_MAX_GROUP}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN eligible e ON a.band_id = e.band_id AND a.band_sig = e.band_sig
  JOIN bands b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
r(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM e)
  UNION
  SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)
SELECT a AS doc_id, min(b) AS cluster_id,
       CAST(a = min(b) AS INT) AS is_canonical
FROM r GROUP BY a
"""


register(q_dedup_clusters, _sql_dedup_clusters())


# ---------------------------------------------- MinHash jaccard audit
NUM_HASHES = 8


def q_minhash_jaccard_audit(spark, sf_dir):
    """Sketch-accuracy audit (the dedup-plane companion of ann_recall):
    for every LSH candidate pair, MinHash-estimated Jaccard = matching
    signature positions / num_hashes, next to the EXACT Jaccard over
    the identical distinct word-3-shingle sets, plus |error|.

    Scale shape: the signature+shingle table is materialized once
    (localCheckpoint — one corpus pass feeds both the banding and the
    estimate); candidate pairs are an output of the already-bucketed
    LSH operator and are orders of magnitude smaller than the corpus,
    so they BROADCAST into two streaming joins against the
    materialized table — the exact-Jaccard verify never self-joins the
    corpus."""
    from prod2vec_spark.operators import dedup as DD
    from prod2vec_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    sigs = DD.minhash_sigs(docs, keep_shingles=True).localCheckpoint(eager=True)
    cand = DD.lsh_candidate_pairs(
        DD.bands_from_sigs(sigs.drop("_sh")), max_group=LSH_MAX_GROUP
    )
    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("_sh").alias("sh_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(NUM_HASHES)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("_sh").alias("sh_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(NUM_HASHES)],
    )
    step1 = a.join(F.broadcast(cand), "doc_a")
    pairs = b.join(F.broadcast(step1), "doc_b")
    n_match = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(NUM_HASHES)
    )
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    n_union = F.size(F.array_union("sh_a", "sh_b"))
    exact = n_inter.cast("double") / n_union
    est = n_match / F.lit(float(NUM_HASHES))
    return pairs.select(
        "doc_a",
        "doc_b",
        n_match.alias("n_match"),
        F.round(est, 5).alias("est_jaccard"),
        F.round(exact, 5).alias("exact_jaccard"),
        F.round(F.abs(est - exact), 5).alias("abs_err"),
    )


def _sql_minhash_jaccard_audit() -> str:
    match_terms = " + ".join(
        f"CAST(ma.mh{j} = mb.mh{j} AS INT)" for j in range(NUM_HASHES)
    )
    return f"""
WITH {_SQL_SHINGLES3},
{_SQL_MINHASH},
eligible AS (
  SELECT band_id, band_sig FROM bands
  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {LSH_MAX_GROUP}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN eligible e ON a.band_id = e.band_id AND a.band_sig = e.band_sig
  JOIN bands b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
det AS (
  SELECT doc_a, doc_b,
         ({match_terms}) AS n_match,
         len(list_intersect(sa.sh, sb.sh)) AS n_inter,
         len(list_distinct(list_concat(sa.sh, sb.sh))) AS n_union
  FROM pairs
  JOIN mh ma ON ma.doc_id = doc_a
  JOIN mh mb ON mb.doc_id = doc_b
  JOIN sh3 sa ON sa.doc_id = doc_a
  JOIN sh3 sb ON sb.doc_id = doc_b)
SELECT doc_a, doc_b, CAST(n_match AS INT) AS n_match,
       round(n_match / {float(NUM_HASHES)}, 5) AS est_jaccard,
       round(CAST(n_inter AS DOUBLE) / n_union, 5) AS exact_jaccard,
       round(abs(n_match / {float(NUM_HASHES)} - CAST(n_inter AS DOUBLE) / n_union), 5) AS abs_err
FROM det
"""


register(q_minhash_jaccard_audit, _sql_minhash_jaccard_audit())


# ----------------------------------------------------- doc signatures
def q_doc_signatures(spark, sf_dir):
    """Document-identity sketches in one scan: rolling polynomial-hash
    fingerprint + 32-bit SimHash.  Row-local."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.simhash32(F.col("text")).alias("simhash"),
    )


def _sql_doc_signatures() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
h AS (SELECT doc_id, toks,
        list_transform(toks, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
      FROM t),
v AS (SELECT doc_id, toks, hs,
        list_transform(generate_series(0, 31), b ->
          list_sum(list_transform(hs, x -> ((x >> b) & 1) * 2 - 1))) AS vs
      FROM h)
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(toks, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % 2147483647)),
    (a, b) -> (a * 131 + b) % 2147483647) AS fp,
  CAST(list_sum(list_transform(generate_series(0, 31), b ->
    CASE WHEN vs[b + 1] > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
FROM v
"""


register(q_doc_signatures, _sql_doc_signatures())


# ---------------------------------------------- LSH oversize audit
AUDIT_GROUP_CAP = 2  # low cap so the sf0.01 corpus actually trips it


def q_lsh_oversize_groups(spark, sf_dir):
    """The degenerate-band audit (operators/dedup.lsh_oversize_groups)
    as an oracle-checked query: the (band, signature) groups a
    ``max_group`` cap would DROP, with their cardinality — so a 100 TB
    dedup run reports lost-recall candidates instead of silently
    skipping them.  Uses a deliberately low cap so the testdata
    produces rows; the production cap (64) rarely trips at small SF."""
    from prod2vec_spark.operators import dedup as DD

    docs = read_table(spark, sf_dir, "documents")
    return DD.lsh_oversize_groups(DD.minhash_bands(docs), max_group=AUDIT_GROUP_CAP)


def _sql_lsh_oversize_groups() -> str:
    return f"""
WITH {_SQL_SHINGLES3},
{_SQL_MINHASH}
SELECT band_id, band_sig, count(*) AS n_docs
FROM bands GROUP BY 1, 2 HAVING count(*) > {AUDIT_GROUP_CAP}
"""


register(q_lsh_oversize_groups, _sql_lsh_oversize_groups())


# ------------------------------------------ cross-modal agreement
def q_neardup_modal_agreement(spark, sf_dir):
    """Cross-modal dedup agreement audit (capstone of the audit
    family): the testdata's doc_id and vec_id spaces align 1:1, so the
    TEXT near-dup candidates (MinHash LSH over 3-shingles) and the
    EMBEDDING near-dup pairs (banded sign-LSH + cosine ≥ 0.4) describe
    the same corpus through two modalities — this query measures how
    much they agree: pair counts per modality, the intersection, and
    the Jaccard of the two pair sets.

    Scale shape: both inputs are the OUTPUTS of already-bucketed
    operators (candidate pair lists, orders of magnitude smaller than
    the corpus); the agreement join runs on those lists only."""
    docs = read_table(spark, sf_dir, "documents")
    txt = DD.lsh_candidate_pairs(
        DD.minhash_bands(docs), max_group=LSH_MAX_GROUP
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    emb = q_embedding_neardup(spark, sf_dir).select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b")
    )
    both = txt.join(emb, ["a", "b"])
    nt = txt.agg(F.count(F.lit(1)).alias("n_text_pairs"))
    ne = emb.agg(F.count(F.lit(1)).alias("n_emb_pairs"))
    nb = both.agg(F.count(F.lit(1)).alias("n_both"))
    return (
        nt.crossJoin(ne)
        .crossJoin(nb)
        .select(
            "n_text_pairs",
            "n_emb_pairs",
            "n_both",
            F.round(
                F.col("n_both")
                / F.nullif(
                    (F.col("n_text_pairs") + F.col("n_emb_pairs") - F.col("n_both")).cast(
                        "double"
                    ),
                    F.lit(0.0),
                ),
                5,
            ).alias("pair_jaccard"),
        )
    )


def _sql_neardup_modal_agreement() -> str:
    return f"""
WITH t AS (SELECT doc_a AS a, doc_b AS b FROM ({SQL_LSH_CANDIDATES})),
e AS (SELECT vec_a AS a, vec_b AS b FROM ({_sql_neardup()})),
m AS (SELECT (SELECT count(*) FROM t) AS n_text_pairs,
             (SELECT count(*) FROM e) AS n_emb_pairs,
             (SELECT count(*) FROM t JOIN e USING (a, b)) AS n_both)
SELECT n_text_pairs, n_emb_pairs, n_both,
       round(CAST(n_both AS DOUBLE)
             / nullif(CAST(n_text_pairs + n_emb_pairs - n_both AS DOUBLE), 0), 5)
         AS pair_jaccard
FROM m
"""


register(q_neardup_modal_agreement, _sql_neardup_modal_agreement())


def curation_stress(spark, sf_dir, factor: int = 10, max_group: int = 64):
    """End-to-end exact-dedup → MinHash/LSH → connected-components run
    over the ``factor``x amplified corpus; returns a 1-row stats frame
    (every count a full-pipeline side effect, so a noop write of this
    frame times the whole dataflow).

    This is the 100 TB curation shape exercised at a candidate graph
    ~factor² denser than the base fixture: exact groups of
    2x the base multiplicity, LSH bands whose near-clique components
    have (factor-1) members, and a CC pass whose round bound must hold
    regardless (near-cliques converge in ~2 rounds independent of
    corpus size — that's the scale claim, asserted in
    tests/test_scale_stress.py and timed per-round in bench.py as
    ``__curation10x__``)."""
    from prod2vec_spark.operators.dedup import (
        exact_dup_groups,
        lsh_candidate_pairs,
        lsh_oversize_groups,
        minhash_bands,
    )
    from prod2vec_spark.operators.graph import connected_components_with_rounds

    docs = amplify_documents(read_table(spark, sf_dir, "documents"), factor=factor)
    n_input = docs.count()

    keep = exact_dup_groups(docs).select(F.col("keep_doc_id").alias("doc_id"))
    survivors = docs.join(keep, "doc_id", "left_semi")
    n_exact = survivors.count()

    # the band table feeds BOTH the
    # candidate-pair leg and the oversize audit — without a break the
    # shingle+minhash signature pass re-runs per consumer over the
    # amplified corpus.  localCheckpoint (lazy — the audit count below
    # materializes it) is the in-query analogue of the DAG's persisted
    # bands parquet; results unchanged.
    bands = minhash_bands(survivors, shingle_k=3).localCheckpoint(eager=False)
    pairs = lsh_candidate_pairs(bands, max_group=max_group)
    n_dropped_groups = lsh_oversize_groups(bands, max_group).count()

    labels, rounds = connected_components_with_rounds(
        pairs, src="doc_a", dst="doc_b"
    )
    clusters = labels.agg(
        F.countDistinct("comp").alias("n_clusters"),
        F.count(F.lit(1)).alias("n_clustered_docs"),
    ).first()

    return spark.createDataFrame(
        [
            (
                n_input,
                n_exact,
                n_dropped_groups,
                clusters["n_clusters"],
                clusters["n_clustered_docs"],
                rounds,
            )
        ],
        "n_input long, n_exact long, n_dropped_groups long, "
        "n_clusters long, n_clustered_docs long, cc_rounds long",
    )


def q_curation_stress_audit(spark, sf_dir):
    """The COMPOSED 10x curation pipeline under a full oracle verdict:
    where each stage (dedup_exact, minhash_bands, lsh_candidates,
    dedup_clusters) is individually oracled, this entry certifies their
    10x-amplified composition end-to-end — DuckDB replays the
    amplification, the digest collapse, the MinHash/LSH banding with
    the oversize cap, and the connected components (recursive CTE),
    and every count must hash-match.  ``cc_rounds_ok`` turns the
    algorithmic round bound into a SQL-replayable indicator."""
    stats = curation_stress(spark, sf_dir, factor=10)
    return stats.select(
        "n_input",
        "n_exact",
        "n_dropped_groups",
        "n_clusters",
        "n_clustered_docs",
        (F.col("cc_rounds") <= 4).cast("long").alias("cc_rounds_ok"),
    )


def _sql_curation_stress_audit() -> str:
    """DuckDB replay of the amplified pipeline, reusing the exact
    shingle/minhash/banding formulations the per-stage oracles use
    (common._SQL_MINHASH) with the shingle source swapped to the
    exact-dedup survivors of the amplified corpus."""
    shingles_from_sdocs = f"""
sh3 AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 0)),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks FROM sdocs))
"""
    return f"""
WITH RECURSIVE amp AS (
  SELECT doc_id * 10 + r AS doc_id,
         CASE WHEN r < 2 THEN text
              ELSE text || ' variant' || r END AS text
  FROM documents, UNNEST(generate_series(0, 9)) AS t(r)),
keep AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
        FROM amp)
  GROUP BY h),
sdocs AS (SELECT a.doc_id, a.text FROM amp a JOIN keep k ON a.doc_id = k.doc_id),
{shingles_from_sdocs},
{_SQL_MINHASH},
grp AS (
  SELECT band_id, band_sig, count(*) AS n FROM bands GROUP BY 1, 2),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN grp g ON a.band_id = g.band_id AND a.band_sig = g.band_sig
            AND g.n BETWEEN 2 AND {LSH_MAX_GROUP}
  JOIN bands b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id),
e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
r(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM e)
  UNION
  SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
comp AS (SELECT a AS node, min(b) AS comp FROM r GROUP BY a)
SELECT (SELECT count(*) FROM amp)   AS n_input,
       (SELECT count(*) FROM sdocs) AS n_exact,
       (SELECT count(*) FROM grp WHERE n > {LSH_MAX_GROUP})
         AS n_dropped_groups,
       (SELECT CAST(count(DISTINCT comp) AS BIGINT) FROM comp) AS n_clusters,
       (SELECT count(*) FROM comp) AS n_clustered_docs,
       CAST(1 AS BIGINT) AS cc_rounds_ok
"""


# superset-only: timed as bench.py's __curation10x__ macro, so a catalog
# entry would run the ~30 s pipeline again inside the per-query loop
register(q_curation_stress_audit, _sql_curation_stress_audit())


# ----------------------------------------------------- decontaminate
_DECON_N = 5
_DECON_BENCH_FRAC = 0.1
_DECON_MIN_FRAC = 0.2


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination report: each training document's
    distinct word 5-grams joined (broadcast) against the held-out
    split's gram set; collision count/fraction + the contaminated
    verdict as 0/1.  The held-out split is the md5-uniform
    hash_unit('bench'|doc_id) < 0.1 — deterministic, oracle-replayed.
    Corpus streams once; only the small benchmark gram set is
    broadcast (operators/decontam.py)."""
    from prod2vec_spark.operators.decontam import contamination_report

    docs = read_table(spark, sf_dir, "documents")
    rep = contamination_report(
        docs,
        n=_DECON_N,
        bench_frac=_DECON_BENCH_FRAC,
        contaminated_min_frac=_DECON_MIN_FRAC,
    )
    return rep.withColumn("contaminated", F.col("contaminated").cast("long"))


def _sql_decontaminate() -> str:
    span = _DECON_N - 1
    return f"""
WITH d AS (SELECT doc_id, text,
  ('0x' || substr(md5('bench|' || doc_id), 1, 8))::BIGINT / 4294967296.0
    < {_DECON_BENCH_FRAC} AS is_bench
 FROM documents),
t AS (SELECT doc_id, is_bench, {_TOKS} AS toks FROM d),
g AS (SELECT doc_id, is_bench,
  list_distinct(list_transform(generate_series(1, len(toks) - {span}),
    i -> array_to_string(list_slice(toks, i, i + {span}), ' '))) AS grams
 FROM t),
bg AS (SELECT DISTINCT gram
       FROM (SELECT unnest(grams) AS gram FROM g WHERE is_bench)),
tg AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE NOT is_bench),
r AS (SELECT tg.doc_id,
        count(*) AS n_grams,
        CAST(sum(CASE WHEN bg.gram IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit
      FROM tg LEFT JOIN bg ON tg.gram = bg.gram
      GROUP BY tg.doc_id)
SELECT doc_id, n_grams, n_hit,
       round(CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE), 4) AS hit_frac,
       CAST(round(CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE), 4)
            >= {_DECON_MIN_FRAC} AS BIGINT) AS contaminated
FROM r
"""


register(q_decontaminate, _sql_decontaminate())


# --------------------------------------------------- semdedup audit
_SEM_CLUSTERS = 8
_SEM_THRESHOLD = 0.4


def q_semdedup_audit(spark, sf_dir):
    """SemDeDup per-cluster audit: cluster embeddings into 8
    deterministic cells, drop within-cluster cosine near-duplicates
    (keep the min-id representative), report per-cluster totals plus
    a kept-id checksum so the hash match certifies WHICH rows
    survived, not just how many (operators/simsearch.semdedup)."""
    from prod2vec_spark.operators import simsearch as SS

    emb = read_table(spark, sf_dir, "embeddings")
    flags = SS.semdedup(
        emb,
        dims=64,
        n_clusters=_SEM_CLUSTERS,
        threshold=_SEM_THRESHOLD,
        min_parallelism=spark.sparkContext.defaultParallelism,
    )
    return flags.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum((~F.col("kept")).cast("long")).alias("n_dropped"),
        F.sum(F.when(F.col("kept"), F.col("id")).otherwise(F.lit(0))).alias(
            "kept_id_sum"
        ),
    )


def _sql_semdedup_audit() -> str:
    dot_ec = _DOT.format(a="e.embedding", b="c.cvec")
    dot_ab = _DOT.format(a="a.nvec", b="b.nvec")
    return f"""
WITH cent AS (SELECT vec_id, {_UNIT.format(a='embedding')} AS cvec
              FROM embeddings
              WHERE {_L2.format(a='embedding')} > 0
              ORDER BY md5('sem|' || vec_id), vec_id LIMIT {_SEM_CLUSTERS}),
cid AS (SELECT row_number() OVER (ORDER BY md5('sem|' || vec_id), vec_id) - 1 AS cid,
               cvec
        FROM cent),
assign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY ({dot_ec}) DESC, c.cid) AS rk
    FROM embeddings e CROSS JOIN cid c)
  WHERE rk = 1),
u AS (SELECT vec_id, cid, {_UNIT.format(a='embedding')} AS nvec FROM assign),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM u a JOIN u b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round({dot_ab}, 5) >= {_SEM_THRESHOLD})
SELECT s.cid,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN d.vec_id IS NULL THEN s.vec_id ELSE 0 END) AS BIGINT)
         AS kept_id_sum
FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id
GROUP BY s.cid
"""


register(q_semdedup_audit, _sql_semdedup_audit())


# ------------------------------------------------- verbatim span pairs
_WN_K = 8
_WN_W = 8
_WN_MAX_GROUP = 64


def q_verbatim_span_pairs(spark, sf_dir):
    """Winnowing exact-substring dedup candidates: doc pairs sharing
    selected k-gram fingerprints, guaranteed to include every pair
    with a verbatim common span ≥ w+k−1 = 15 tokens — the long-quote
    dedup case whole-document MinHash can't see.  Same banded scale
    shape as LSH (explode sparse fingerprints, group, in-array pair
    expand, hot-group cap at 64) (operators/dedup.py
    winnow_fingerprints/winnow_candidate_pairs)."""
    from prod2vec_spark.operators.dedup import winnow_candidate_pairs

    docs = read_table(spark, sf_dir, "documents")
    return winnow_candidate_pairs(
        docs, k=_WN_K, w=_WN_W, max_group=_WN_MAX_GROUP
    )


def _sql_verbatim_span_pairs() -> str:
    k, w, mg = _WN_K, _WN_W, _WN_MAX_GROUP
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT doc_id,
  CASE WHEN len(toks) >= {k} THEN
    list_transform(generate_series(1, len(toks) - {k - 1}),
      i -> ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + {k - 1}), ' ')), 1, 8))::BIGINT)
  ELSE CAST([] AS BIGINT[]) END AS gh
 FROM t),
f AS (SELECT doc_id, list_distinct(
        CASE WHEN len(gh) >= {w} THEN
          list_transform(generate_series(1, len(gh) - {w - 1}),
                         i -> list_min(list_slice(gh, i, i + {w - 1})))
        ELSE gh END) AS fps
      FROM g),
e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
sz AS (SELECT fp, count(*) AS n FROM e GROUP BY fp),
e2 AS (SELECT e.doc_id, e.fp FROM e JOIN sz USING (fp)
       WHERE n BETWEEN 2 AND {mg})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS n_shared_fps
FROM e2 a JOIN e2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


register(q_verbatim_span_pairs, _sql_verbatim_span_pairs())


# --------------------------------------------- segment (line) dedup
SEG_WIDTH = 10
SEG_MIN_DOCS = 2


def q_segment_dedup_stats(spark, sf_dir):
    """Per-document segment-dedup survival report: total windows,
    boilerplate windows dropped, md5 of the reassembled text.  Two
    hash-shuffles (segment count, reassembly) + a broadcast anti join
    — the CCNet line-dedup shape (operators/linedup.py)."""
    from prod2vec_spark.operators.linedup import segment_dedup

    docs = read_table(spark, sf_dir, "documents")
    out = segment_dedup(docs, width=SEG_WIDTH, min_docs=SEG_MIN_DOCS)
    return out.select(
        "doc_id", "n_segs", "n_dropped", F.md5("kept_text").alias("kept_md5")
    )


def _sql_segment_dedup() -> str:
    w, m = SEG_WIDTH, SEG_MIN_DOCS
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        array_to_string(list_slice(toks, CAST(i AS INT) * {w} + 1,
                                         CAST(i AS INT) * {w} + {w}), ' ') AS seg
      FROM t, unnest(range(0, CAST(ceil(len(toks) / {w}.0) AS BIGINT))) AS u(i)
      WHERE len(toks) > 0),
b AS (SELECT md5(seg) AS seg_h FROM s
      GROUP BY 1 HAVING count(DISTINCT doc_id) >= {m}),
kept AS (SELECT s.doc_id, s.pos, s.seg
         FROM s LEFT JOIN b ON md5(s.seg) = b.seg_h WHERE b.seg_h IS NULL),
r AS (SELECT doc_id, count(*) AS n_kept,
             string_agg(seg, ' ' ORDER BY pos) AS kept_text
      FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id,
          COALESCE(CAST(ceil(len(toks) / {w}.0) AS BIGINT), 0) AS n_segs
        FROM t)
SELECT tot.doc_id, n_segs,
       n_segs - COALESCE(n_kept, 0) AS n_dropped,
       md5(COALESCE(kept_text, '')) AS kept_md5
FROM tot LEFT JOIN r ON tot.doc_id = r.doc_id
"""


register(q_segment_dedup_stats, _sql_segment_dedup())


# -------------------------------------- quality-canonical survivor
def q_canonical_pick(spark, sf_dir):
    """Near-dup survivor selection by QUALITY: LSH candidate pairs →
    CC clusters → per-cluster best-quality member (ties → lowest
    doc_id).  One max_by hash-agg over the clustered fraction — no
    window, no sort (operators/graph.py canonical_by_quality)."""
    from prod2vec_spark.operators import dedup as DD
    from prod2vec_spark.operators import graph as GR
    from prod2vec_spark.operators import text as TX

    docs = read_table(spark, sf_dir, "documents")
    pairs = DD.lsh_candidate_pairs(
        DD.minhash_bands(docs), max_group=LSH_MAX_GROUP
    )
    clusters = GR.dedup_clusters(pairs)
    scored = docs.select(
        "doc_id", TX.quality_score(F.col("text")).alias("q")
    )
    return GR.canonical_by_quality(clusters, scored, q_col="q")


def _sql_canonical_pick() -> str:
    return f"""
WITH RECURSIVE {_SQL_SHINGLES3},
{_SQL_MINHASH},
eligible AS (
  SELECT band_id, band_sig FROM bands
  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {LSH_MAX_GROUP}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN eligible e ON a.band_id = e.band_id AND a.band_sig = e.band_sig
  JOIN bands b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id),
e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
r(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM e)
  UNION
  SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
clusters AS (SELECT a AS doc_id, min(b) AS cluster_id FROM r GROUP BY a),
quality AS (
  SELECT doc_id,
    round((least(1.0, CAST(len(toks) AS DOUBLE) / 20.0)
      + greatest(0.0, 1.0 - 4.0 * round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text), 4))
      + round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)) / 3.0, 4) AS q
  FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)),
m AS (SELECT c.cluster_id, c.doc_id, q.q,
        row_number() OVER (PARTITION BY c.cluster_id
                           ORDER BY q.q DESC, c.doc_id) AS rn,
        count(*) OVER (PARTITION BY c.cluster_id) AS n_members
      FROM clusters c JOIN quality q ON c.doc_id = q.doc_id)
SELECT cluster_id, n_members, doc_id AS keep_doc_id, q AS keep_q
FROM m WHERE rn = 1
"""


register(q_canonical_pick, _sql_canonical_pick())


# --------------------------------------------- corpus snapshot diff
def q_snapshot_diff(spark, sf_dir):
    """Corpus-version diff against a deterministically-derived "next
    crawl" of the same table (docs with id%13==0 dropped, id%7==0
    text-modified, 10 fresh ids appended): per-doc added / removed /
    changed / unchanged status — the incremental-ingestion surface
    (operators/dedup.snapshot_diff; hashes join, documents don't)."""
    from prod2vec_spark.operators.dedup import snapshot_diff

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    survived = docs.where(F.col("doc_id") % 13 != 0)
    v2 = survived.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionByName(
        docs.where(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.col("text"),
        )
    )
    return snapshot_diff(docs, v2)


def _sql_snapshot_diff() -> str:
    # NULL text digests as '' (matches snapshot_diff's coalesce-to-
    # sentinel); presence is judged by id-join nullness, not digest
    dig = r"md5(regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g'))"
    return f"""
WITH o AS (SELECT doc_id, {dig} AS ho FROM documents),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 13 != 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 10),
n AS (SELECT doc_id, {dig} AS hn FROM v2)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.ho IS NULL THEN 'added'
            WHEN n.hn IS NULL THEN 'removed'
            WHEN o.ho != n.hn THEN 'changed'
            ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


register(q_snapshot_diff, _sql_snapshot_diff())


# --------------------------------------------- edit-dist confirm
ED_PREFIX = 256
ED_MAX_DIST = 51  # floor(0.2 * 256): beyond this no pair can clear 0.8
ED_SIM = 0.8


def q_neardup_editdist(spark, sf_dir):
    """Levenshtein confirmation of the LSH candidate pairs: banded
    early-abandon (threshold arg → -1 sentinel) over 256-char
    prefixes, per-pair edit similarity + confirmed gate
    (operators/dedup.py editdist_confirm)."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = DD.lsh_candidate_pairs(DD.minhash_bands(docs), max_group=LSH_MAX_GROUP)
    return DD.editdist_confirm(
        pairs, docs, prefix_len=ED_PREFIX, max_dist=ED_MAX_DIST, sim_threshold=ED_SIM
    )


def _sql_neardup_editdist() -> str:
    return f"""
WITH {_SQL_SHINGLES3},
{_SQL_MINHASH},
eligible AS (
  SELECT band_id, band_sig FROM bands
  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND {LSH_MAX_GROUP}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN eligible e ON a.band_id = e.band_id AND a.band_sig = e.band_sig
  JOIN bands b
    ON a.band_id = b.band_id AND a.band_sig = b.band_sig
   AND a.doc_id < b.doc_id),
p AS (SELECT doc_id, substr(text, 1, {ED_PREFIX}) AS pref FROM documents),
j AS (SELECT c.doc_a, c.doc_b,
             pa.pref AS pa, pb.pref AS pb,
             length(pa.pref) AS len_a, length(pb.pref) AS len_b
      FROM cand c
      JOIN p pa ON pa.doc_id = c.doc_a
      JOIN p pb ON pb.doc_id = c.doc_b),
d AS (SELECT doc_a, doc_b, len_a, len_b,
             CASE WHEN levenshtein(pa, pb) > {ED_MAX_DIST} THEN -1
                  ELSE levenshtein(pa, pb) END AS dist
      FROM j),
sc AS (SELECT doc_a, doc_b, len_a, len_b, dist,
              round(1.0 - CAST(dist AS DOUBLE)
                    / CAST(greatest(len_a, len_b, 1) AS DOUBLE), 4) AS sim
       FROM d)
SELECT doc_a, doc_b,
       CAST(len_a AS BIGINT) AS len_a,
       CAST(len_b AS BIGINT) AS len_b,
       CAST(dist AS BIGINT) AS dist,
       CASE WHEN dist >= 0 THEN sim ELSE -1.0 END AS edit_sim,
       CAST(CASE WHEN dist >= 0 AND sim >= {ED_SIM!r} THEN 1 ELSE 0 END AS BIGINT)
         AS confirmed
FROM sc
"""


register(q_neardup_editdist, _sql_neardup_editdist())


# --------------------------------------------- incremental LSH
INC_SEED = 7
INC_FRAC = 0.8  # md5-uniform "prior snapshot" fraction


def q_lsh_incremental(spark, sf_dir):
    """Delta near-dup candidates for an incremental ingest: the corpus
    splits deterministically into a 'prior snapshot' (80%, whose band
    table is the only thing read back) and 'new' docs; only pairs
    involving >= 1 new doc are emitted (operators/dedup.py
    incremental_lsh_candidates).  both_new flags pairs internal to the
    ingest batch — derived row-locally from the same md5 formula, so
    the oracle replays it."""
    from prod2vec_spark.functions.hashing import hash_unit

    docs = read_table(spark, sf_dir, "documents")
    u = hash_unit(F.concat_ws("|", F.lit(str(INC_SEED)), F.col("doc_id")))
    old = docs.where(u < INC_FRAC)
    new = docs.where(~(u < INC_FRAC))
    pairs = DD.incremental_lsh_candidates(
        DD.minhash_bands(old), new, max_group=LSH_MAX_GROUP
    )
    ua = hash_unit(F.concat_ws("|", F.lit(str(INC_SEED)), F.col("doc_a")))
    ub = hash_unit(F.concat_ws("|", F.lit(str(INC_SEED)), F.col("doc_b")))
    return pairs.select(
        "doc_a",
        "doc_b",
        ((ua >= INC_FRAC) & (ub >= INC_FRAC)).cast("long").alias("both_new"),
    )


def _sql_lsh_incremental() -> str:
    unit = (
        "('0x' || substr(md5('" + str(INC_SEED) + "|' || CAST({id} AS VARCHAR)), 1, 8))::BIGINT"
        " / 4294967296.0"
    )
    return f"""
WITH {_SQL_SHINGLES3},
{_SQL_MINHASH},
flag AS (SELECT doc_id,
                CASE WHEN {unit.format(id='doc_id')} < {INC_FRAC!r} THEN 0 ELSE 1 END
                  AS is_new
         FROM documents),
b AS (SELECT bands.doc_id, band_id, band_sig, is_new
      FROM bands JOIN flag ON bands.doc_id = flag.doc_id),
eligible AS (
  SELECT band_id, band_sig FROM b
  GROUP BY 1, 2
  HAVING count(*) BETWEEN 2 AND {LSH_MAX_GROUP} AND max(is_new) = 1),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         a.is_new AS na, b2.is_new AS nb
  FROM b a
  JOIN eligible e ON a.band_id = e.band_id AND a.band_sig = e.band_sig
  JOIN b b2 ON a.band_id = b2.band_id AND a.band_sig = b2.band_sig
          AND a.doc_id < b2.doc_id
  WHERE a.is_new = 1 OR b2.is_new = 1)
SELECT doc_a, doc_b,
       CAST(CASE WHEN na = 1 AND nb = 1 THEN 1 ELSE 0 END AS BIGINT) AS both_new
FROM pairs
"""


register(q_lsh_incremental, _sql_lsh_incremental())


# --------------------------------- keep-first segment dedup policy
_SDK_WIDTH = 10
_SDK_MIN = 2


def q_segment_dedup_keepfirst(spark, sf_dir):
    """Segment dedup under the ExactSubstr keep-first policy (Lee et
    al. 2022 §3): the minimum-id document containing a repeated
    window keeps it, every other document cuts it — exactly one copy
    of shared content survives, unlike CCNet's delete-everywhere.
    Same shuffle shape as segment_dedup_stats: one hash-agg carrying
    min(doc_id) beside the distinct-doc count
    (operators/linedup.segment_dedup policy='keep_first')."""
    from prod2vec_spark.operators.linedup import segment_dedup

    docs = read_table(spark, sf_dir, "documents")
    out = segment_dedup(
        docs, width=_SDK_WIDTH, min_docs=_SDK_MIN, policy="keep_first"
    )
    return out.select(
        "doc_id", "n_segs", "n_dropped", F.md5("kept_text").alias("kept_md5")
    )


def _sql_segment_dedup_keepfirst() -> str:
    w, m = _SDK_WIDTH, _SDK_MIN
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        array_to_string(list_slice(toks, CAST(i AS INT) * {w} + 1,
                                         CAST(i AS INT) * {w} + {w}), ' ') AS seg
      FROM t, unnest(range(0, CAST(ceil(len(toks) / {w}.0) AS BIGINT))) AS u(i)
      WHERE len(toks) > 0),
own AS (SELECT md5(seg) AS seg_h, min(doc_id) AS owner FROM s
        GROUP BY 1 HAVING count(DISTINCT doc_id) >= {m}),
kept AS (SELECT s.doc_id, s.pos, s.seg
         FROM s LEFT JOIN own ON md5(s.seg) = own.seg_h
         WHERE own.seg_h IS NULL OR s.doc_id = own.owner),
r AS (SELECT doc_id, count(*) AS n_kept,
             string_agg(seg, ' ' ORDER BY pos) AS kept_text
      FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id,
          COALESCE(CAST(ceil(len(toks) / {w}.0) AS BIGINT), 0) AS n_segs
        FROM t)
SELECT tot.doc_id, n_segs,
       n_segs - COALESCE(n_kept, 0) AS n_dropped,
       md5(COALESCE(kept_text, '')) AS kept_md5
FROM tot LEFT JOIN r ON tot.doc_id = r.doc_id
"""


register(q_segment_dedup_keepfirst, _sql_segment_dedup_keepfirst())


# -------------------------------------------- URL canonicalization
def _messy_url(doc_id):
    """Deterministic messy-URL adapter (the attach_urls precedent,
    dirtier): six surface variants of the SAME logical page
    (site = doc_id % 40, page = (doc_id // 40) % 3) — case-mangled
    scheme/host, default ports, tracking params, permuted param
    order, trailing slash, fragment — plus an unparseable row every
    97th doc.  Pure doc_id arithmetic so the DuckDB oracle replays
    the identical corpus."""
    from pyspark.sql import functions as F

    site = (F.col(doc_id) % 40).cast("string")
    page = ((F.col(doc_id) / 40).cast("long") % 3).cast("string")
    v = F.col(doc_id) % 6
    base = F.concat(F.lit("site"), site, F.lit(".com/p/"), page)
    url = (
        F.when(v == 0, F.concat(F.lit("https://www."), base, F.lit("?b=1&a=2")))
        .when(v == 1, F.concat(F.lit("HTTPS://WWW."), F.upper(base), F.lit("?a=2&b=1")))
        .when(v == 2, F.concat(F.lit("https://www."), base, F.lit(":443/?b=1&a=2")))
        .when(v == 3, F.concat(F.lit("https://www."), base, F.lit("/?utm_source=x&b=1&a=2#frag")))
        .when(v == 4, F.concat(F.lit("https://www."), base, F.lit("?gclid=Z9&a=2&b=1")))
        .otherwise(F.concat(F.lit("https://www."), base, F.lit("/?b=1&utm_campaign=c&a=2")))
    )
    return F.when(F.col(doc_id) % 97 == 0, F.lit("not a url")).otherwise(url)


def q_url_canonical_groups(spark, sf_dir):
    """URL-level duplicate groups AFTER canonicalization
    (operators/domains.canonical_url): the six planted surface
    variants of each logical page collapse to one canonical key; the
    output proves it — n_raw > 1 distinct raw spellings per group,
    min-id canonical pick, unparseable rows grouped under NULL.
    Row-local normalization + ONE hash-agg on the canonical key."""
    from prod2vec_spark.operators.domains import canonical_url

    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    staged = docs.withColumn("url", _messy_url("doc_id")).withColumn(
        "canon", canonical_url(F.col("url"))
    )
    # variant 2 of page 0 is ...:443/?... whose PATH differs pre-norm;
    # upper-cased variant 1 keeps its case-significant PATH distinct —
    # group by canon and count both docs and distinct raw spellings
    return (
        staged.groupBy("canon")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_raw"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


def _sql_url_canonical_groups() -> str:
    return f"""
WITH d AS (
  SELECT doc_id,
    CASE WHEN doc_id % 97 = 0 THEN 'not a url' ELSE
      CASE doc_id % 6
        WHEN 0 THEN 'https://www.site' || (doc_id % 40) || '.com/p/' || ((doc_id // 40) % 3) || '?b=1&a=2'
        WHEN 1 THEN 'HTTPS://WWW.' || upper('site' || (doc_id % 40) || '.com/p/' || ((doc_id // 40) % 3)) || '?a=2&b=1'
        WHEN 2 THEN 'https://www.site' || (doc_id % 40) || '.com/p/' || ((doc_id // 40) % 3) || ':443/?b=1&a=2'
        WHEN 3 THEN 'https://www.site' || (doc_id % 40) || '.com/p/' || ((doc_id // 40) % 3) || '/?utm_source=x&b=1&a=2#frag'
        WHEN 4 THEN 'https://www.site' || (doc_id % 40) || '.com/p/' || ((doc_id // 40) % 3) || '?gclid=Z9&a=2&b=1'
        ELSE 'https://www.site' || (doc_id % 40) || '.com/p/' || ((doc_id // 40) % 3) || '/?b=1&utm_campaign=c&a=2'
      END
    END AS url
  FROM documents),
n AS (
  SELECT doc_id, url,
    lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
    regexp_replace(regexp_replace(trim(url), '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''), '#.*$', '') AS rest
  FROM d),
n2 AS (
  SELECT doc_id, url, scheme, rest,
    lower(regexp_extract(rest, '^([^/?]*)', 1)) AS auth0,
    regexp_replace(rest, '^[^/?]*', '') AS pathq
  FROM n),
n3 AS (
  SELECT doc_id, url, scheme,
    CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
         WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
         ELSE auth0 END AS auth,
    regexp_extract(pathq, '^([^?]*)', 1) AS path0,
    regexp_replace(pathq, '^[^?]*\\??', '') AS query
  FROM n2),
n4 AS (
  SELECT doc_id, url, scheme, auth,
    CASE WHEN p1 = '/' THEN p1 ELSE regexp_replace(p1, '/+$', '') END AS path,
    array_to_string(list_sort(list_filter(str_split(query, '&'),
      p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_RE_SQL}'))), '&') AS qs
  FROM (SELECT *, CASE WHEN path0 = '' THEN '/' ELSE path0 END AS p1 FROM n3)),
c AS (
  SELECT doc_id, url,
    CASE WHEN scheme = '' OR auth = '' THEN NULL
         ELSE scheme || '://' || auth || path ||
              CASE WHEN qs = '' THEN '' ELSE '?' || qs END
    END AS canon
  FROM n4)
SELECT canon, count(*) AS n_docs,
       CAST(count(DISTINCT url) AS BIGINT) AS n_raw,
       min(doc_id) AS canonical_doc
FROM c GROUP BY canon HAVING count(*) >= 2
"""


register(q_url_canonical_groups, _sql_url_canonical_groups())


# ---------------------------------------- fuzzy decontamination
FUZZY_BENCH_FRAC = 0.1
FUZZY_MIN_JACCARD = 0.5


def q_decontaminate_fuzzy(spark, sf_dir):
    """MinHash/LSH fuzzy benchmark decontamination: band-collision
    candidates between training docs and the md5-held-out eval split,
    verified by EXACT shingle Jaccard — catches the paraphrased /
    partial contamination the exact n-gram scrub misses
    (operators/decontam.fuzzy_contamination_report)."""
    from prod2vec_spark.operators.decontam import fuzzy_contamination_report

    docs = read_table(spark, sf_dir, "documents")
    return fuzzy_contamination_report(
        docs, bench_frac=FUZZY_BENCH_FRAC, min_jaccard=FUZZY_MIN_JACCARD
    )


def _sql_decontaminate_fuzzy() -> str:
    """DuckDB twin: the shared shingle/minhash/band CTE machinery
    (common._SQL_SHINGLES3/_SQL_MINHASH conventions) split by the
    md5-uniform bench tag, band equi-join candidates, exact Jaccard
    verify, per-train-doc max."""
    return f"""
WITH sp AS (SELECT doc_id,
    (('0x' || substr(md5('bench|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
      < {FUZZY_BENCH_FRAC} AS is_bench
  FROM documents),
{_SQL_SHINGLES3},
{_SQL_MINHASH},
cand AS (
  SELECT DISTINCT t.doc_id AS doc_id, b.doc_id AS bench_id
  FROM bands t
  JOIN sp st ON st.doc_id = t.doc_id AND NOT st.is_bench
  JOIN bands b ON t.band_id = b.band_id AND t.band_sig = b.band_sig
  JOIN sp sb ON sb.doc_id = b.doc_id AND sb.is_bench),
det AS (
  SELECT c.doc_id,
         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
           / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jacc
  FROM cand c
  JOIN sh3 sa ON sa.doc_id = c.doc_id
  JOIN sh3 sb ON sb.doc_id = c.bench_id)
SELECT doc_id, count(*) AS n_bench_candidates,
       round(max(jacc), 5) AS max_jaccard,
       round(max(jacc), 5) >= {FUZZY_MIN_JACCARD} AS contaminated
FROM det GROUP BY doc_id
"""


register(q_decontaminate_fuzzy, _sql_decontaminate_fuzzy())


_SD_MIN_DOCS = 2
_SD_MIN_CHARS = 12


def q_sentence_dedup_stats(spark, sf_dir):
    """Per-document repeated-sentence survival report under the CCNet
    drop_all policy over the sentenced corpus: sentences >= 12 chars
    appearing in >= 2 distinct documents are cut from every document;
    shorter sentences are always kept (the short-ubiquitous-sentence
    guard)."""
    from prod2vec_spark.operators.linedup import sentence_dedup

    docs = sentence_corpus(read_table(spark, sf_dir, "documents"))
    return sentence_dedup(
        docs, min_docs=_SD_MIN_DOCS, min_chars=_SD_MIN_CHARS
    )


def q_sentence_dedup_keepfirst(spark, sf_dir):
    """Same screen, keep_first policy: the minimum-doc_id document
    containing each repeated sentence keeps its copies; every other
    document cuts them."""
    from prod2vec_spark.operators.linedup import sentence_dedup

    docs = sentence_corpus(read_table(spark, sf_dir, "documents"))
    return sentence_dedup(
        docs,
        min_docs=_SD_MIN_DOCS,
        min_chars=_SD_MIN_CHARS,
        policy="keep_first",
    )


def _sql_sentence_dedup(policy: str) -> str:
    keep = (
        "sent NOT IN (SELECT sent FROM rep)"
        if policy == "drop_all"
        else (
            "sent NOT IN (SELECT sent FROM rep) OR doc_id IN "
            "(SELECT owner FROM rep r WHERE r.sent = e.sent)"
        )
    )
    return f"""
WITH corpus AS ({_SQL_SENT_CORPUS}),
s AS (
  SELECT doc_id,
         list_transform(
           regexp_extract_all(coalesce(text, ''), '{_SENT_PAT}'),
           x -> trim(x)) AS sents
  FROM corpus
),
e AS (
  SELECT doc_id, CAST(u.i AS INT) AS pos, sents[u.i + 1] AS sent
  FROM s, unnest(range(0, len(sents))) AS u(i)
),
rep AS (
  SELECT sent, min(doc_id) AS owner
  FROM e
  WHERE length(sent) >= {_SD_MIN_CHARS}
  GROUP BY sent
  HAVING count(DISTINCT doc_id) >= {_SD_MIN_DOCS}
),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(sent, ' ' ORDER BY pos) AS kept_text
  FROM e
  WHERE {keep}
  GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(len(s.sents) AS BIGINT) AS n_sentences,
       CAST(len(s.sents) - coalesce(reb.n_kept, 0) AS BIGINT) AS n_dropped,
       coalesce(reb.kept_text, '') AS kept_text
FROM s LEFT JOIN reb ON s.doc_id = reb.doc_id
"""


register(q_sentence_dedup_stats, _sql_sentence_dedup('drop_all'))
register(q_sentence_dedup_keepfirst, _sql_sentence_dedup('keep_first'))
