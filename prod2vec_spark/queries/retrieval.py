"""Retrieval and ANN queries: exact cosine top-k, IVF, sign-LSH and
PQ/IVF-PQ approximate search with their recall audit, the lexical
rankers (TF-IDF, BM25, Dirichlet query likelihood, RM3 feedback),
hard-negative mining, hybrid RRF/linear fusion and MMR diversity
re-ranking."""

from __future__ import annotations

from pyspark.sql import functions as F

from prod2vec_spark.operators import baskets as B
from prod2vec_spark.operators import simsearch as SS
from prod2vec_spark.queries.common import (
    BM25_K,
    BM25_QUERIES,
    EMB_DIMS,
    _DOT,
    _L2,
    _NSIM,
    _TOKS,
    _UNIT,
    register,
)
from prod2vec_spark.sources.io import read_table


# ------------------------------------------------------------ ANN topk
def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors vec_id < 20 — exact
    baseline of the similarity-search family."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SS.brute_force_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)


SQL_ANN_TOPK = f"""
WITH n AS (SELECT vec_id, {_UNIT.format(a='embedding')} AS nvec FROM embeddings),
q AS (SELECT vec_id AS query_id, nvec AS qn FROM n WHERE vec_id < 20),
p AS (SELECT query_id, vec_id, {_NSIM} AS sim
      FROM n CROSS JOIN q
      WHERE vec_id != query_id)
SELECT query_id, vec_id AS neighbor_id, round(sim, 5) AS cosine_sim,
       CAST(rank AS INT) AS rank
FROM (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      FROM p)
WHERE rank <= 5
"""

register(q_ann_topk, SQL_ANN_TOPK)


# -------------------------------------------------------- IVF ANN topk
def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-5: data-adaptive cells (8 seeded-sample
    centroids, 2 probed per query) — the inverted-file counterpart to
    the sign-LSH bucket path.  Fully deterministic: centroid choice is
    md5 hash order, assignment/probing replayed identically by the
    oracle."""
    # spread=False: ivf_topk's centroid collect + assignment pass run
    # several short jobs over this scan — the blanket floor repartition
    # re-executes under each of them for row-local dot products too
    # cheap to pay it back; the operator's own
    # min_parallelism floor still spreads the corpus leg exactly once
    emb = read_table(spark, sf_dir, "embeddings", spread=False)
    return SS.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 20),
        dims=EMB_DIMS,
        k=5,
        n_centroids=8,
        nprobe=2,
        min_parallelism=spark.sparkContext.defaultParallelism,
    )


def _sql_ann_ivf() -> str:
    # assignment + probing use RAW dots against the unit centroids
    # (argmax-equivalent to cosine, exactly what the Spark plan does);
    # normalization happens only for the final candidate similarity
    dot_ec = _DOT.format(a="e.embedding", b="c.cvec")
    dot_qc = _DOT.format(a="q.embedding", b="c.cvec")
    dot_qa = _DOT.format(a="qn", b="nvec")
    return f"""
WITH cent AS (SELECT vec_id, {_UNIT.format(a='embedding')} AS cvec
              FROM embeddings
              WHERE {_L2.format(a='embedding')} > 0
              ORDER BY md5('ivf|' || vec_id), vec_id LIMIT 8),
cid AS (SELECT row_number() OVER (ORDER BY md5('ivf|' || vec_id), vec_id) - 1 AS cid,
               cvec
        FROM cent),
assign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY ({dot_ec}) DESC, c.cid) AS rk
    FROM embeddings e CROSS JOIN cid c)
  WHERE rk = 1),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 20),
qprobe AS (
  SELECT query_id, qn, cid FROM (
    SELECT q.query_id, {_UNIT.format(a='q.embedding')} AS qn, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY ({dot_qc}) DESC, c.cid) AS rk
    FROM q CROSS JOIN cid c)
  WHERE rk <= 2),
p AS (SELECT query_id, a.vec_id, ({dot_qa}) AS sim
      FROM (SELECT query_id, qn, cid FROM qprobe) qp
      JOIN (SELECT vec_id, cid, {_UNIT.format(a='embedding')} AS nvec FROM assign) a
        USING (cid)
      WHERE a.vec_id != query_id)
SELECT query_id, vec_id AS neighbor_id, round(sim, 5) AS cosine_sim,
       CAST(rank AS INT) AS rank
FROM (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      FROM p)
WHERE rank <= 5
"""


register(q_ann_ivf_topk, _sql_ann_ivf())


# -------------------------------------------------------- LSH ANN topk
def q_ann_lsh_topk(spark, sf_dir):
    """Sign-LSH bucketed approximate top-5 (scale path): candidates
    restricted to the query's bucket; hyperplanes are shared literal
    constants (simsearch.deterministic_planes), identical in the
    oracle."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SS.lsh_topk(emb, emb.filter(F.col("vec_id") < 20), dims=EMB_DIMS, k=5, num_planes=6)


def _sql_bucket(vec: str) -> str:
    planes = SS.deterministic_planes(EMB_DIMS, 6)
    terms = []
    for p, row in enumerate(planes):
        lits = ", ".join(repr(c) for c in row)
        d = (
            f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(generate_series(1, 64), i -> {vec}[i]::DOUBLE * ([{lits}])[i])), (x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN ({d}) > 0 THEN {1 << p}::BIGINT ELSE 0::BIGINT END)")
    return " + ".join(terms)


def _sql_ann_lsh() -> str:
    return f"""
WITH c AS (SELECT vec_id, ({_sql_bucket('embedding')}) AS bucket,
                  {_UNIT.format(a='embedding')} AS nvec
           FROM embeddings),
q AS (SELECT vec_id AS query_id, nvec AS qn, bucket FROM c WHERE vec_id < 20),
p AS (SELECT query_id, c.vec_id, {_NSIM} AS sim
      FROM c JOIN q USING (bucket)
      WHERE c.vec_id != query_id)
SELECT query_id, vec_id AS neighbor_id, round(sim, 5) AS cosine_sim,
       CAST(rank AS INT) AS rank
FROM (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
      FROM p)
WHERE rank <= 5
"""


register(q_ann_lsh_topk, _sql_ann_lsh())


# ------------------------------------------------------------- TF-IDF (LLM)
TFIDF_TOP = 100


def q_tfidf_terms(spark, sf_dir):
    """Document-frequency + IDF table over the documents corpus — the
    feature-extraction half of TF-IDF, an LLM-pipeline staple.  Terms
    are deduped INSIDE the row (array_distinct before explode), so the
    aggregation shuffle carries distinct (doc, term) pairs only; the
    corpus-size scalar joins as a broadcast literal (1 row), never a
    global window."""
    docs = read_table(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower("text"), "[^a-z]+"),
                    lambda x: F.length(x) > 2,
                )
            )
        ).alias("term")
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df_tbl = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        df_tbl.crossJoin(F.broadcast(total))
        .select(
            "term",
            "df",
            F.round(F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1, 5).alias(
                "idf"
            ),
        )
        .orderBy(F.desc("df"), "term")
        .limit(TFIDF_TOP)
    )


SQL_TFIDF_TERMS = f"""
WITH t AS (
  SELECT DISTINCT doc_id, term
  FROM documents,
       UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                          x -> length(x) > 2)) AS u(term)),
n AS (SELECT count(*) AS n_docs FROM documents),
d AS (SELECT term, count(*) AS df FROM t GROUP BY term)
SELECT term, df, round(ln((n_docs + 1) / (df + 1)) + 1, 5) AS idf
FROM d, n ORDER BY df DESC, term LIMIT {TFIDF_TOP}
"""

register(q_tfidf_terms, SQL_TFIDF_TERMS)


# -------------------------------------------------------- ANN recall@k
def q_ann_recall(spark, sf_dir):
    """Recall@5 of ann_lsh_topk and ann_ivf_topk vs the exact ann_topk
    baseline: approximation quality as a checked number.  One row per approximate method: hits = |approx ∩ exact|
    per query, recall = total hits / total exact pairs."""
    # materialize the exact top-k ONCE (it is ~100 rows) — without
    # this the costliest subquery re-evaluates per method iteration
    # and again inside the n_exact aggregate
    exact = (
        q_ann_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    out = None
    for method, fn in (("ivf", q_ann_ivf_topk), ("lsh", q_ann_lsh_topk)):
        approx = fn(spark, sf_dir).select("query_id", "neighbor_id")
        # exact is 20 queries x 5 neighbors = 100 rows — broadcast it;
        # the join runs on the tiny top-k outputs, never the base table
        hits = F.broadcast(exact).join(approx, ["query_id", "neighbor_id"])
        row = (
            exact.agg(F.count(F.lit(1)).alias("n_exact"))
            .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
            .select(
                F.lit(method).alias("method"),
                "n_exact",
                "n_hits",
                F.round(F.col("n_hits") / F.col("n_exact"), 5).alias("recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _sql_ann_recall() -> str:
    return f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({SQL_ANN_TOPK})),
ivf AS (SELECT query_id, neighbor_id FROM ({_sql_ann_ivf()})),
lsh AS (SELECT query_id, neighbor_id FROM ({_sql_ann_lsh()})),
ex_n AS (SELECT count(*) AS n_exact FROM exact)
SELECT 'ivf' AS method, n_exact,
       (SELECT count(*) FROM exact JOIN ivf USING (query_id, neighbor_id)) AS n_hits,
       round(CAST((SELECT count(*) FROM exact JOIN ivf USING (query_id, neighbor_id)) AS DOUBLE) / n_exact, 5) AS recall
FROM ex_n
UNION ALL
SELECT 'lsh' AS method, n_exact,
       (SELECT count(*) FROM exact JOIN lsh USING (query_id, neighbor_id)) AS n_hits,
       round(CAST((SELECT count(*) FROM exact JOIN lsh USING (query_id, neighbor_id)) AS DOUBLE) / n_exact, 5) AS recall
FROM ex_n
"""


register(q_ann_recall, _sql_ann_recall())


def q_bm25_topk(spark, sf_dir):
    """Top-10 documents per keyword query under BM25 — inverted-index
    probe: broadcast query terms prune the postings, df/dl/(N, avgdl)
    derive from one text scan, per-query top-k window over rounded
    scores (operators/bm25.py scale notes)."""
    from prod2vec_spark.operators.bm25 import bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_QUERIES, k=BM25_K)


def _sql_bm25_topk() -> str:
    from prod2vec_spark.operators.bm25 import B, K1

    values = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in BM25_QUERIES for t in sorted(set(terms))
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
post AS (SELECT doc_id, w AS term, count(*) AS tf
         FROM (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM post GROUP BY 1),
st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
q(query_id, term) AS (VALUES {values}),
hits AS (SELECT q.query_id, post.doc_id, post.term, post.tf
         FROM post JOIN q ON post.term = q.term),
dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
sc AS (SELECT query_id, h.doc_id,
    round(sum(
      ln(1 + (st.n_docs - dft.df + 0.5) / (dft.df + 0.5))
      * h.tf * ({K1} + 1)
      / (h.tf + {K1} * (1 - {B} + {B} * dl.dl / st.avgdl))), 4) AS score
  FROM hits h
  JOIN dft ON h.term = dft.term
  JOIN dl ON h.doc_id = dl.doc_id
  CROSS JOIN st
  GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, score,
        CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM sc)
SELECT query_id, rank, doc_id, score FROM r WHERE rank <= {BM25_K}
"""


register(q_bm25_topk, _sql_bm25_topk())


# ---------------------------------------------- hard-negative mining
def q_hard_negatives(spark, sf_dir):
    """Contrastive hard negatives: per query vector (vec_id < 20) the
    top-5 most-similar embeddings with a DIFFERENT label — broadcast
    queries, one corpus pass, per-query rank window
    (operators/simsearch.hard_negative_topk)."""
    from prod2vec_spark.operators.simsearch import hard_negative_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return hard_negative_topk(emb, emb.filter(F.col("vec_id") < 20), k=5)


def _sql_hard_negatives() -> str:
    return f"""
WITH n AS (SELECT vec_id, label, {_UNIT.format(a='embedding')} AS nvec
           FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS query_label, nvec AS qn
      FROM n WHERE vec_id < 20),
p AS (SELECT query_id, query_label, vec_id, label, {_NSIM} AS sim
      FROM n CROSS JOIN q
      WHERE vec_id != query_id AND label != query_label)
SELECT query_id, query_label, vec_id AS neighbor_id,
       label AS neighbor_label, round(sim, 5) AS cosine_sim,
       CAST(rank AS INT) AS rank
FROM (SELECT query_id, query_label, vec_id, label, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id) AS rank
      FROM p)
WHERE rank <= 5
"""


register(q_hard_negatives, _sql_hard_negatives())


# ------------------------------------------ query-likelihood ranker
QL_MU = 300.0


def q_ql_topk(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood top-10 per keyword query —
    the language-modeling ranker next to BM25, same one-scan probe
    shape (operators/bm25.ql_topk)."""
    from prod2vec_spark.operators.bm25 import ql_topk

    docs = read_table(spark, sf_dir, "documents")
    return ql_topk(docs, BM25_QUERIES, k=BM25_K, mu=QL_MU)


def _sql_ql_topk() -> str:
    mu = QL_MU
    values = ", ".join(
        f"('{qid}', '{t}')"
        for qid, terms in BM25_QUERIES
        for t in sorted(set(terms))
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
dl AS (SELECT doc_id, CAST(len(toks) AS INT) AS dl FROM t WHERE len(toks) > 0),
tot AS (SELECT CAST(sum(dl) AS BIGINT) AS c_tokens FROM dl),
q(query_id, term) AS (VALUES {values}),
ex AS (SELECT doc_id, unnest(toks) AS term FROM t),
hits AS (SELECT q.query_id, ex.term, ex.doc_id, count(*) AS tf
         FROM ex JOIN q ON ex.term = q.term GROUP BY 1, 2, 3),
cf AS (SELECT term, count(*) AS cf FROM ex
       WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1),
cand AS (SELECT DISTINCT query_id, doc_id FROM hits),
f AS (SELECT c.query_id, c.doc_id, q.term
      FROM cand c JOIN q ON c.query_id = q.query_id),
sc AS (SELECT f.query_id, f.doc_id,
    round(sum(ln(
      (COALESCE(h.tf, 0) + {mu} * CAST(COALESCE(cf.cf, 0) AS DOUBLE) / tot.c_tokens)
      / (dl.dl + {mu}))), 4) AS score
  FROM f
  LEFT JOIN hits h ON f.query_id = h.query_id AND f.term = h.term
                  AND f.doc_id = h.doc_id
  LEFT JOIN cf ON f.term = cf.term
  JOIN dl ON f.doc_id = dl.doc_id
  CROSS JOIN tot
  GROUP BY 1, 2),
r AS (SELECT query_id, doc_id, score,
        CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY score DESC, doc_id) AS INT) AS rank
      FROM sc)
SELECT query_id, rank, doc_id, score FROM r WHERE rank <= {BM25_K}
"""


register(q_ql_topk, _sql_ql_topk())


# --------------------------------------------- RM3 expansion
RM3_M = 10
RM3_LAM = 0.5


def q_rm3_expansion(spark, sf_dir):
    """RM3 pseudo-relevance feedback: top-10 expansion terms per
    query, interpolated from the query's own Dirichlet-QL top-k
    results (operators/bm25.py rm3_terms) — the feedback leg of the
    retrieval triad (BM25 / QL / RM3)."""
    from prod2vec_spark.operators.bm25 import rm3_terms

    docs = read_table(spark, sf_dir, "documents")
    return rm3_terms(
        docs, BM25_QUERIES, k=BM25_K, m=RM3_M, lam=RM3_LAM, mu=QL_MU
    )


def _sql_rm3_expansion() -> str:
    orig_values = ", ".join(
        f"('{qid}', '{t}', {1.0 / len(set(terms))!r})"
        for qid, terms in BM25_QUERIES
        for t in sorted(set(terms))
    )
    ql = _sql_ql_topk()
    return f"""
WITH topk AS (SELECT query_id, doc_id, score FROM ({ql})),
smax AS (SELECT query_id, max(score) AS smax FROM topk GROUP BY 1),
wts AS (SELECT t.query_id, t.doc_id, exp(t.score - s.smax) AS wexp
        FROM topk t JOIN smax s ON t.query_id = s.query_id),
wz AS (SELECT query_id, sum(wexp) AS wz FROM wts GROUP BY 1),
wd AS (SELECT w.query_id, w.doc_id, w.wexp / z.wz AS wd
       FROM wts w JOIN wz z ON w.query_id = z.query_id),
cids AS (SELECT DISTINCT doc_id FROM topk),
ct AS (SELECT d.doc_id, regexp_split_to_array(trim(d.text), '\\s+') AS toks
       FROM documents d JOIN cids ON d.doc_id = cids.doc_id),
cdl AS (SELECT doc_id, len(toks) AS dl FROM ct WHERE len(toks) > 0),
ctf AS (SELECT doc_id, term, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS term FROM ct) GROUP BY 1, 2),
pwd AS (SELECT ctf.doc_id, term, CAST(tf AS DOUBLE) / cdl.dl AS p_wd
        FROM ctf JOIN cdl ON ctf.doc_id = cdl.doc_id),
rm1 AS (SELECT wd.query_id, pwd.term, sum(wd.wd * pwd.p_wd) AS p_rm1
        FROM wd JOIN pwd ON wd.doc_id = pwd.doc_id GROUP BY 1, 2),
orig(query_id, term, p_q) AS (VALUES {orig_values}),
rm3 AS (
  SELECT COALESCE(rm1.query_id, orig.query_id) AS query_id,
         COALESCE(rm1.term, orig.term) AS term,
         round({1.0 - RM3_LAM!r} * COALESCE(orig.p_q, 0.0)
               + {RM3_LAM!r} * COALESCE(rm1.p_rm1, 0.0), 4) AS weight
  FROM rm1 FULL OUTER JOIN orig
    ON rm1.query_id = orig.query_id AND rm1.term = orig.term),
r AS (SELECT query_id, term, weight,
        CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY weight DESC, term) AS INT) AS rank
      FROM rm3)
SELECT query_id, rank, term, weight FROM r WHERE rank <= {RM3_M}
"""


register(q_rm3_expansion, _sql_rm3_expansion())


_PQ_M = 4
_PQ_CODES = 8
_PQ_SUB = EMB_DIMS // _PQ_M


def q_ann_pq_topk(spark, sf_dir):
    """PQ/ADC approximate top-5 for query vectors vec_id < 20 — the
    compressed-scan member of the ANN family (exact: ann_topk;
    bucketed: ann_lsh_topk; inverted-file: ann_ivf_topk)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return SS.pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 20),
        dims=EMB_DIMS,
        k=5,
        m=_PQ_M,
        n_codes=_PQ_CODES,
    )


def _sql_ann_pq() -> str:
    # Replays the full PQ pipeline: seeded codeword sample (md5 order,
    # the IVF-oracle protocol) -> per-(vector, subspace) nearest
    # codeword by L2 with ties to the lowest j (Spark's strict-< fold
    # == ORDER BY d, j) -> ADC sim as the sum over subspaces of
    # <query-slice, codeword-slice> left-fold dots.  All folds are
    # list_reduce with a prepended 0.0, matching Spark's aggregate()
    # accumulation order bit-for-bit; the codeword values themselves
    # are re-derived via _UNIT (same IEEE ops as the driver-side
    # unit-scale that builds Spark's literals).
    sub = _PQ_SUB
    d2 = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {sub}), i -> "
        f"(n.nvec[s.mi*{sub}+i] - c.nvec[s.mi*{sub}+i]) "
        f"* (n.nvec[s.mi*{sub}+i] - c.nvec[s.mi*{sub}+i]))), (x, y) -> x + y)"
    )
    part = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {sub}), i -> "
        f"q.qn[k.mi*{sub}+i] * c.nvec[k.mi*{sub}+i])), (x, y) -> x + y)"
    )
    mi_rows = ", ".join(f"({mi})" for mi in range(_PQ_M))
    return f"""
WITH cw AS (
  SELECT row_number() OVER (ORDER BY md5('pq|' || vec_id), vec_id) - 1 AS j,
         nvec
  FROM (SELECT vec_id, {_UNIT.format(a='embedding')} AS nvec
        FROM embeddings
        WHERE {_L2.format(a='embedding')} > 0
        ORDER BY md5('pq|' || vec_id), vec_id LIMIT {_PQ_CODES})),
s AS (SELECT * FROM (VALUES {mi_rows}) AS t(mi)),
n AS (SELECT vec_id, {_UNIT.format(a='embedding')} AS nvec
      FROM embeddings
      WHERE {_L2.format(a='embedding')} > 0),
codes AS (
  SELECT vec_id, mi, j FROM (
    SELECT n.vec_id, s.mi, c.j,
           row_number() OVER (PARTITION BY n.vec_id, s.mi
                              ORDER BY ({d2}), c.j) AS rk
    FROM n CROSS JOIN s CROSS JOIN cw c)
  WHERE rk = 1),
q AS (SELECT vec_id AS query_id, nvec AS qn FROM n WHERE vec_id < 20),
adc AS (
  -- NOT sum(): Spark adds the m subspace contributions in mi order,
  -- and an order-free aggregate drifts ~1 ulp — enough to flip a
  -- pre-rounding rank tie.  An mi-ordered list + left fold replays
  -- Spark's exact addition order.
  SELECT query_id, vec_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), parts),
                     (x, y) -> x + y) AS sim
  FROM (SELECT q.query_id, k.vec_id, list({part} ORDER BY k.mi) AS parts
        FROM codes k JOIN cw c USING (j) CROSS JOIN q
        WHERE k.vec_id != q.query_id
        GROUP BY 1, 2))
SELECT query_id, vec_id AS neighbor_id, round(sim, 5) AS pq_sim,
       CAST(rank AS INT) AS rank
FROM (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id) AS rank
      FROM adc)
WHERE rank <= 5
"""


register(q_ann_pq_topk, _sql_ann_pq())


_IVFPQ_CENTS = 8
_IVFPQ_PROBE = 2


def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF+PQ approximate top-5 (the composed 100 TB layout): coarse
    cells prune candidates, ADC over m-int codes scores them — the
    candidate set is ann_ivf_topk's, the scoring is ann_pq_topk's."""
    # spread=False: the IVF/PQ codebook collects + probe legs run
    # multiple short jobs over this scan (see ann_ivf_topk's note)
    emb = read_table(spark, sf_dir, "embeddings", spread=False)
    return SS.ivf_pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 20),
        dims=EMB_DIMS,
        k=5,
        n_centroids=_IVFPQ_CENTS,
        nprobe=_IVFPQ_PROBE,
        m=_PQ_M,
        n_codes=_PQ_CODES,
    )


def _sql_ann_ivfpq() -> str:
    # The IVF oracle's cell assignment/probing (raw dots vs unit
    # 'ivf'-seeded centroids) composed with the PQ oracle's codes +
    # mi-ordered ADC fold; candidates are restricted to the probed
    # cells by the cid equi-join instead of the PQ oracle's cross
    # join.  Same fold discipline throughout (left folds, prepended
    # 0.0) so every double matches Spark bit-for-bit.
    sub = _PQ_SUB
    dot_ec = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {EMB_DIMS}), i -> "
        "e.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE)), (x, y) -> x + y)"
    )
    dot_qc = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {EMB_DIMS}), i -> "
        "q.embedding[i]::DOUBLE * c.cvec[i]::DOUBLE)), (x, y) -> x + y)"
    )
    d2 = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {sub}), i -> "
        f"(n.nvec[s.mi*{sub}+i] - c.nvec[s.mi*{sub}+i]) "
        f"* (n.nvec[s.mi*{sub}+i] - c.nvec[s.mi*{sub}+i]))), (x, y) -> x + y)"
    )
    part = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1, {sub}), i -> "
        f"qp.qn[k.mi*{sub}+i] * c.nvec[k.mi*{sub}+i])), (x, y) -> x + y)"
    )
    mi_rows = ", ".join(f"({mi})" for mi in range(_PQ_M))
    return f"""
WITH cw AS (
  SELECT row_number() OVER (ORDER BY md5('pq|' || vec_id), vec_id) - 1 AS j,
         nvec
  FROM (SELECT vec_id, {_UNIT.format(a='embedding')} AS nvec
        FROM embeddings
        WHERE {_L2.format(a='embedding')} > 0
        ORDER BY md5('pq|' || vec_id), vec_id LIMIT {_PQ_CODES})),
s AS (SELECT * FROM (VALUES {mi_rows}) AS t(mi)),
n AS (SELECT vec_id, embedding, {_UNIT.format(a='embedding')} AS nvec
      FROM embeddings
      WHERE {_L2.format(a='embedding')} > 0),
codes AS (
  SELECT vec_id, mi, j FROM (
    SELECT n.vec_id, s.mi, c.j,
           row_number() OVER (PARTITION BY n.vec_id, s.mi
                              ORDER BY ({d2}), c.j) AS rk
    FROM n CROSS JOIN s CROSS JOIN cw c)
  WHERE rk = 1),
cid AS (
  SELECT row_number() OVER (ORDER BY md5('ivf|' || vec_id), vec_id) - 1 AS cid,
         cvec
  FROM (SELECT vec_id, {_UNIT.format(a='embedding')} AS cvec
        FROM embeddings
        WHERE {_L2.format(a='embedding')} > 0
        ORDER BY md5('ivf|' || vec_id), vec_id LIMIT {_IVFPQ_CENTS})),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY ({dot_ec}) DESC, c.cid) AS rk
    FROM (SELECT vec_id, embedding FROM n) e CROSS JOIN cid c)
  WHERE rk = 1),
q AS (SELECT vec_id AS query_id, embedding, nvec AS qn FROM n WHERE vec_id < 20),
qprobe AS (
  SELECT query_id, qn, cid FROM (
    SELECT q.query_id, q.qn, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY ({dot_qc}) DESC, c.cid) AS rk
    FROM q CROSS JOIN cid c)
  WHERE rk <= {_IVFPQ_PROBE}),
adc AS (
  SELECT query_id, vec_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), parts),
                     (x, y) -> x + y) AS sim
  FROM (SELECT qp.query_id, k.vec_id, list({part} ORDER BY k.mi) AS parts
        FROM assign a
        JOIN qprobe qp USING (cid)
        JOIN codes k ON k.vec_id = a.vec_id
        JOIN cw c ON c.j = k.j
        WHERE a.vec_id != qp.query_id
        GROUP BY 1, 2))
SELECT query_id, vec_id AS neighbor_id, round(sim, 5) AS pq_sim,
       CAST(rank AS INT) AS rank
FROM (SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, vec_id) AS rank
      FROM adc)
WHERE rank <= 5
"""


register(q_ann_ivfpq_topk, _sql_ann_ivfpq())


# ---------------------------------------------- hybrid RRF retrieval
_HYBRID_PROBES = [("q_spark", 0), ("q_scan", 1), ("q_stream", 2)]
_HYBRID_DEPTH = 10
_RRF_K = 60


def q_hybrid_rrf_topk(spark, sf_dir):
    """Hybrid lexical+dense retrieval: the BM25 keyword ranking and
    the exact-cosine ANN ranking (per-query probe vectors) fused by
    reciprocal-rank fusion — rank-only, so no score calibration
    between BM25 scores and cosines (operators/fusion.py)."""
    from prod2vec_spark.operators.bm25 import bm25_topk
    from prod2vec_spark.operators.fusion import rrf_fuse

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    bm = bm25_topk(docs, BM25_QUERIES, k=_HYBRID_DEPTH)
    probes = emb.where(
        F.col("vec_id").isin([v for _, v in _HYBRID_PROBES])
    )
    ann = SS.brute_force_topk(emb, probes, k=_HYBRID_DEPTH).select(
        F.col("query_id").alias("_vid"),
        F.col("neighbor_id").alias("doc_id"),
        "rank",
    )
    mapping = F.broadcast(
        spark.createDataFrame(_HYBRID_PROBES, "qid string, _vid long")
    )
    ann_m = ann.join(mapping, "_vid").select(
        F.col("qid").alias("query_id"), "doc_id", "rank"
    )
    return rrf_fuse(
        [bm.select("query_id", "doc_id", "rank"), ann_m],
        k=_HYBRID_DEPTH,
        k_rrf=_RRF_K,
    )


def _sql_hybrid_rrf() -> str:
    # The BM25 oracle embedded verbatim as a subquery + a brute-force
    # cosine ranking for the mapped probe vectors, fused with the
    # rank-only RRF formula.  Two lists → the fused sum is a two-term
    # IEEE add (commutative), so scores are oracle-exact pre-round.

    map_rows = ", ".join(f"('{q}', {v})" for q, v in _HYBRID_PROBES)
    return f"""
WITH bm AS (SELECT * FROM ({_sql_bm25_topk()})),
map(query_id, vec_id) AS (VALUES {map_rows}),
n AS (SELECT vec_id, {_UNIT.format(a='embedding')} AS nvec FROM embeddings),
qv AS (SELECT m.query_id, n.vec_id, n.nvec AS qn
       FROM n JOIN map m USING (vec_id)),
p AS (SELECT qv.query_id, n.vec_id AS doc_id,
             ({_DOT.format(a='qv.qn', b='n.nvec')}) AS sim
      FROM n CROSS JOIN qv
      WHERE n.vec_id != qv.vec_id),
ar AS (SELECT query_id, doc_id,
              CAST(row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, doc_id) AS INT) AS rank
       FROM p),
u AS (SELECT query_id, doc_id, 1.0 / ({_RRF_K} + rank) AS c
      FROM bm
      UNION ALL
      SELECT query_id, doc_id, 1.0 / ({_RRF_K} + rank) AS c
      FROM ar WHERE rank <= {_HYBRID_DEPTH}),
f AS (SELECT query_id, doc_id, sum(c) AS rrf_score FROM u GROUP BY 1, 2)
SELECT query_id, doc_id, round(rrf_score, 6) AS rrf_score,
       CAST(rank AS INT) AS rank
FROM (SELECT query_id, doc_id, rrf_score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY rrf_score DESC, doc_id) AS rank
      FROM f)
WHERE rank <= {_HYBRID_DEPTH}
"""


register(q_hybrid_rrf_topk, _sql_hybrid_rrf())


_LIN_W_BM25 = 0.6
_LIN_W_DENSE = 0.4


def q_hybrid_linear_topk(spark, sf_dir):
    """Weighted min-max score fusion of the same BM25 + ANN legs as
    the RRF entry (operators/fusion.linear_fuse) — the score-magnitude
    hybrid; both legs' scores enter normalization ROUNDED (4/5 dp,
    their entry-facing precision) so min/max replay exactly."""
    from prod2vec_spark.operators.bm25 import bm25_topk
    from prod2vec_spark.operators.fusion import linear_fuse

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    bm = bm25_topk(docs, BM25_QUERIES, k=_HYBRID_DEPTH).select(
        "query_id", "doc_id", "score"
    )
    probes = emb.where(
        F.col("vec_id").isin([v for _, v in _HYBRID_PROBES])
    )
    ann = SS.brute_force_topk(emb, probes, k=_HYBRID_DEPTH).select(
        F.col("query_id").alias("_vid"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("cosine_sim").alias("score"),
    )
    mapping = F.broadcast(
        spark.createDataFrame(_HYBRID_PROBES, "qid string, _vid long")
    )
    ann_m = ann.join(mapping, "_vid").select(
        F.col("qid").alias("query_id"), "doc_id", "score"
    )
    return linear_fuse(
        [(bm, _LIN_W_BM25), (ann_m, _LIN_W_DENSE)], k=_HYBRID_DEPTH
    )


def _sql_hybrid_linear() -> str:
    # same legs as _sql_hybrid_rrf, fused by weighted per-query
    # min-max normalization; both scores are the entries' ROUNDED
    # values so mn/mx/norm arithmetic replays bit-for-bit, and the
    # two-term weighted sum is an order-free IEEE add.

    map_rows = ", ".join(f"('{q}', {v})" for q, v in _HYBRID_PROBES)
    return f"""
WITH bm AS (SELECT * FROM ({_sql_bm25_topk()})),
map(query_id, vec_id) AS (VALUES {map_rows}),
n AS (SELECT vec_id, {_UNIT.format(a='embedding')} AS nvec FROM embeddings),
qv AS (SELECT m.query_id, n.vec_id, n.nvec AS qn
       FROM n JOIN map m USING (vec_id)),
p AS (SELECT qv.query_id, n.vec_id AS doc_id,
             ({_DOT.format(a='qv.qn', b='n.nvec')}) AS sim
      FROM n CROSS JOIN qv
      WHERE n.vec_id != qv.vec_id),
ar AS (SELECT query_id, doc_id, round(sim, 5) AS score
       FROM (SELECT query_id, doc_id, sim,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY sim DESC, doc_id) AS rank
             FROM p)
       WHERE rank <= {_HYBRID_DEPTH}),
u AS (
  SELECT query_id, doc_id,
         {_LIN_W_BM25} * (CASE WHEN mx > mn THEN (score - mn) / (mx - mn)
                               ELSE 1.0 END) AS c
  FROM (SELECT query_id, doc_id, score,
               min(score) OVER (PARTITION BY query_id) AS mn,
               max(score) OVER (PARTITION BY query_id) AS mx
        FROM bm)
  UNION ALL
  SELECT query_id, doc_id,
         {_LIN_W_DENSE} * (CASE WHEN mx > mn THEN (score - mn) / (mx - mn)
                                ELSE 1.0 END) AS c
  FROM (SELECT query_id, doc_id, score,
               min(score) OVER (PARTITION BY query_id) AS mn,
               max(score) OVER (PARTITION BY query_id) AS mx
        FROM ar)),
f AS (SELECT query_id, doc_id, sum(c) AS fused_score FROM u GROUP BY 1, 2)
SELECT query_id, doc_id, round(fused_score, 6) AS fused_score,
       CAST(rank AS INT) AS rank
FROM (SELECT query_id, doc_id, fused_score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY fused_score DESC, doc_id) AS rank
      FROM f)
WHERE rank <= {_HYBRID_DEPTH}
"""


register(q_hybrid_linear_topk, _sql_hybrid_linear())


def q_mmr_diverse_topk(spark, sf_dir):
    """MMR diversity re-rank of an exact-cosine top-30 shortlist
    (operators/fusion.mmr_rerank).  FULLY ORACLED:
    greedy sequential selection was the declared applyInPandas
    boundary class ("no relational form"), but a DuckDB RECURSIVE CTE
    replays it exactly — the recursion carries the per-query selected
    set (ids + unit vectors) and a LATERAL argmax performs each greedy
    step with the operator's own tie-break (score desc, rel desc, doc
    id asc).  Score parity is exact at 6 dp because the testdata
    embeddings have 5-dp-quantized pairwise cosines, so every MMR
    score is mathematically an exact 6-dp decimal: both engines'
    float64 evaluations land within ~1e-15 of it, comparisons between
    candidates differ by ≥ 1e-6, and the 6-dp round is 5e-7 from any
    boundary — selection and values replay deterministically.  The
    exact-value/property gates (lam edge cases, failure modes) remain
    in tests/test_fusion.py."""
    from prod2vec_spark.operators.fusion import mmr_rerank

    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    cand = SS.brute_force_topk(emb, probes, k=30).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("cosine_sim").alias("rel"),
    )
    out = mmr_rerank(cand, emb, k=10, lam=0.7)
    return out.withColumn("mmr_score", F.round("mmr_score", 6))
_MMR_LAM, _MMR_K, _MMR_N = 0.7, 10, 30


def _sql_mmr_diverse_topk() -> str:
    """Greedy MMR as a RECURSIVE CTE: state = one row per
    (query, step) carrying the selected ids + unit vectors; each
    recursive step is a LATERAL argmax over the remaining shortlist
    with penalty = max dot against the carried vectors.  Nested
    lambdas can't capture outer lambda variables in DuckDB, so the
    penalty dot unnests BOTH vectors positionally in a correlated
    plain-SQL subquery instead of list_transform."""
    pen = (
        "(SELECT max(dsum) FROM (SELECT (SELECT sum(z.a * z.b) FROM "
        "(SELECT unnest(c.vec) AS a, unnest(u.pv) AS b) z) AS dsum "
        "FROM (SELECT unnest(s.pvecs) AS pv) u) t)"
    )
    return f"""
WITH RECURSIVE
n AS (SELECT vec_id, {_UNIT.format(a='embedding')} AS nvec FROM embeddings),
q AS (SELECT vec_id AS query_id, nvec AS qn FROM n WHERE vec_id < 5),
p AS (SELECT query_id, vec_id AS doc_id,
             ({_DOT.format(a='qn', b='nvec')}) AS sim, nvec
      FROM n CROSS JOIN q WHERE vec_id != query_id),
cand AS (SELECT query_id, doc_id, round(sim, 5) AS rel, nvec AS vec
         FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY sim DESC, doc_id) rn FROM p)
         WHERE rn <= {_MMR_N}),
sel AS (
  SELECT query_id, 1 AS rank, doc_id, {_MMR_LAM} * rel AS mmr_score,
         [doc_id] AS picked, [vec] AS pvecs
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY rel DESC, doc_id) rn FROM cand)
  WHERE rn = 1
  UNION ALL
  SELECT s.query_id, s.rank + 1, best.doc_id, best.mmr_score,
         list_append(s.picked, best.doc_id), list_append(s.pvecs, best.vec)
  FROM sel s, LATERAL (
     SELECT c.doc_id, c.vec,
            {_MMR_LAM} * c.rel - (1 - {_MMR_LAM}) * ({pen}) AS mmr_score,
            c.rel
     FROM cand c
     WHERE c.query_id = s.query_id
       AND NOT list_contains(s.picked, c.doc_id)
     ORDER BY mmr_score DESC, c.rel DESC, c.doc_id
     LIMIT 1
  ) best
  WHERE s.rank < {_MMR_K}
)
SELECT query_id, doc_id, round(mmr_score, 6) AS mmr_score,
       CAST(rank AS INT) AS rank
FROM sel
"""


register(q_mmr_diverse_topk, _sql_mmr_diverse_topk())
