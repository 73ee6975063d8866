"""Language-model and tokenizer queries: Stupid-Backoff and
Kneser-Ney (interpolated, modified, order n) perplexities,
perplexity-driven curriculum and quality agreement, and the
training-input path: BPE/unigram/WordPiece token ids, chunking,
sequence packing and SFT loss masks."""

from __future__ import annotations

import string as _string

from pyspark.sql import functions as F

from prod2vec_spark.operators import text as TX
from prod2vec_spark.queries.common import (
    BPE_FIXED_MERGES,
    KN_DISCOUNT,
    LM_TRAIN_FRAC,
    _SENT_PAT,
    _SQL_SENT_CORPUS,
    _TOKS,
    register,
    sentence_corpus,
)
from prod2vec_spark.sources.io import read_table


# -------------------------------------------------------- doc chunks
_CHUNK_LEN = 32
_CHUNK_STRIDE = 24
_CHUNK_MIN = 8


def q_doc_chunks(spark, sf_dir):
    """Training-sequence chunking: 32-token windows at stride 24
    (8-token overlap), sub-8-token tails dropped; per-chunk rolling
    fingerprint certifies chunk CONTENT through the hash match
    (operators/chunking.py)."""
    from prod2vec_spark.operators.chunking import doc_chunks

    docs = read_table(spark, sf_dir, "documents")
    return doc_chunks(
        docs, seq_len=_CHUNK_LEN, stride=_CHUNK_STRIDE, min_len=_CHUNK_MIN
    )


def _sql_doc_chunks() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, toks,
        unnest(generate_series(1, len(toks), {_CHUNK_STRIDE})) AS st
      FROM t),
c AS (SELECT doc_id,
        CAST((st - 1) / {_CHUNK_STRIDE} AS INT) AS chunk_idx,
        list_slice(toks, st, st + {_CHUNK_LEN - 1}) AS ctoks
      FROM s)
SELECT doc_id, chunk_idx,
       CAST(len(ctoks) AS INT) AS n_tokens,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(ctoks, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % 2147483647)),
         (a, b) -> (a * 131 + b) % 2147483647) AS chunk_fp
FROM c
WHERE len(ctoks) >= {_CHUNK_MIN}
"""


register(q_doc_chunks, _sql_doc_chunks())


# ------------------------------------------------------ pack audit
_PACK_BUDGET = 512
_PACK_SHARDS = 4


def q_pack_audit(spark, sf_dir):
    """Sequence-packing audit: documents packed greedily into
    512-token bins per (lang, shard) — per-bin doc count, token sum,
    and fill ratio, plus the bin's min doc_id as the identity
    checksum so the hash match certifies WHICH docs landed where
    (operators/chunking.pack_sequences)."""
    from prod2vec_spark.operators.chunking import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )
    return packed.groupBy("part", "shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.round(
            F.sum("n_tokens") / F.lit(float(_PACK_BUDGET)), 4
        ).alias("fill_ratio"),
        F.min("doc_id").alias("min_doc_id"),
    )


def _sql_pack_audit() -> str:
    b, ns = _PACK_BUDGET, _PACK_SHARDS
    return f"""
WITH t AS (SELECT doc_id, lang AS part,
             ('0x' || substr(md5('shard|' || doc_id), 1, 8))::BIGINT % {ns}
               AS shard,
             len({_TOKS}) AS n_tokens,
             md5('pack|' || doc_id) AS ord_key
           FROM documents),
p AS (SELECT doc_id, part, shard, n_tokens,
        CAST(floor(CAST(sum(n_tokens) OVER (PARTITION BY part, shard
                                            ORDER BY ord_key, doc_id
                                            ROWS UNBOUNDED PRECEDING)
                        - n_tokens AS DOUBLE) / {b}) AS INT) AS bin
      FROM t)
SELECT part, shard, bin,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(CAST(sum(n_tokens) AS DOUBLE) / {b}.0, 4) AS fill_ratio,
       min(doc_id) AS min_doc_id
FROM p
GROUP BY part, shard, bin
"""


register(q_pack_audit, _sql_pack_audit())


# ------------------------------------------------- LM perplexity
LM_ALPHA = 0.4


def q_lm_perplexity(spark, sf_dir):
    """Per-document bigram-LM score (Stupid Backoff, add-one-smoothed
    backoff leg): is_train 0/1, pair counts, backoff count, mean NLL,
    perplexity.  Counting = two train-side hash-aggs; scoring = one
    shuffle join on the pair key + broadcast unigram/scalar probes
    (operators/lm.py scale notes)."""
    from prod2vec_spark.operators.lm import lm_perplexity

    docs = read_table(spark, sf_dir, "documents")
    return lm_perplexity(
        docs, train_frac=LM_TRAIN_FRAC, alpha=LM_ALPHA, seed="lm"
    )


def _sql_lm_perplexity() -> str:
    return f"""
WITH sp AS (SELECT doc_id, text,
    (('0x' || substr(md5('lm|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
      < {LM_TRAIN_FRAC} AS is_train
  FROM documents),
t AS (SELECT doc_id, is_train, {_TOKS} AS toks FROM sp),
p AS (SELECT doc_id, is_train,
        toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      FROM t, unnest(range(1, len(toks))) AS u(i)),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM p WHERE is_train GROUP BY 1, 2),
c1 AS (SELECT w, count(*) AS c1
       FROM (SELECT unnest(toks) AS w FROM t WHERE is_train) GROUP BY 1),
tot AS (SELECT CAST(sum(c1) AS BIGINT) AS t_tokens,
               count(*) AS v_vocab FROM c1),
sc AS (SELECT p.doc_id, p.is_train,
    CASE WHEN c2.c2 IS NOT NULL THEN CAST(c2.c2 AS DOUBLE) / ca.c1
         ELSE {LM_ALPHA} * (COALESCE(cb.c1, 0) + 1)
              / (tot.t_tokens + tot.v_vocab) END AS prob,
    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS backoff
  FROM p
  LEFT JOIN c2 ON p.w1 = c2.w1 AND p.w2 = c2.w2
  LEFT JOIN c1 ca ON p.w1 = ca.w
  LEFT JOIN c1 cb ON p.w2 = cb.w
  CROSS JOIN tot)
SELECT doc_id, max(CAST(is_train AS BIGINT)) AS is_train,
       count(*) AS n_pairs,
       CAST(sum(backoff) AS BIGINT) AS n_backoff,
       round(avg(-ln(prob)), 4) AS avg_nll,
       round(exp(avg(-ln(prob))), 4) AS ppl
FROM sc GROUP BY doc_id
"""


register(q_lm_perplexity, _sql_lm_perplexity())


# ------------------------------------------ per-language perplexity
def q_lm_by_lang(spark, sf_dir):
    """CCNet-shape per-language LM scoring: one bigram model per
    language estimated in a single grouped computation (lang joins
    every count key), per-doc scores against the doc's own language
    model (operators/lm.py lm_perplexity keyed by lang)."""
    from prod2vec_spark.operators.lm import lm_perplexity

    docs = read_table(spark, sf_dir, "documents")
    return lm_perplexity(
        docs, train_frac=LM_TRAIN_FRAC, alpha=LM_ALPHA, seed="lm",
        group_col="lang",
    )


def _sql_lm_by_lang() -> str:
    return f"""
WITH sp AS (SELECT doc_id, lang, text,
    (('0x' || substr(md5('lm|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
      < {LM_TRAIN_FRAC} AS is_train
  FROM documents),
t AS (SELECT doc_id, lang, is_train, {_TOKS} AS toks FROM sp),
p AS (SELECT doc_id, lang, is_train,
        toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      FROM t, unnest(range(1, len(toks))) AS u(i)),
c2 AS (SELECT lang, w1, w2, count(*) AS c2 FROM p WHERE is_train
       GROUP BY 1, 2, 3),
c1 AS (SELECT lang, w, count(*) AS c1
       FROM (SELECT lang, unnest(toks) AS w FROM t WHERE is_train)
       GROUP BY 1, 2),
tot AS (SELECT lang, CAST(sum(c1) AS BIGINT) AS t_tokens,
               count(*) AS v_vocab FROM c1 GROUP BY 1),
sc AS (SELECT p.doc_id, p.lang, p.is_train,
    CASE WHEN c2.c2 IS NOT NULL THEN CAST(c2.c2 AS DOUBLE) / ca.c1
         ELSE {LM_ALPHA} * (COALESCE(cb.c1, 0) + 1)
              / (tot.t_tokens + tot.v_vocab) END AS prob,
    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS backoff
  FROM p
  LEFT JOIN c2 ON p.lang = c2.lang AND p.w1 = c2.w1 AND p.w2 = c2.w2
  LEFT JOIN c1 ca ON p.lang = ca.lang AND p.w1 = ca.w
  LEFT JOIN c1 cb ON p.lang = cb.lang AND p.w2 = cb.w
  JOIN tot ON p.lang = tot.lang)
SELECT doc_id, lang, max(CAST(is_train AS BIGINT)) AS is_train,
       count(*) AS n_pairs,
       CAST(sum(backoff) AS BIGINT) AS n_backoff,
       round(avg(-ln(prob)), 4) AS avg_nll,
       round(exp(avg(-ln(prob))), 4) AS ppl
FROM sc GROUP BY doc_id, lang
"""


register(q_lm_by_lang, _sql_lm_by_lang())


# ------------------------------------------------ curriculum buckets
def q_curriculum_buckets(spark, sf_dir):
    """Curriculum-ordering assignment: each doc's LM perplexity mapped
    to a difficulty quartile (0 = most fluent … 3 = hardest) — the
    easy-to-hard data-ordering signal curriculum training consumes.
    Thresholds are ONE 3-value percentile aggregate broadcast back
    (the quality_filter shape — never a corpus-wide sort/window)."""
    from prod2vec_spark.operators.lm import lm_perplexity

    docs = read_table(spark, sf_dir, "documents")
    rep = lm_perplexity(
        docs, train_frac=LM_TRAIN_FRAC, alpha=LM_ALPHA, seed="lm"
    ).select("doc_id", "ppl")
    thr = rep.agg(
        F.percentile(
            "ppl", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("t")
    )
    return (
        rep.crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            "ppl",
            F.when(F.col("ppl") <= F.col("t")[0], F.lit(0))
            .when(F.col("ppl") <= F.col("t")[1], F.lit(1))
            .when(F.col("ppl") <= F.col("t")[2], F.lit(2))
            .otherwise(F.lit(3))
            .cast("long")
            .alias("bucket"),
        )
    )


def _sql_curriculum_buckets() -> str:
    return f"""
WITH rep AS (
  SELECT doc_id, ppl FROM ({_sql_lm_perplexity()})
),
thr AS (SELECT quantile_cont(ppl, [0.25, 0.5, 0.75]) AS t FROM rep)
SELECT doc_id, ppl,
  CAST(CASE WHEN ppl <= t[1] THEN 0
            WHEN ppl <= t[2] THEN 1
            WHEN ppl <= t[3] THEN 2
            ELSE 3 END AS BIGINT) AS bucket
FROM rep, thr
"""


register(q_curriculum_buckets, _sql_curriculum_buckets())


# ------------------------------- quality vs perplexity agreement
QPC_FRAC = 0.5  # md5-uniform audit sample — see scale note below
QPC_SEED = "qc"


def q_quality_ppl_spearman(spark, sf_dir):
    """Cross-plane agreement audit: Spearman rank correlation between
    the heuristic quality score and the bigram-LM mean NLL, per
    language (negative = the cheap heuristic and the LM fluency signal
    agree: higher quality <=> lower NLL).  Rank correlation keeps the
    arithmetic EXACT — integer rank differences; Pearson's co-moment
    sums would drift between engines.  Ties in the rounded scores
    break by doc_id, so the rank assignment is deterministic and
    engine-portable.

    Scale note: the audit runs on a seeded md5-uniform sample —
    correlation estimates converge at thousands of rows, so the
    fraction is tuned DOWN as the corpus grows (a fixed-size audit
    regardless of scale); the per-lang window then sorts a bounded
    sample, never the corpus, and sum(d^2) <= n^3 stays far inside
    int64 for any sane audit size (cap ~1e6 rows/lang)."""
    from prod2vec_spark.functions.hashing import hash_unit
    from prod2vec_spark.operators import text as TX
    from prod2vec_spark.operators.lm import lm_perplexity

    docs = read_table(spark, sf_dir, "documents")
    u = hash_unit(F.concat_ws("|", F.lit(QPC_SEED), F.col("doc_id")))
    sample = docs.where(u < QPC_FRAC)
    nll = lm_perplexity(
        sample, train_frac=LM_TRAIN_FRAC, alpha=LM_ALPHA, seed="lm"
    ).select("doc_id", "avg_nll")
    q = sample.select(
        "doc_id", "lang", TX.quality_score(F.col("text")).alias("q")
    )
    j = q.join(nll, "doc_id")
    from prod2vec_spark.functions.stats import spearman_by_group

    return spearman_by_group(
        j, group_col="lang", x_col="q", y_col="avg_nll", id_col="doc_id"
    ).withColumnRenamed("group", "lang")


def _sql_quality_ppl_spearman() -> str:
    # the shared LM oracle reads `documents`; retarget it at the
    # sampled CTE (outer-CTE references are legal in a subquery)
    lm_on_sample = _sql_lm_perplexity().replace("FROM documents", "FROM documents_s")
    return f"""
WITH samp AS (
  SELECT doc_id, lang, text FROM documents
  WHERE ('0x' || substr(md5('{QPC_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        / 4294967296.0 < {QPC_FRAC!r}),
documents_s AS (SELECT * FROM samp),
qs AS (
  SELECT doc_id, lang,
    round((least(1.0, CAST(len(toks) AS DOUBLE) / 20.0)
           + greatest(0.0, 1.0 - 4.0 * round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text), 4))
           + round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)) / 3.0, 4) AS q
  FROM (SELECT doc_id, lang, text, {_TOKS} AS toks FROM samp)),
nll AS (SELECT doc_id, avg_nll FROM ({lm_on_sample})),
j AS (SELECT qs.doc_id, qs.lang, qs.q, nll.avg_nll
      FROM qs JOIN nll ON qs.doc_id = nll.doc_id),
r AS (SELECT lang,
        row_number() OVER (PARTITION BY lang ORDER BY q, doc_id) AS rq,
        row_number() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS rn
      FROM j),
g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum((rq - rn) * (rq - rn)) AS BIGINT) AS sum_d2
      FROM r GROUP BY 1)
SELECT lang, n, sum_d2,
       round(1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0)), 4)
         AS spearman
FROM g WHERE n >= 2
"""


register(q_quality_ppl_spearman, _sql_quality_ppl_spearman())


_B_LEN, _B_STRIDE, _B_MIN = 24, 16, 6


def q_bpe_chunk_budget(spark, sf_dir):
    """Training chunks with BPE-token accounting: the whitespace-token
    slicing contract of ``doc_chunks`` plus ``n_budget_tokens`` — the
    chunk's size in MODEL tokens under a fixed merge table
    (operators/bpe.bpe_counter plugged into the chunker's
    ``count_fn``), so sequence budgets downstream speak tokenizer
    units.  Fully oracled: DuckDB replays the sentinel-wrapped
    replace chain merge-for-merge."""
    from prod2vec_spark.operators.bpe import bpe_counter
    from prod2vec_spark.operators.chunking import doc_chunks

    docs = read_table(spark, sf_dir, "documents")
    return doc_chunks(
        docs,
        seq_len=_B_LEN,
        stride=_B_STRIDE,
        min_len=_B_MIN,
        count_fn=bpe_counter(BPE_FIXED_MERGES),
    ).select(
        "doc_id",
        "chunk_idx",
        "n_tokens",
        "chunk_fp",
        F.col("n_budget_tokens").cast("int").alias("n_budget_tokens"),
    )


def _sql_bpe_word_count(var: str) -> str:
    """DuckDB expression: BPE token count of one word under
    BPE_FIXED_MERGES — the identical sentinel-wrapped replace chain as
    operators/bpe.apply_merges (strip sentinels, wrap every char, one
    replace per merge in order, count surviving close-sentinels)."""

    def w(sym: str) -> str:
        return f"chr(1)||'{sym}'||chr(2)"

    s = (
        "array_to_string(list_transform(str_split("
        f"replace(replace({var}, chr(1), ''), chr(2), ''), ''), "
        "c -> chr(1)||c||chr(2)), '') || " + w("▁")
    )
    for a, b in BPE_FIXED_MERGES:
        s = f"replace({s}, {w(a)}||{w(b)}, {w(a + b)})"
    return f"(length({s}) - length(replace({s}, chr(2), '')))"


def _sql_bpe_chunk_budget() -> str:
    cnt = _sql_bpe_word_count("w")
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, toks,
        unnest(generate_series(1, len(toks), {_B_STRIDE})) AS st
      FROM t),
c AS (SELECT doc_id,
        CAST((st - 1) / {_B_STRIDE} AS INT) AS chunk_idx,
        list_slice(toks, st, st + {_B_LEN - 1}) AS ctoks
      FROM s)
SELECT doc_id, chunk_idx,
       CAST(len(ctoks) AS INT) AS n_tokens,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(ctoks, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % 2147483647)),
         (a, b) -> (a * 131 + b) % 2147483647) AS chunk_fp,
       CAST(list_sum(list_transform(ctoks, w -> {cnt})) AS INT)
         AS n_budget_tokens
FROM c
WHERE len(ctoks) >= {_B_MIN}
"""


register(q_bpe_chunk_budget, _sql_bpe_chunk_budget())


# --------------------------------------------- token-id sequences
def q_token_id_sequences(spark, sf_dir):
    """Each document's model-token ID sequence under the fixed merge
    table — the actual LM training input: encode (zero-shuffle
    replace chain) → frequency-ranked vocab (ids from 1, UNK=0
    reserved) → broadcast probe → position-ordered reassembly.
    Output keeps the sequence comparable as scalars: (doc_id, n_ids,
    n_unk, ids_md5) with ids_md5 = md5 of the comma-joined ids
    (operators/bpe.token_vocab / token_id_sequences)."""
    from prod2vec_spark.operators.bpe import token_id_sequences, token_vocab

    docs = read_table(spark, sf_dir, "documents")
    vocab = token_vocab(docs, BPE_FIXED_MERGES)
    seqs = token_id_sequences(docs, BPE_FIXED_MERGES, vocab)
    return seqs.select(
        "doc_id",
        "n_ids",
        "n_unk",
        F.md5(F.concat_ws(",", F.transform("ids", lambda x: x.cast("string"))))
        .alias("ids_md5"),
    )


def _sql_token_id_sequences() -> str:
    def w(sym: str) -> str:
        return f"chr(1)||'{sym}'||chr(2)"

    # encoded string of one word (the _sql_bpe_word_count chain,
    # without the count wrapper)
    s = (
        "array_to_string(list_transform(str_split("
        "replace(replace(word, chr(1), ''), chr(2), ''), ''), "
        "c -> chr(1)||c||chr(2)), '') || " + w("▁")
    )
    for a, b in BPE_FIXED_MERGES:
        s = f"replace({s}, {w(a)}||{w(b)}, {w(a + b)})"
    toklist = (
        f"list_filter(list_transform(str_split({s}, chr(1)), "
        "p -> replace(p, chr(2), '')), p -> p <> '')"
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
wd AS (SELECT doc_id, CAST(i AS BIGINT) AS wi,
         toks[CAST(i AS INT)] AS word
       FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       WHERE len(toks) > 0),
enc AS (SELECT doc_id, wi, {toklist} AS wtoks FROM wd),
tok AS (SELECT doc_id, wi, CAST(j AS BIGINT) AS ti,
          wtoks[CAST(j AS INT)] AS token
        FROM enc, unnest(range(1, len(wtoks) + 1)) AS v(j)),
vc AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
vid AS (SELECT token,
          CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
            AS token_id
        FROM vc),
m AS (SELECT tok.doc_id, tok.wi, tok.ti, vid.token_id AS tid
      FROM tok JOIN vid USING (token))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_ids,
       CAST(0 AS BIGINT) AS n_unk,
       md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY wi, ti))
         AS ids_md5
FROM m GROUP BY doc_id
"""


register(q_token_id_sequences, _sql_token_id_sequences())


# --------------------------------------------- packed input_ids
_PK_BUDGET = 64
_PK_SHARDS = 2


def q_packed_input_ids(spark, sf_dir):
    """The packing plane's final form certified end-to-end: per
    (lang, shard, bin) training example with the concatenated
    input_ids payload — compared as scalars (sizes + md5 of the
    comma-joined ids + md5 of the doc lineage in pack order)
    (operators/chunking.pack_token_ids)."""
    from prod2vec_spark.operators.bpe import token_vocab
    from prod2vec_spark.operators.chunking import pack_token_ids

    docs = read_table(spark, sf_dir, "documents")
    vocab = token_vocab(docs, BPE_FIXED_MERGES)
    out = pack_token_ids(
        docs, BPE_FIXED_MERGES, vocab,
        budget=_PK_BUDGET, n_shards=_PK_SHARDS,
    )
    as_csv = lambda col: F.concat_ws(  # noqa: E731
        ",", F.transform(col, lambda x: x.cast("string"))
    )
    return out.select(
        F.col("part"),
        F.col("shard").cast("long").alias("shard"),
        F.col("bin").cast("long").alias("bin"),
        "n_ids",
        F.md5(as_csv(F.col("input_ids"))).alias("ids_md5"),
        F.md5(as_csv(F.col("doc_ids"))).alias("docs_md5"),
    )


def _sql_packed_input_ids() -> str:
    import re

    base = _sql_token_id_sequences()
    # reuse the token-id chain up to the per-token mapping CTE `m`,
    # then add per-doc csv/count, the pack window, and the bin rollup
    # the FINAL select of the base chain starts at the LAST
    # "SELECT doc_id," (the t CTE also begins with that text)
    prefix = base[: base.rindex("SELECT doc_id,")].rstrip()
    return f"""{prefix},
perdoc AS (SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_ids,
         string_agg(CAST(tid AS VARCHAR), ',' ORDER BY wi, ti) AS ids_csv
       FROM m GROUP BY doc_id),
pk AS (SELECT d.doc_id, d.lang AS part,
         ('0x' || substr(md5('shard|' || d.doc_id), 1, 8))::BIGINT
           % {_PK_SHARDS} AS shard,
         md5('pack|' || d.doc_id) AS ord_key,
         p.n_ids, p.ids_csv
       FROM documents d JOIN perdoc p USING (doc_id)),
bins AS (SELECT *,
           CAST(floor((sum(n_ids) OVER (
                   PARTITION BY part, shard
                   ORDER BY ord_key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_ids) / {_PK_BUDGET}.0) AS BIGINT) AS bin
         FROM pk)
SELECT part, shard, bin,
       CAST(sum(n_ids) AS BIGINT) AS n_ids,
       md5(string_agg(ids_csv, ',' ORDER BY ord_key, doc_id)) AS ids_md5,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY ord_key, doc_id))
         AS docs_md5
FROM bins GROUP BY 1, 2, 3
"""


register(q_packed_input_ids, _sql_packed_input_ids())


def q_kn_perplexity(spark, sf_dir):
    """Per-document bigram perplexity under interpolated Kneser-Ney
    smoothing (operators/lm.knn_perplexity at order=2) — the
    continuation-count smoothing family next to the catalog's
    Stupid-Backoff entries; same md5-uniform train split, same rounded
    (avg_nll, ppl) contract; n_unseen counts pairs absent from the
    train bigram table."""
    from prod2vec_spark.operators.lm import knn_perplexity

    docs = read_table(spark, sf_dir, "documents")
    return knn_perplexity(
        docs, order=2, train_frac=LM_TRAIN_FRAC, discount=KN_DISCOUNT,
        seed="lm",
    ).select(
        "doc_id", "is_train", F.col("n_grams").alias("n_pairs"),
        F.col("n_bo").alias("n_unseen"), "avg_nll", "ppl",
    )


def _sql_kn_perplexity() -> str:
    return f"""
WITH sp AS (SELECT doc_id, text,
    (('0x' || substr(md5('lm|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
      < {LM_TRAIN_FRAC} AS is_train
  FROM documents),
t AS (SELECT doc_id, is_train, {_TOKS} AS toks FROM sp),
p AS (SELECT doc_id, is_train,
        toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      FROM t, unnest(range(1, len(toks))) AS u(i)),
c2 AS (SELECT w1, w2, count(*) AS c2 FROM p WHERE is_train GROUP BY 1, 2),
lft AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS den,
               count(*) AS n1p_left FROM c2 GROUP BY 1),
rgt AS (SELECT w2, count(*) AS n1p_right FROM c2 GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM c2) AS n_types,
               (SELECT count(DISTINCT w)
                FROM (SELECT unnest(toks) AS w FROM t WHERE is_train))
                 AS v_vocab),
sc AS (SELECT p.doc_id, p.is_train,
    -- every operand forced to DOUBLE so DuckDB's DECIMAL propagation
    -- can never drift from Spark's IEEE arithmetic
    CASE WHEN lft.den IS NOT NULL THEN
      GREATEST(CAST(COALESCE(c2.c2, 0) AS DOUBLE) - CAST({KN_DISCOUNT} AS DOUBLE), CAST(0 AS DOUBLE))
        / CAST(lft.den AS DOUBLE)
      + (CAST({KN_DISCOUNT} AS DOUBLE) * CAST(lft.n1p_left AS DOUBLE)
         / CAST(lft.den AS DOUBLE))
        * ((CAST(COALESCE(rgt.n1p_right, 0) AS DOUBLE) + 1)
           / CAST(tot.n_types + tot.v_vocab + 1 AS DOUBLE))
    ELSE (CAST(COALESCE(rgt.n1p_right, 0) AS DOUBLE) + 1)
         / CAST(tot.n_types + tot.v_vocab + 1 AS DOUBLE) END AS prob,
    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS unseen
  FROM p
  LEFT JOIN c2 ON p.w1 = c2.w1 AND p.w2 = c2.w2
  LEFT JOIN lft ON p.w1 = lft.w1
  LEFT JOIN rgt ON p.w2 = rgt.w2
  CROSS JOIN tot)
SELECT doc_id, max(CAST(is_train AS BIGINT)) AS is_train,
       count(*) AS n_pairs,
       CAST(sum(unseen) AS BIGINT) AS n_unseen,
       round(avg(-ln(prob)), 4) AS avg_nll,
       round(exp(avg(-ln(prob))), 4) AS ppl
FROM sc GROUP BY doc_id
"""


register(q_kn_perplexity, _sql_kn_perplexity())


def q_kn_by_lang(spark, sf_dir):
    """Per-language interpolated Kneser-Ney scoring (CCNet deployment
    shape): one KN model per language in a single grouped computation
    — the lang column joins every count key; languages with no
    training bigrams are absent (inner totals join;
    operators/lm.knn_perplexity keyed by lang)."""
    from prod2vec_spark.operators.lm import knn_perplexity

    docs = read_table(spark, sf_dir, "documents")
    return knn_perplexity(
        docs, order=2, train_frac=LM_TRAIN_FRAC, discount=KN_DISCOUNT,
        seed="lm", group_col="lang",
    ).select(
        "doc_id", "lang", "is_train", F.col("n_grams").alias("n_pairs"),
        F.col("n_bo").alias("n_unseen"), "avg_nll", "ppl",
    )


def _sql_kn_by_lang() -> str:
    return f"""
WITH sp AS (SELECT doc_id, lang, text,
    (('0x' || substr(md5('lm|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
      < {LM_TRAIN_FRAC} AS is_train
  FROM documents),
t AS (SELECT doc_id, lang, is_train, {_TOKS} AS toks FROM sp),
p AS (SELECT doc_id, lang, is_train,
        toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
      FROM t, unnest(range(1, len(toks))) AS u(i)),
c2 AS (SELECT lang, w1, w2, count(*) AS c2
       FROM p WHERE is_train GROUP BY 1, 2, 3),
lft AS (SELECT lang, w1, CAST(sum(c2) AS BIGINT) AS den,
               count(*) AS n1p_left FROM c2 GROUP BY 1, 2),
rgt AS (SELECT lang, w2, count(*) AS n1p_right FROM c2 GROUP BY 1, 2),
tot AS (SELECT ty.lang, ty.n_types, vv.v_vocab
        FROM (SELECT lang, count(*) AS n_types FROM c2 GROUP BY 1) ty
        JOIN (SELECT lang, count(DISTINCT w) AS v_vocab
              FROM (SELECT lang, unnest(toks) AS w FROM t WHERE is_train)
              GROUP BY 1) vv USING (lang)),
sc AS (SELECT p.doc_id, p.lang, p.is_train,
    CASE WHEN lft.den IS NOT NULL THEN
      GREATEST(CAST(COALESCE(c2.c2, 0) AS DOUBLE) - CAST({KN_DISCOUNT} AS DOUBLE), CAST(0 AS DOUBLE))
        / CAST(lft.den AS DOUBLE)
      + (CAST({KN_DISCOUNT} AS DOUBLE) * CAST(lft.n1p_left AS DOUBLE)
         / CAST(lft.den AS DOUBLE))
        * ((CAST(COALESCE(rgt.n1p_right, 0) AS DOUBLE) + 1)
           / CAST(tot.n_types + tot.v_vocab + 1 AS DOUBLE))
    ELSE (CAST(COALESCE(rgt.n1p_right, 0) AS DOUBLE) + 1)
         / CAST(tot.n_types + tot.v_vocab + 1 AS DOUBLE) END AS prob,
    CASE WHEN c2.c2 IS NULL THEN 1 ELSE 0 END AS unseen
  FROM p
  LEFT JOIN c2 ON p.lang = c2.lang AND p.w1 = c2.w1 AND p.w2 = c2.w2
  LEFT JOIN lft ON p.lang = lft.lang AND p.w1 = lft.w1
  LEFT JOIN rgt ON p.lang = rgt.lang AND p.w2 = rgt.w2
  JOIN tot ON p.lang = tot.lang)
SELECT doc_id, lang, max(CAST(is_train AS BIGINT)) AS is_train,
       count(*) AS n_pairs,
       CAST(sum(unseen) AS BIGINT) AS n_unseen,
       round(avg(-ln(prob)), 4) AS avg_nll,
       round(exp(avg(-ln(prob))), 4) AS ppl
FROM sc GROUP BY doc_id, lang
"""


register(q_kn_by_lang, _sql_kn_by_lang())


def _kn3_report(spark, sf_dir, discounts=None):
    """Order-3 KN fit on the md5-uniform train split, every doc
    scored: (doc_id, is_train, n_triples, n_bo1 — triples absent from
    the trigram table —, n_bo2 — continuation bigram absent too —,
    avg_nll, ppl), aggregated off operators/lm's per-gram rows.
    ``discounts``: per-level modified triples; None = single D."""
    from prod2vec_spark.operators.lm import (
        _knn_gram_rows,
        fit_knn,
        with_train_split,
    )

    docs = read_table(spark, sf_dir, "documents")
    tagged = with_train_split(docs, LM_TRAIN_FRAC, seed="lm")
    model = fit_knn(tagged.where(F.col("is_train")), order=3)
    c3_absent = F.col("c3").isNull()
    return (
        _knn_gram_rows(
            tagged, model, discount=KN_DISCOUNT, discounts=discounts
        )
        .groupBy("doc_id")
        .agg(
            F.max(F.col("is_train").cast("long")).alias("is_train"),
            F.count(F.lit(1)).alias("n_triples"),
            F.sum(c3_absent.cast("long")).alias("n_bo1"),
            F.sum(
                (c3_absent & F.col("c2").isNull()).cast("long")
            ).alias("n_bo2"),
            F.round(F.avg(-F.log("prob")), 4).alias("avg_nll"),
            F.round(F.exp(F.avg(-F.log("prob"))), 4).alias("ppl"),
        )
    )


def q_kn3_perplexity(spark, sf_dir):
    """Per-document TRIGRAM perplexity under interpolated Kneser-Ney
    smoothing (operators/lm order-3 chain) — the order-3 extension
    of the kn_perplexity entry: three-leg
    interpolation through continuation-count lower orders, same
    md5-uniform train split, same rounded (avg_nll, ppl) contract."""
    return _kn3_report(spark, sf_dir)


def _sql_kn3_perplexity() -> str:
    """DuckDB twin of the three-leg chain — every operand forced to
    DOUBLE in Spark's association order (the kn_perplexity
    convention) so the IEEE arithmetic replays bit-for-bit before the
    4-digit round.  P2 (the continuation-bigram leg) is inlined into
    both branches of the P3 CASE exactly as Catalyst evaluates it."""
    D = f"CAST({KN_DISCOUNT} AS DOUBLE)"
    p1 = (
        "((CAST(COALESCE(r3.n1p_r3, 0) AS DOUBLE) + 1)"
        " / CAST(tot.n_types2p + tot.v_vocab + 1 AS DOUBLE))"
    )
    p2 = f"""CASE WHEN mid.den2p IS NOT NULL THEN
      GREATEST(CAST(COALESCE(c2p.c2p, 0) AS DOUBLE) - {D}, CAST(0 AS DOUBLE))
        / CAST(mid.den2p AS DOUBLE)
      + ({D} * CAST(mid.n1p_mid AS DOUBLE) / CAST(mid.den2p AS DOUBLE))
        * {p1}
    ELSE {p1} END"""
    return f"""
WITH sp AS (SELECT doc_id, text,
    (('0x' || substr(md5('lm|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
      < {LM_TRAIN_FRAC} AS is_train
  FROM documents),
t AS (SELECT doc_id, is_train, {_TOKS} AS toks FROM sp),
tr AS (SELECT doc_id, is_train,
        toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2,
        toks[CAST(i AS INT) + 2] AS w3
      FROM t, unnest(range(1, len(toks) - 1)) AS u(i)),
c3 AS (SELECT w1, w2, w3, count(*) AS c3
       FROM tr WHERE is_train GROUP BY 1, 2, 3),
ctx AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS den12,
               count(*) AS n1p_ctx FROM c3 GROUP BY 1, 2),
c2p AS (SELECT w2, w3, count(*) AS c2p FROM c3 GROUP BY 1, 2),
mid AS (SELECT w2, CAST(sum(c2p) AS BIGINT) AS den2p,
               count(*) AS n1p_mid FROM c2p GROUP BY 1),
r3 AS (SELECT w3, count(*) AS n1p_r3 FROM c2p GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM c2p) AS n_types2p,
               (SELECT count(DISTINCT w)
                FROM (SELECT unnest(toks) AS w FROM t WHERE is_train))
                 AS v_vocab),
sc AS (SELECT tr.doc_id, tr.is_train,
    CASE WHEN ctx.den12 IS NOT NULL THEN
      GREATEST(CAST(COALESCE(c3.c3, 0) AS DOUBLE) - {D}, CAST(0 AS DOUBLE))
        / CAST(ctx.den12 AS DOUBLE)
      + ({D} * CAST(ctx.n1p_ctx AS DOUBLE) / CAST(ctx.den12 AS DOUBLE))
        * ({p2})
    ELSE ({p2}) END AS prob,
    CASE WHEN c3.c3 IS NULL THEN 1 ELSE 0 END AS bo1,
    CASE WHEN c3.c3 IS NULL AND c2p.c2p IS NULL THEN 1 ELSE 0 END AS bo2
  FROM tr
  LEFT JOIN c3 ON tr.w1 = c3.w1 AND tr.w2 = c3.w2 AND tr.w3 = c3.w3
  LEFT JOIN ctx ON tr.w1 = ctx.w1 AND tr.w2 = ctx.w2
  LEFT JOIN c2p ON tr.w2 = c2p.w2 AND tr.w3 = c2p.w3
  LEFT JOIN mid ON tr.w2 = mid.w2
  LEFT JOIN r3 ON tr.w3 = r3.w3
  CROSS JOIN tot)
SELECT doc_id, max(CAST(is_train AS BIGINT)) AS is_train,
       count(*) AS n_triples,
       CAST(sum(bo1) AS BIGINT) AS n_bo1,
       CAST(sum(bo2) AS BIGINT) AS n_bo2,
       round(avg(-ln(prob)), 4) AS avg_nll,
       round(exp(avg(-ln(prob))), 4) AS ppl
FROM sc GROUP BY doc_id
"""


register(q_kn3_perplexity, _sql_kn3_perplexity())


# --------------------------------- unigram-fed packed accounting
# Fixed literal piece table (the BPE_FIXED_MERGES
# trick at the unigram seam): four 2-char pieces with PAIRWISE-DISJOINT
# alphabets and no self-borders, each at logprob -1.0 while absent
# chars score the floor (min-100).  Consequences, provable: (a) piece
# occurrences in any word are pairwise non-overlapping, (b) taking
# every occurrence strictly dominates any alternative segmentation, so
# the Viterbi optimum is UNIQUE and equals the replace-chain
# segmentation — which is what lets DuckDB replay a Viterbi-fed
# pipeline without a SQL Viterbi.  The contract under test is the REAL
# encoder (operators/unigram.unigram_tokens runs the actual DP);
# train_unigram is pytest-certified separately.
UNI_FIXED_PIECES: list[tuple[str, float]] = [
    ("th", -1.0), ("er", -1.0), ("in", -1.0), ("qu", -1.0),
]
_UPK_BUDGET, _UPK_SHARDS = 64, 2


def q_packed_unigram_ids(spark, sf_dir):
    """The packing plane's final form under the UNIGRAM tokenizer
    family, certified end-to-end (the packed_input_ids contract with
    tokens_fn = the real Viterbi encoder over UNI_FIXED_PIECES): per
    (lang, shard, bin) training example with sizes + md5 of the
    concatenated ids + md5 of the doc lineage in pack order."""
    from prod2vec_spark.operators.bpe import token_vocab
    from prod2vec_spark.operators.chunking import pack_token_ids
    from prod2vec_spark.operators.unigram import (
        unigram_counter,
        unigram_tokens,
    )

    tokens_fn = lambda c: unigram_tokens(c, UNI_FIXED_PIECES)  # noqa: E731
    docs = read_table(spark, sf_dir, "documents")
    vocab = token_vocab(docs, [], tokens_fn=tokens_fn)
    out = pack_token_ids(
        docs, [], vocab,
        budget=_UPK_BUDGET, n_shards=_UPK_SHARDS,
        tokens_fn=tokens_fn, count_fn=unigram_counter(UNI_FIXED_PIECES),
    )
    as_csv = lambda col: F.concat_ws(  # noqa: E731
        ",", F.transform(col, lambda x: x.cast("string"))
    )
    return out.select(
        F.col("part"),
        F.col("shard").cast("long").alias("shard"),
        F.col("bin").cast("long").alias("bin"),
        "n_ids",
        F.md5(as_csv(F.col("input_ids"))).alias("ids_md5"),
        F.md5(as_csv(F.col("doc_ids"))).alias("docs_md5"),
    )


def _sql_packed_unigram_ids() -> str:
    """DuckDB twin: the unique-Viterbi-optimum segmentation as a
    sentinel replace chain (module comment above proves equality),
    then the identical vocab ranking, md5 shard hash, md5 pack order,
    and cumulative-sum bin rollup as the BPE packed_input_ids twin."""
    def w(sym: str) -> str:
        return f"chr(1)||'{sym}'||chr(2)"

    s = (
        "array_to_string(list_transform(str_split("
        "replace(replace(word, chr(1), ''), chr(2), ''), ''), "
        "c -> chr(1)||c||chr(2)), '') || " + w("▁")
    )
    for piece, _ in UNI_FIXED_PIECES:
        a, b = piece[0], piece[1]
        s = f"replace({s}, {w(a)}||{w(b)}, {w(piece)})"
    toklist = (
        f"list_filter(list_transform(str_split({s}, chr(1)), "
        "p -> replace(p, chr(2), '')), p -> p <> '')"
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
wd AS (SELECT doc_id, CAST(i AS BIGINT) AS wi,
         toks[CAST(i AS INT)] AS word
       FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       WHERE len(toks) > 0),
enc AS (SELECT doc_id, wi, {toklist} AS wtoks FROM wd),
tok AS (SELECT doc_id, wi, CAST(j AS BIGINT) AS ti,
          wtoks[CAST(j AS INT)] AS token
        FROM enc, unnest(range(1, len(wtoks) + 1)) AS v(j)),
vc AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
vid AS (SELECT token,
          CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
            AS token_id
        FROM vc),
m AS (SELECT tok.doc_id, tok.wi, tok.ti, vid.token_id AS tid
      FROM tok JOIN vid USING (token)),
perdoc AS (SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_ids,
         string_agg(CAST(tid AS VARCHAR), ',' ORDER BY wi, ti) AS ids_csv
       FROM m GROUP BY doc_id),
pk AS (SELECT d.doc_id, d.lang AS part,
         ('0x' || substr(md5('shard|' || d.doc_id), 1, 8))::BIGINT
           % {_UPK_SHARDS} AS shard,
         md5('pack|' || d.doc_id) AS ord_key,
         p.n_ids, p.ids_csv
       FROM documents d JOIN perdoc p USING (doc_id)),
bins AS (SELECT *,
           CAST(floor((sum(n_ids) OVER (
                   PARTITION BY part, shard
                   ORDER BY ord_key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_ids) / {_UPK_BUDGET}.0) AS BIGINT) AS bin
         FROM pk)
SELECT part, shard, bin,
       CAST(sum(n_ids) AS BIGINT) AS n_ids,
       md5(string_agg(ids_csv, ',' ORDER BY ord_key, doc_id)) AS ids_md5,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY ord_key, doc_id))
         AS docs_md5
FROM bins GROUP BY 1, 2, 3
"""


register(q_packed_unigram_ids, _sql_packed_unigram_ids())


# ------------------------------------ MODIFIED Kneser-Ney (trigram)
# Pinned literal discounts (the scorer is the contract under test —
# estimate_mkn_discounts is pytest-certified separately, and literal
# discounts are what let the twin replay without re-deriving
# counts-of-counts in SQL).
KN3M_D3 = (0.5, 1.1, 1.6)
KN3M_D2 = (0.4, 0.9, 1.3)


def q_kn3m_perplexity(spark, sf_dir):
    """Per-document trigram perplexity under MODIFIED Kneser-Ney
    (Chen & Goodman 1999 §3: count-dependent discounts D1/D2/D3+ per
    level, λ reassigning exactly the removed mass through per-context
    count-of-count splits) — fit on the md5-uniform train split, score
    every doc (_kn3_report with per-level discount triples)."""
    return _kn3_report(spark, sf_dir, {3: KN3M_D3, 2: KN3M_D2})


def _sql_kn3m_perplexity() -> str:
    """DuckDB twin of the modified three-leg chain: per-level CASE
    discounts on the n-gram's own count + count-of-count-weighted λ,
    every operand DOUBLE in Spark's association order (left-assoc λ
    sums) — the _sql_kn3_perplexity conventions with the modified
    formula."""
    def D(col: str, d: tuple) -> str:
        return (
            f"CASE WHEN {col} >= 3 THEN CAST({d[2]} AS DOUBLE) "
            f"WHEN {col} = 2 THEN CAST({d[1]} AS DOUBLE) "
            f"WHEN {col} = 1 THEN CAST({d[0]} AS DOUBLE) "
            f"ELSE CAST(0 AS DOUBLE) END"
        )

    d3, d2 = KN3M_D3, KN3M_D2
    p1 = (
        "((CAST(COALESCE(r3.n1p_r3, 0) AS DOUBLE) + 1)"
        " / CAST(tot.n_types2p + tot.v_vocab + 1 AS DOUBLE))"
    )
    lam2 = (
        f"((CAST({d2[0]} AS DOUBLE) * CAST(mid.n1_mid AS DOUBLE)"
        f" + CAST({d2[1]} AS DOUBLE) * CAST(mid.n2_mid AS DOUBLE)"
        f" + CAST({d2[2]} AS DOUBLE) * CAST(mid.n3p_mid AS DOUBLE))"
        f" / CAST(mid.den2p AS DOUBLE))"
    )
    c2v = "COALESCE(c2p.c2p, 0)"
    p2 = f"""CASE WHEN mid.den2p IS NOT NULL THEN
      GREATEST(CAST({c2v} AS DOUBLE) - {D(c2v, d2)}, CAST(0 AS DOUBLE))
        / CAST(mid.den2p AS DOUBLE)
      + {lam2} * {p1}
    ELSE {p1} END"""
    lam12 = (
        f"((CAST({d3[0]} AS DOUBLE) * CAST(ctx.n1_ctx AS DOUBLE)"
        f" + CAST({d3[1]} AS DOUBLE) * CAST(ctx.n2_ctx AS DOUBLE)"
        f" + CAST({d3[2]} AS DOUBLE) * CAST(ctx.n3p_ctx AS DOUBLE))"
        f" / CAST(ctx.den12 AS DOUBLE))"
    )
    c3v = "COALESCE(c3.c3, 0)"
    return f"""
WITH sp AS (SELECT doc_id, text,
    (('0x' || substr(md5('lm|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
      < {LM_TRAIN_FRAC} AS is_train
  FROM documents),
t AS (SELECT doc_id, is_train, {_TOKS} AS toks FROM sp),
tr AS (SELECT doc_id, is_train,
        toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2,
        toks[CAST(i AS INT) + 2] AS w3
      FROM t, unnest(range(1, len(toks) - 1)) AS u(i)),
c3 AS (SELECT w1, w2, w3, count(*) AS c3
       FROM tr WHERE is_train GROUP BY 1, 2, 3),
ctx AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS den12,
               count(*) AS n1p_ctx,
               CAST(sum(CASE WHEN c3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_ctx,
               CAST(sum(CASE WHEN c3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2_ctx,
               CAST(sum(CASE WHEN c3 >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3p_ctx
        FROM c3 GROUP BY 1, 2),
c2p AS (SELECT w2, w3, count(*) AS c2p FROM c3 GROUP BY 1, 2),
mid AS (SELECT w2, CAST(sum(c2p) AS BIGINT) AS den2p,
               count(*) AS n1p_mid,
               CAST(sum(CASE WHEN c2p = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_mid,
               CAST(sum(CASE WHEN c2p = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2_mid,
               CAST(sum(CASE WHEN c2p >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3p_mid
        FROM c2p GROUP BY 1),
r3 AS (SELECT w3, count(*) AS n1p_r3 FROM c2p GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM c2p) AS n_types2p,
               (SELECT count(DISTINCT w)
                FROM (SELECT unnest(toks) AS w FROM t WHERE is_train))
                 AS v_vocab),
sc AS (SELECT tr.doc_id, tr.is_train,
    CASE WHEN ctx.den12 IS NOT NULL THEN
      GREATEST(CAST({c3v} AS DOUBLE) - {D(c3v, d3)}, CAST(0 AS DOUBLE))
        / CAST(ctx.den12 AS DOUBLE)
      + {lam12} * ({p2})
    ELSE ({p2}) END AS prob,
    CASE WHEN c3.c3 IS NULL THEN 1 ELSE 0 END AS bo1,
    CASE WHEN c3.c3 IS NULL AND c2p.c2p IS NULL THEN 1 ELSE 0 END AS bo2
  FROM tr
  LEFT JOIN c3 ON tr.w1 = c3.w1 AND tr.w2 = c3.w2 AND tr.w3 = c3.w3
  LEFT JOIN ctx ON tr.w1 = ctx.w1 AND tr.w2 = ctx.w2
  LEFT JOIN c2p ON tr.w2 = c2p.w2 AND tr.w3 = c2p.w3
  LEFT JOIN mid ON tr.w2 = mid.w2
  LEFT JOIN r3 ON tr.w3 = r3.w3
  CROSS JOIN tot)
SELECT doc_id, max(CAST(is_train AS BIGINT)) AS is_train,
       count(*) AS n_triples,
       CAST(sum(bo1) AS BIGINT) AS n_bo1,
       CAST(sum(bo2) AS BIGINT) AS n_bo2,
       round(avg(-ln(prob)), 4) AS avg_nll,
       round(exp(avg(-ln(prob))), 4) AS ppl
FROM sc GROUP BY doc_id
"""


register(q_kn3m_perplexity, _sql_kn3m_perplexity())


# ------------------------------- wordpiece-fed packed accounting
# Fixed literal WordPiece vocab (the packed_unigram_ids trick, third
# family): the four disjoint-alphabet 2-char pieces in bare AND ##
# continuation form, plus every printable-ASCII single char (bare and
# ##) so greedy longest-match never sticks on ASCII words — greedy
# left-to-right over non-overlapping pieces provably equals the
# replace-chain segmentation, with ## marking by position.  Words
# containing anything outside printable ASCII take BERT's whole-word
# [UNK]; empty words produce no tokens.
_WP_SINGLES = [c for c in _string.printable if not c.isspace()]
WP_FIXED_VOCAB: list[str] = (
    ["th", "er", "in", "qu"]
    + ["##th", "##er", "##in", "##qu"]
    + _WP_SINGLES
    + ["##" + c for c in _WP_SINGLES]
    + ["[UNK]"]
)


def q_packed_wordpiece_ids(spark, sf_dir):
    """The packing plane under the WORDPIECE tokenizer family,
    certified end-to-end (the packed_input_ids contract with
    tokens_fn = the real greedy longest-match encoder over
    WP_FIXED_VOCAB): per (lang, shard, bin) training example with
    sizes + md5 of the concatenated ids + md5 of the doc lineage in
    pack order."""
    from prod2vec_spark.operators.bpe import token_vocab
    from prod2vec_spark.operators.chunking import pack_token_ids
    from prod2vec_spark.operators.wordpiece import (
        wordpiece_counter,
        wordpiece_tokens,
    )

    tokens_fn = lambda c: wordpiece_tokens(c, WP_FIXED_VOCAB)  # noqa: E731
    docs = read_table(spark, sf_dir, "documents")
    vocab = token_vocab(docs, [], tokens_fn=tokens_fn)
    out = pack_token_ids(
        docs, [], vocab,
        budget=_UPK_BUDGET, n_shards=_UPK_SHARDS,
        tokens_fn=tokens_fn, count_fn=wordpiece_counter(WP_FIXED_VOCAB),
    )
    as_csv = lambda col: F.concat_ws(  # noqa: E731
        ",", F.transform(col, lambda x: x.cast("string"))
    )
    return out.select(
        F.col("part"),
        F.col("shard").cast("long").alias("shard"),
        F.col("bin").cast("long").alias("bin"),
        "n_ids",
        F.md5(as_csv(F.col("input_ids"))).alias("ids_md5"),
        F.md5(as_csv(F.col("doc_ids"))).alias("docs_md5"),
    )


def _sql_packed_wordpiece_ids() -> str:
    """DuckDB twin: the greedy-equals-replace-chain segmentation with
    position-based ## marking, BERT whole-word [UNK] for non-printable-
    ASCII words, then the identical vocab/shard/pack/bin chain as the
    unigram twin."""
    def w(sym: str) -> str:
        return f"chr(1)||'{sym}'||chr(2)"

    s = (
        "array_to_string(list_transform(str_split("
        "replace(replace(word, chr(1), ''), chr(2), ''), ''), "
        "c -> chr(1)||c||chr(2)), '')"
    )
    for piece in ("th", "er", "in", "qu"):
        a, b = piece[0], piece[1]
        s = f"replace({s}, {w(a)}||{w(b)}, {w(piece)})"
    seglist = (
        f"list_filter(list_transform(str_split({s}, chr(1)), "
        "p -> replace(p, chr(2), '')), p -> p <> '')"
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
wd AS (SELECT doc_id, CAST(i AS BIGINT) AS wi,
         toks[CAST(i AS INT)] AS word
       FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
       WHERE len(toks) > 0),
enc AS (SELECT doc_id, wi,
          CASE WHEN word = '' THEN []::VARCHAR[]
               WHEN NOT regexp_matches(word, '^[!-~]+$') THEN ['[UNK]']
               ELSE {seglist} END AS wtoks
        FROM wd),
tok AS (SELECT doc_id, wi, CAST(j AS BIGINT) AS ti,
          CASE WHEN j = 1 THEN wtoks[CAST(j AS INT)]
               ELSE '##' || wtoks[CAST(j AS INT)] END AS token
        FROM enc, unnest(range(1, len(wtoks) + 1)) AS v(j)),
vc AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
vid AS (SELECT token,
          CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
            AS token_id
        FROM vc),
m AS (SELECT tok.doc_id, tok.wi, tok.ti, vid.token_id AS tid
      FROM tok JOIN vid USING (token)),
perdoc AS (SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_ids,
         string_agg(CAST(tid AS VARCHAR), ',' ORDER BY wi, ti) AS ids_csv
       FROM m GROUP BY doc_id),
pk AS (SELECT d.doc_id, d.lang AS part,
         ('0x' || substr(md5('shard|' || d.doc_id), 1, 8))::BIGINT
           % {_UPK_SHARDS} AS shard,
         md5('pack|' || d.doc_id) AS ord_key,
         p.n_ids, p.ids_csv
       FROM documents d JOIN perdoc p USING (doc_id)),
bins AS (SELECT *,
           CAST(floor((sum(n_ids) OVER (
                   PARTITION BY part, shard
                   ORDER BY ord_key, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_ids) / {_UPK_BUDGET}.0) AS BIGINT) AS bin
         FROM pk)
SELECT part, shard, bin,
       CAST(sum(n_ids) AS BIGINT) AS n_ids,
       md5(string_agg(ids_csv, ',' ORDER BY ord_key, doc_id)) AS ids_md5,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY ord_key, doc_id))
         AS docs_md5
FROM bins GROUP BY 1, 2, 3
"""


register(q_packed_wordpiece_ids, _sql_packed_wordpiece_ids())


# Pinned literal per-level discount triples (the scorer is the
# contract under test — estimate_mkn_discounts is pytest-certified
# separately; literals let the twin replay without re-deriving
# counts-of-counts in SQL).
KN5M_D = {
    5: (0.5, 1.1, 1.6),
    4: (0.45, 1.0, 1.5),
    3: (0.4, 0.9, 1.3),
    2: (0.35, 0.8, 1.2),
}


def q_kn5m_perplexity(spark, sf_dir):
    """Per-document 5-gram perplexity under MODIFIED Kneser-Ney —
    fit on the md5-uniform train split, score every doc
    (operators/lm.knn_perplexity at order=5)."""
    from prod2vec_spark.operators.lm import knn_perplexity

    docs = read_table(spark, sf_dir, "documents")
    return knn_perplexity(
        docs, order=5, train_frac=LM_TRAIN_FRAC, discounts=KN5M_D
    )


def _sql_knm_perplexity(order: int, discounts: dict) -> str:
    """DuckDB twin GENERATOR for the order-n modified-KN chain: one
    CTE per level's count/context tables (continuation counts below
    the top), the doc-side n-gram unnest, and the nested CASE
    probability chain in the Spark expression's association order —
    _sql_kn3m_perplexity generalized to a loop, exactly like the
    Spark side."""
    n = order

    def D(col: str, d: tuple) -> str:
        return (
            f"CASE WHEN {col} >= 3 THEN CAST({d[2]} AS DOUBLE) "
            f"WHEN {col} = 2 THEN CAST({d[1]} AS DOUBLE) "
            f"WHEN {col} = 1 THEN CAST({d[0]} AS DOUBLE) "
            f"ELSE CAST(0 AS DOUBLE) END"
        )

    # ---- count-table CTEs -------------------------------------------
    ctes = []
    top_keys = ", ".join(f"w{i}" for i in range(1, n + 1))
    ctes.append(
        f"c{n} AS (SELECT {top_keys}, count(*) AS c{n} "
        f"FROM gr WHERE is_train GROUP BY {top_keys})"
    )
    for k in range(n - 1, 1, -1):
        sel = ", ".join(f"w{i + 1} AS w{i}" for i in range(1, k + 1))
        grp = ", ".join(f"w{i + 1}" for i in range(1, k + 1))
        ctes.append(
            f"c{k} AS (SELECT {sel}, count(*) AS c{k} "
            f"FROM c{k + 1} GROUP BY {grp})"
        )
    for k in range(2, n + 1):
        keys = ", ".join(f"w{i}" for i in range(1, k))
        ctes.append(
            f"x{k} AS (SELECT {keys}, CAST(sum(c{k}) AS BIGINT) AS den{k}, "
            f"count(*) AS n1p_{k}, "
            f"CAST(sum(CASE WHEN c{k} = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_{k}, "
            f"CAST(sum(CASE WHEN c{k} = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2_{k}, "
            f"CAST(sum(CASE WHEN c{k} >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3p_{k} "
            f"FROM c{k} GROUP BY {keys})"
        )
    ctes.append("r AS (SELECT w2 AS w, count(*) AS n1p_r FROM c2 GROUP BY 1)")
    ctes.append(
        "tot AS (SELECT (SELECT count(*) FROM c2) AS n_types2p, "
        "(SELECT count(DISTINCT w) FROM (SELECT unnest(toks) AS w "
        "FROM t WHERE is_train)) AS v_vocab)"
    )

    # ---- the probability chain, bottom-up ---------------------------
    p = (
        "((CAST(COALESCE(r.n1p_r, 0) AS DOUBLE) + 1)"
        " / CAST(tot.n_types2p + tot.v_vocab + 1 AS DOUBLE))"
    )
    for k in range(2, n + 1):
        d = discounts[k]
        lam = (
            f"((CAST({d[0]} AS DOUBLE) * CAST(x{k}.n1_{k} AS DOUBLE)"
            f" + CAST({d[1]} AS DOUBLE) * CAST(x{k}.n2_{k} AS DOUBLE)"
            f" + CAST({d[2]} AS DOUBLE) * CAST(x{k}.n3p_{k} AS DOUBLE))"
            f" / CAST(x{k}.den{k} AS DOUBLE))"
        )
        cv = f"COALESCE(c{k}.c{k}, 0)"
        p = f"""CASE WHEN x{k}.den{k} IS NOT NULL THEN
      GREATEST(CAST({cv} AS DOUBLE) - {D(cv, d)}, CAST(0 AS DOUBLE))
        / CAST(x{k}.den{k} AS DOUBLE)
      + {lam} * ({p})
    ELSE ({p}) END"""

    # ---- doc-side joins ---------------------------------------------
    joins = []
    for k in range(n, 1, -1):
        off = n - k
        ccond = " AND ".join(
            f"gr.w{off + i} = c{k}.w{i}" for i in range(1, k + 1)
        )
        xcond = " AND ".join(
            f"gr.w{off + i} = x{k}.w{i}" for i in range(1, k)
        )
        joins.append(f"LEFT JOIN c{k} ON {ccond}")
        joins.append(f"LEFT JOIN x{k} ON {xcond}")
    joins.append(f"LEFT JOIN r ON gr.w{n} = r.w")
    joins.append("CROSS JOIN tot")

    gram_cols = ", ".join(
        f"toks[CAST(i AS INT) + {j - 1}] AS w{j}" for j in range(1, n + 1)
    )
    cte_block = ",\n".join(ctes)
    join_block = " ".join(joins)
    return f"""
WITH sp AS (SELECT doc_id, text,
    (('0x' || substr(md5('lm|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
      < {LM_TRAIN_FRAC} AS is_train
  FROM documents),
t AS (SELECT doc_id, is_train, {_TOKS} AS toks FROM sp),
gr AS (SELECT doc_id, is_train, {gram_cols}
      FROM t, unnest(range(1, len(toks) - {n - 2})) AS u(i)),
{cte_block},
sc AS (SELECT gr.doc_id, gr.is_train,
    {p} AS prob,
    CASE WHEN c{n}.c{n} IS NULL THEN 1 ELSE 0 END AS bo
  FROM gr
  {join_block})
SELECT doc_id, max(CAST(is_train AS BIGINT)) AS is_train,
       count(*) AS n_grams,
       CAST(sum(bo) AS BIGINT) AS n_bo,
       round(avg(-ln(prob)), 4) AS avg_nll,
       round(exp(avg(-ln(prob))), 4) AS ppl
FROM sc GROUP BY doc_id
"""


register(q_kn5m_perplexity, _sql_knm_perplexity(5, KN5M_D))


# --------------------------------------------------- SFT example prep
def q_sft_input_ids(spark, sf_dir):
    """SFT training-input materialization end-to-end: sentenced corpus →
    (prompt, response) split → chat-template render → BPE token ids →
    loss mask (labels = input_ids with the prompt/role region set to
    -100).  Sequences compared as scalars: (doc_id, n_ids,
    n_prompt_ids, ids_md5, labels_md5) — the packed_input_ids
    convention (operators/sft.py)."""
    from prod2vec_spark.operators.bpe import token_vocab
    from prod2vec_spark.operators.sft import sft_examples, sft_input_ids

    docs = sentence_corpus(read_table(spark, sf_dir, "documents"))
    ex = sft_examples(docs)
    vocab = token_vocab(ex, BPE_FIXED_MERGES, text_col="text")
    ids = sft_input_ids(ex, BPE_FIXED_MERGES, vocab)
    jm = lambda c: F.md5(  # noqa: E731
        F.concat_ws(",", F.transform(c, lambda x: x.cast("string")))
    )
    return ids.select(
        "doc_id",
        "n_ids",
        "n_prompt_ids",
        jm(F.col("input_ids")).alias("ids_md5"),
        jm(F.col("labels")).alias("labels_md5"),
    )


def _sql_sft_input_ids() -> str:
    def w(sym: str) -> str:
        return f"chr(1)||'{sym}'||chr(2)"

    s = (
        "array_to_string(list_transform(str_split("
        "replace(replace(word, chr(1), ''), chr(2), ''), ''), "
        "c -> chr(1)||c||chr(2)), '') || " + w("▁")
    )
    for a, b in BPE_FIXED_MERGES:
        s = f"replace({s}, {w(a)}||{w(b)}, {w(a + b)})"
    toklist = (
        f"list_filter(list_transform(str_split({s}, chr(1)), "
        "p -> replace(p, chr(2), '')), p -> p <> '')"
    )
    return f"""
WITH corpus AS ({_SQL_SENT_CORPUS}),
sp AS (
  SELECT doc_id,
         list_transform(
           regexp_extract_all(coalesce(text, ''), '{_SENT_PAT}'),
           x -> trim(x)) AS sents
  FROM corpus
),
r AS (
  SELECT doc_id,
         '<|user|> ' || sents[1] || ' <|assistant|>' AS prompt_text,
         '<|user|> ' || sents[1] || ' <|assistant|> '
           || array_to_string(list_transform(sents[2:], x -> x), ' ')
           || ' <|end|>' AS text
  FROM sp WHERE len(sents) >= 2
),
t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
             regexp_split_to_array(trim(prompt_text), '\\s+') AS ptoks
      FROM r),
wd AS (SELECT doc_id, CAST(i AS BIGINT) AS wi,
         toks[CAST(i AS INT)] AS word
       FROM t, unnest(range(1, len(toks) + 1)) AS u(i)),
enc AS (SELECT doc_id, wi, {toklist} AS wtoks FROM wd),
tok AS (SELECT doc_id, wi, CAST(j AS BIGINT) AS ti,
          wtoks[CAST(j AS INT)] AS token
        FROM enc, unnest(range(1, len(wtoks) + 1)) AS v(j)),
vc AS (SELECT token, count(*) AS n FROM tok GROUP BY 1),
vid AS (SELECT token,
          CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
            AS token_id
        FROM vc),
pw AS (SELECT doc_id, CAST(i AS BIGINT) AS wi,
         ptoks[CAST(i AS INT)] AS word
       FROM t, unnest(range(1, len(ptoks) + 1)) AS u(i)),
penc AS (SELECT doc_id, {toklist} AS wtoks FROM pw),
np AS (SELECT doc_id, CAST(sum(len(wtoks)) AS BIGINT) AS n_prompt_ids
       FROM penc GROUP BY doc_id),
m AS (SELECT tok.doc_id, tok.wi, tok.ti, vid.token_id AS tid,
        row_number() OVER (PARTITION BY tok.doc_id ORDER BY tok.wi, tok.ti)
          AS rn
      FROM tok JOIN vid USING (token))
SELECT m.doc_id,
       CAST(count(*) AS BIGINT) AS n_ids,
       any_value(np.n_prompt_ids) AS n_prompt_ids,
       md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY wi, ti))
         AS ids_md5,
       md5(string_agg(
         CASE WHEN rn <= np.n_prompt_ids THEN '-100'
              ELSE CAST(tid AS VARCHAR) END, ',' ORDER BY wi, ti))
         AS labels_md5
FROM m JOIN np USING (doc_id)
GROUP BY m.doc_id
"""


register(q_sft_input_ids, _sql_sft_input_ids())
