"""Text-gate queries: per-document profiles (token counts, quality
features, language ID, scripts, compression), the document- and
line-level gates of an LLM curation pipeline (quality percentile,
repetition, badwords, C4 line filters, HTML extraction), PII scrubs,
Unicode normalisation, URL/domain curation and corpus drift."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from prod2vec_spark.operators import repetition as RP
from prod2vec_spark.operators import text as TX
from prod2vec_spark.queries.common import (
    _SQL_URL_STAGE,
    _TOKS,
    fixture_path,
    register,
)
from prod2vec_spark.sources.io import read_table


# ------------------------------------------------------------ text stats
def q_text_stats(spark, sf_dir):
    """Quality-signal features per document (Gopher/C4-style), all
    row-local expressions."""
    docs = read_table(spark, sf_dir, "documents")
    f = TX.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        f["n_tokens"].alias("n_tokens"),
        f["n_distinct_tokens"].alias("n_distinct_tokens"),
        f["avg_token_len"].alias("avg_token_len"),
        f["stopword_ratio"].alias("stopword_ratio"),
        f["symbol_ratio"].alias("symbol_ratio"),
        f["type_token_ratio"].alias("type_token_ratio"),
        TX.quality_score(F.col("text")).alias("quality_score"),
    )


SQL_TEXT_STATS = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id,
  CAST(len(toks) AS INT) AS n_tokens,
  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 4) AS avg_token_len,
  round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','is','to'))) AS DOUBLE) / len(toks), 4) AS stopword_ratio,
  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text), 4) AS symbol_ratio,
  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS type_token_ratio,
  round((least(1.0, CAST(len(toks) AS DOUBLE) / 20.0)
         + greatest(0.0, 1.0 - 4.0 * round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text), 4))
         + round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)) / 3.0, 4) AS quality_score
FROM t
"""

register(q_text_stats, SQL_TEXT_STATS)


# -------------------------------------------------------------- lang id
def q_lang_id(spark, sf_dir):
    """Marker-vocabulary language-ID heuristic with deterministic
    argmax (en>de>es>fr>zh precedence, all-zero -> 'und')."""
    docs = read_table(spark, sf_dir, "documents")
    s = TX.lang_scores(F.col("text"))
    return docs.select(
        "doc_id",
        s["en"].alias("s_en"),
        s["de"].alias("s_de"),
        s["es"].alias("s_es"),
        s["fr"].alias("s_fr"),
        TX.lang_guess(F.col("text")).alias("lang_pred"),
    )


SQL_LANG_ID = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id,
  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','is','to'))) AS INT) AS s_en,
  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS INT) AS s_de,
  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','y','es'))) AS INT) AS s_es,
  CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','est','une'))) AS INT) AS s_fr,
  CAST(length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS INT) AS s_zh
FROM t)
SELECT doc_id, s_en, s_de, s_es, s_fr,
  CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
       WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
       WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
       WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
       WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
       ELSE 'zh' END AS lang_pred
FROM s
"""

register(q_lang_id, SQL_LANG_ID)


# --------------------------------------------------------- token counts
def q_token_counts(spark, sf_dir):
    """Whitespace vs BPE-ish lexer token counts — the 100 TB token
    budget estimator."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(TX.tokens(F.col("text"))).alias("n_ws_tokens"),
        TX.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
  CAST(len({_TOKS}) AS INT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_tokens
FROM documents
"""

register(q_token_counts, SQL_TOKEN_COUNTS)


# ------------------------------------------------- quality filter (LLM)
QUALITY_PCT = 0.25


def q_quality_filter(spark, sf_dir):
    """Percentile-threshold quality gate — the 'drop the worst quartile'
    stage of an LLM data pipeline.  Scores are row-local
    (text.quality_score); the global p25 threshold is a 1-row aggregate
    joined back as a broadcast scalar (same shape as tfidf's corpus
    count — never a global window over the corpus)."""
    from prod2vec_spark.operators import text as TX

    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "lang", TX.quality_score(F.col("text")).alias("q")
    )
    thr = scored.agg(
        F.percentile("q", F.lit(QUALITY_PCT)).alias("q_thr")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .where(F.col("q") >= F.col("q_thr"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.avg("q"), 4).alias("avg_q"),
        )
    )


def _sql_quality_filter() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, lang,
    round((least(1.0, CAST(len(toks) AS DOUBLE) / 20.0)
           + greatest(0.0, 1.0 - 4.0 * round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text), 4))
           + round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)) / 3.0, 4) AS q
  FROM (SELECT doc_id, lang, text, {_TOKS} AS toks FROM documents)),
thr AS (SELECT quantile_cont(q, {QUALITY_PCT}) AS q_thr FROM t)
SELECT lang, count(*) AS n_kept, round(avg(q), 4) AS avg_q
FROM t, thr WHERE q >= q_thr GROUP BY lang
"""


register(q_quality_filter, _sql_quality_filter())


# ------------------------------------------------------- text profile
def q_text_profile(spark, sf_dir):
    """Text-analysis plane in one scan: token counts (whitespace +
    BPE-ish lexer), quality features + composite score, language-ID
    argmax.  All row-local expressions — embarrassingly parallel at
    100 TB, no shuffle at all."""
    docs = read_table(spark, sf_dir, "documents")
    f = TX.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(TX.tokens(F.col("text"))).alias("n_ws_tokens"),
        TX.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        f["avg_token_len"].alias("avg_token_len"),
        f["stopword_ratio"].alias("stopword_ratio"),
        f["symbol_ratio"].alias("symbol_ratio"),
        f["type_token_ratio"].alias("type_token_ratio"),
        TX.quality_score(F.col("text")).alias("quality_score"),
        TX.lang_guess(F.col("text")).alias("lang_pred"),
    )


def _sql_text_profile() -> str:
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, text, toks,
  CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','is','to'))) AS INT) AS s_en,
  CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS INT) AS s_de,
  CAST(len(list_filter(toks, x -> x IN ('el','la','de','que','y','es'))) AS INT) AS s_es,
  CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','est','une'))) AS INT) AS s_fr,
  CAST(length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS INT) AS s_zh
FROM t)
SELECT doc_id,
  CAST(len(toks) AS INT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_tokens,
  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 4) AS avg_token_len,
  round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','in','is','to'))) AS DOUBLE) / len(toks), 4) AS stopword_ratio,
  round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text), 4) AS symbol_ratio,
  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS type_token_ratio,
  round((least(1.0, CAST(len(toks) AS DOUBLE) / 20.0)
         + greatest(0.0, 1.0 - 4.0 * round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text), 4))
         + round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)) / 3.0, 4) AS quality_score,
  CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
       WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
       WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
       WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
       WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
       ELSE 'zh' END AS lang_pred
FROM s
"""


register(q_text_profile, _sql_text_profile())


# ---------------------------------------------------- doc repetition
def q_doc_repetition(spark, sf_dir):
    """Per-document repetition profile: the three Gopher repetition
    signals plus the boolean gate (as 0/1).  One row-local scan —
    token and gram arrays staged as columns per the HOF-CSE rule
    (operators/repetition.py)."""
    docs = read_table(spark, sf_dir, "documents")
    staged = (
        docs.withColumn("_toks", TX.tokens(F.col("text")))
        .withColumn("_g2", RP.word_ngrams(F.col("_toks"), 2))
        .withColumn("_g3", RP.word_ngrams(F.col("_toks"), 3))
    )
    out = staged.select(
        "doc_id",
        RP.dup_token_fraction(F.col("_toks")).alias("dup_token_frac"),
        RP.top_gram_fraction(F.col("_g2")).alias("top_bigram_frac"),
        RP.dup_gram_fraction(F.col("_g3")).alias("dup_trigram_frac"),
        F.size(F.col("_g2")).alias("n_bigrams"),
    )
    return out.withColumn(
        "repetition_ok",
        RP.repetition_gate(
            F.col("top_bigram_frac"),
            F.col("dup_trigram_frac"),
            F.col("n_bigrams"),
        ).cast("long"),
    ).drop("n_bigrams")


def _sql_doc_repetition() -> str:
    tb_max, dt_max = RP.TOP_BIGRAM_MAX, RP.DUP_TRIGRAM_MAX
    min_bg = RP.MIN_GATE_BIGRAMS
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT doc_id, toks,
  list_transform(generate_series(1, len(toks) - 1),
                 i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS g2,
  list_transform(generate_series(1, len(toks) - 2),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS g3
 FROM t),
c AS (SELECT doc_id, toks, g2, g3,
  list_transform(list_distinct(g2), x -> len(list_filter(g2, y -> y = x))) AS c2,
  list_transform(list_distinct(g3), x -> len(list_filter(g3, y -> y = x))) AS c3
 FROM g),
f AS (SELECT doc_id,
  CASE WHEN len(toks) > 0
       THEN round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 4)
       ELSE 0.0 END AS dup_token_frac,
  CASE WHEN len(g2) > 0
       THEN round(CAST(list_max(c2) AS DOUBLE) / CAST(len(g2) AS DOUBLE), 4)
       ELSE 0.0 END AS top_bigram_frac,
  CASE WHEN len(g3) > 0
       THEN round(CAST(list_sum(list_transform(c3, c -> CASE WHEN c >= 2 THEN c ELSE 0 END)) AS DOUBLE)
                  / CAST(len(g3) AS DOUBLE), 4)
       ELSE 0.0 END AS dup_trigram_frac
       ,CAST(len(g2) AS INT) AS n_bigrams
 FROM c)
SELECT doc_id, dup_token_frac, top_bigram_frac, dup_trigram_frac,
       CAST((n_bigrams < {min_bg} OR top_bigram_frac <= {tb_max})
            AND dup_trigram_frac <= {dt_max}
            AS BIGINT) AS repetition_ok
FROM f
"""


register(q_doc_repetition, _sql_doc_repetition())


# --------------------------------------------------------- pii scrub
def q_pii_scrub(spark, sf_dir):
    """PII redaction report: the synthetic corpus carries no PII, so
    the query PLANTS deterministic emails (doc_id % 7 = 0) and phone
    numbers (doc_id % 11 = 0) first, then scrubs — exercising the real
    operator over the real table with a known ground truth.  Output:
    per-doc match counts + md5 of the scrubbed text, so the oracle
    hash-certifies the exact redacted byte stream (operators/pii.py)."""
    from prod2vec_spark.operators.pii import redaction_report

    docs = read_table(spark, sf_dir, "documents")
    planted = F.col("text")
    planted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            planted,
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
    ).otherwise(planted)
    planted = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(planted, F.lit(" call 555-867-5309")),
    ).otherwise(planted)
    staged = docs.withColumn("_pt", planted)
    rep = redaction_report(F.col("_pt"))
    return staged.select(
        "doc_id",
        rep["n_emails"].alias("n_emails"),
        rep["n_phones"].alias("n_phones"),
        rep["scrub_md5"].alias("scrub_md5"),
    )


def _sql_pii_scrub() -> str:
    from prod2vec_spark.operators.pii import (
        EMAIL_PATTERN,
        EMAIL_TOKEN,
        PHONE_PATTERN,
        PHONE_TOKEN,
    )

    return f"""
WITH p AS (SELECT doc_id,
  CASE WHEN doc_id % 11 = 0
       THEN (CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || doc_id || '@example.com'
                  ELSE text END) || ' call 555-867-5309'
       ELSE (CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || doc_id || '@example.com'
                  ELSE text END) END AS pt
 FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(pt, '{EMAIL_PATTERN}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(
         regexp_replace(pt, '{EMAIL_PATTERN}', '{EMAIL_TOKEN}', 'g'),
         '{PHONE_PATTERN}')) AS INT) AS n_phones,
  md5(regexp_replace(regexp_replace(pt, '{EMAIL_PATTERN}', '{EMAIL_TOKEN}', 'g'),
                     '{PHONE_PATTERN}', '{PHONE_TOKEN}', 'g')) AS scrub_md5
FROM p
"""


register(q_pii_scrub, _sql_pii_scrub())


# ----------------------------------------------------- source profile
def q_source_profile(spark, sf_dir):
    """Per-source corpus dashboard (the C4/RefinedWeb per-domain view
    that drives source-level keep/drop decisions): doc and token
    counts, mean quality score, and the verbatim-duplicate share
    (1 − distinct digests / docs).  Mean quality goes through the
    integer-staging trick (score is already rounded to 4 decimals, so
    ×10⁴ is exact) — partition-order float drift can't surface.  One
    scan + one bounded groupBy on the low-cardinality source key."""
    docs = read_table(spark, sf_dir, "documents")
    from prod2vec_spark.operators.dedup import text_digest

    staged = docs.select(
        "source",
        F.size(TX.tokens(F.col("text"))).alias("_nt"),
        (TX.quality_score(F.col("text")) * 10000).cast("long").alias("_q4"),
        text_digest(F.col("text")).alias("_h"),
    )
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.round(F.sum("_q4") / (F.lit(10000.0) * F.count(F.lit(1))), 4).alias(
            "mean_quality"
        ),
        F.countDistinct("_h").alias("n_distinct_docs"),
        F.round(
            F.lit(1.0) - F.countDistinct("_h") / F.count(F.lit(1)), 4
        ).alias("dup_frac"),
    )


def _sql_source_profile() -> str:
    # quality_score formula inlined from _sql_text_profile's convention
    q = r"""round((least(1.0, CAST(len(toks) AS DOUBLE) / 20.0)
         + greatest(0.0, 1.0 - 4.0 * round(CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / length(text), 4))
         + round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)) / 3.0, 4)"""
    return rf"""
WITH t AS (SELECT source, text, {_TOKS} AS toks FROM documents),
s AS (SELECT source,
        CAST(len(toks) AS INT) AS nt,
        CAST({q} * 10000 AS BIGINT) AS q4,
        md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
      FROM t)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens,
       round(CAST(sum(q4) AS DOUBLE) / (10000.0 * count(*)), 4) AS mean_quality,
       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_docs,
       round(1.0 - CAST(count(DISTINCT h) AS DOUBLE) / count(*), 4) AS dup_frac
FROM s
GROUP BY source
"""


register(q_source_profile, _sql_source_profile())


# ------------------------------------------------ text normalization
def q_text_normalize(spark, sf_dir):
    """Canonical normalization audit: per-doc normalized-text digest +
    whether normalization changed the bytes (0/1) + length delta —
    the pre-dedup cleanup stage as an oracle-checked surface
    (operators/text.normalize_text).  One row-local scan."""
    from prod2vec_spark.operators.text import normalize_text

    docs = read_table(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        (norm != F.col("text")).cast("long").alias("changed"),
        (F.length("text") - F.length(norm)).alias("len_delta"),
    )


def _sql_text_normalize() -> str:
    return r"""
WITH n AS (
  SELECT doc_id, text,
    lower(trim(regexp_replace(
      regexp_replace(text, '[\x00-\x1F\x7F]', ' ', 'g'),
      '\s+', ' ', 'g'))) AS norm
  FROM documents)
SELECT doc_id, md5(norm) AS norm_md5,
       CAST(norm != text AS BIGINT) AS changed,
       length(text) - length(norm) AS len_delta
FROM n
"""


register(q_text_normalize, _sql_text_normalize())


# ------------------------------------- per-source quality gate
PSQ_PCT = 0.25


def q_quality_by_source(spark, sf_dir):
    """Per-source percentile quality gate (the fairness variant of
    quality_filter: every source trimmed by the same fraction, no
    source wiped out by a corpus-global threshold).  Thresholds are a
    bounded per-source aggregate broadcast back; the report is one
    grouped pass: pre/kept counts, keep fraction, the threshold."""
    from prod2vec_spark.operators import text as TX

    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", TX.quality_score(F.col("text")).alias("q")
    )
    thr = scored.groupBy("source").agg(
        F.percentile("q", F.lit(PSQ_PCT)).alias("q_thr")
    )
    return (
        scored.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pre"),
            F.sum((F.col("q") >= F.col("q_thr")).cast("long")).alias("n_kept"),
            F.round(
                F.sum((F.col("q") >= F.col("q_thr")).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("keep_frac"),
            F.round(F.first("q_thr"), 4).alias("q_thr"),
        )
    )


def _sql_quality_by_source() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, source,
    round((least(1.0, CAST(len(toks) AS DOUBLE) / 20.0)
           + greatest(0.0, 1.0 - 4.0 * round(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text), 4))
           + round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)) / 3.0, 4) AS q
  FROM (SELECT doc_id, source, text, {_TOKS} AS toks FROM documents)),
thr AS (SELECT source, quantile_cont(q, {PSQ_PCT}) AS q_thr FROM t GROUP BY 1)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_pre,
       CAST(sum(CASE WHEN q >= q_thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(sum(CASE WHEN q >= q_thr THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS keep_frac,
       round(any_value(q_thr), 4) AS q_thr
FROM t JOIN thr ON t.source = thr.source
GROUP BY 1
"""


register(q_quality_by_source, _sql_quality_by_source())


# --------------------------------------------- Luhn CC audit
# planted candidates (negative ids — disjoint from the corpus): the
# fixture corpus contains no card-shaped digit runs, so the audit
# unions a deterministic planted set into BOTH engines — the Luhn
# fold is exercised by the oracle, not just by pytest.
CC_PLANTED: list[tuple[int, str]] = [
    (-1, "pay 4111 1111 1111 1111 now"),       # valid (Visa test)
    (-2, "order 4111111111111112 today"),      # fails the checksum
    (-3, "cards 5500-0000-0000-0004 and 4111 1111 1111 1111"),  # 2 valid
    (-4, "timestamp 12345678901234567890123"),  # 19-digit prefix, invalid
    (-5, "short 4111 1111 1111"),              # 12 digits: no candidate
]


def q_pii_cc_audit(spark, sf_dir):
    """Checksum-verified credit-card audit over corpus ∪ planted rows:
    per doc with >= 1 candidate, the candidate count and how many pass
    Luhn (operators/pii.py cc_report — candidate regex + a bounded
    pure-Column fold per candidate, row-local)."""
    from prod2vec_spark.operators.pii import cc_report

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = spark.createDataFrame(CC_PLANTED, "doc_id long, text string")
    r = cc_report(F.col("text"))
    return (
        docs.unionByName(planted)
        .select(
            "doc_id",
            r["n_cc_candidates"].cast("long").alias("n_cc_candidates"),
            r["n_cc_valid"].cast("long").alias("n_cc_valid"),
        )
        .where(F.col("n_cc_candidates") > 0)
    )


def _sql_pii_cc_audit() -> str:
    from prod2vec_spark.operators.pii import CC_PATTERN

    planted_values = ", ".join(
        f"({i}, '{t}')" for i, t in CC_PLANTED
    )
    digit = "CAST(substr(ds, len(ds) - i + 1, 1) AS INT)"
    term = (
        f"CASE WHEN (i - 1) % 2 = 0 THEN {digit} "
        f"ELSE CASE WHEN {digit} * 2 > 9 THEN {digit} * 2 - 9 "
        f"ELSE {digit} * 2 END END"
    )
    return f"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES {planted_values}) AS p(doc_id, text)),
c AS (SELECT doc_id, unnest(regexp_extract_all(text, '{CC_PATTERN}')) AS cand
      FROM u),
d AS (SELECT doc_id, regexp_replace(cand, '[ -]', '', 'g') AS ds FROM c),
v AS (SELECT doc_id, len(ds) AS n,
        list_reduce(list_prepend(0,
          list_transform(generate_series(1, len(ds)), i -> {term})),
          (a, b) -> a + b) AS total
      FROM d),
g AS (SELECT doc_id,
        CAST(count(*) AS BIGINT) AS n_cc_candidates,
        CAST(sum(CASE WHEN n BETWEEN 13 AND 19 AND total % 10 = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_cc_valid
      FROM v GROUP BY 1)
SELECT doc_id, n_cc_candidates, n_cc_valid FROM g
"""


register(q_pii_cc_audit, _sql_pii_cc_audit())


# --------------------------------------------- compression profile
COMP_LOW = 0.35  # below this, text is suspiciously repetitive


def q_compression_profile(spark, sf_dir):
    """Per-document zlib compression ratio + low-entropy flag — the
    codec-backed quality signal (functions/compress.py).  FULLY
    ORACLED via the golden-column protocol (the
    media_format_audit precedent, adapted for input-derived values:
    tools/gen_compress_golden_fixture.py persists (md5(text) →
    raw/compressed byte lengths) for every testdata sf; Spark keeps
    running zlib LIVE through the Arrow-batched UDF, the DuckDB twin
    joins the goldens and replays the ratio arithmetic + threshold —
    codec drift fails the hash compare, and the honesty pytest re-runs
    zlib over the actual testdata texts against the fixture)."""
    from prod2vec_spark.functions.compress import compression_ratio

    docs = read_table(spark, sf_dir, "documents")
    r = F.round(compression_ratio(F.col("text")), 4)
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        r.alias("comp_ratio"),
        (r < F.lit(COMP_LOW)).cast("long").alias("low_entropy"),
    )


def _sql_compression_profile() -> str:
    path = fixture_path("compress_goldens.parquet")
    return f"""
SELECT d.doc_id,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       round(CASE WHEN g.raw_len = 0 THEN 1.0
                  ELSE g.comp_len / CAST(g.raw_len AS DOUBLE) END, 4)
         AS comp_ratio,
       CAST(round(CASE WHEN g.raw_len = 0 THEN 1.0
                       ELSE g.comp_len / CAST(g.raw_len AS DOUBLE) END, 4)
            < {COMP_LOW} AS BIGINT) AS low_entropy
FROM documents d
LEFT JOIN read_parquet('{path}') g ON g.text_md5 = md5(d.text)
"""


register(q_compression_profile, _sql_compression_profile())


# --------------------------------------------- script-mix profile
def q_script_profile(spark, sf_dir):
    """Per-document script mix: per-script character counts (literal
    Unicode-range classes — the identical pattern string compiles
    under Java regex and RE2), dominant script with a fixed precedence
    tiebreak, and a mixed-script flag (>= 2 scripts above 10% of
    scripted chars — the encoding-garbage / homoglyph signal).
    Row-local single scan (operators/text.py script_counts)."""
    from prod2vec_spark.operators.text import SCRIPT_RANGES, script_counts

    docs = read_table(spark, sf_dir, "documents")
    cs = script_counts(F.col("text"))
    names = list(SCRIPT_RANGES)
    total = None
    for n in names:
        total = cs[n] if total is None else total + cs[n]
    staged = docs.select(
        "doc_id",
        total.cast("long").alias("n_scripted"),
        *[cs[n].cast("long").alias(f"n_{n}") for n in names],
    )
    # precedence-aware argmax: walk in declaration order, keep the
    # FIRST script whose count equals the row max (ties break by the
    # SCRIPT_RANGES declaration order — the oracle CASE walks the
    # same order)
    row_max = F.greatest(*[F.col(f"n_{n}") for n in names])
    dom_expr = F.lit("none")
    for n in reversed(names):
        dom_expr = F.when(
            (F.col(f"n_{n}") == row_max) & (row_max > 0), F.lit(n)
        ).otherwise(dom_expr)
    n_major = None
    for n in names:
        maj = (
            (F.col(f"n_{n}").cast("double")
             / F.greatest(F.col("n_scripted"), F.lit(1)).cast("double"))
            > 0.10
        ).cast("int")
        n_major = maj if n_major is None else n_major + maj
    return staged.select(
        "doc_id",
        "n_scripted",
        *[f"n_{n}" for n in names],
        dom_expr.alias("dominant"),
        (n_major >= 2).cast("long").alias("mixed_script"),
    )


def _sql_script_profile() -> str:
    from prod2vec_spark.operators.text import SCRIPT_RANGES

    names = list(SCRIPT_RANGES)
    cnt = {
        n: f"len(regexp_extract_all(text, '[{r}]'))" for n, r in SCRIPT_RANGES.items()
    }
    total = " + ".join(cnt.values())
    # precedence-aware argmax: CASE walks declaration order
    row_max = f"greatest({', '.join('n_' + n for n in names)})"
    dom = "CASE " + " ".join(
        f"WHEN n_{n} = {row_max} AND {row_max} > 0 THEN '{n}'" for n in names
    ) + " ELSE 'none' END"
    majors = " + ".join(
        f"CASE WHEN CAST(n_{n} AS DOUBLE) / greatest(n_scripted, 1) > 0.10 "
        f"THEN 1 ELSE 0 END"
        for n in names
    )
    cols = ", ".join(f"CAST({cnt[n]} AS BIGINT) AS n_{n}" for n in names)
    return f"""
WITH s AS (
  SELECT doc_id, CAST({total} AS BIGINT) AS n_scripted, {cols}
  FROM documents)
SELECT doc_id, n_scripted, {', '.join('n_' + n for n in names)},
       {dom} AS dominant,
       CAST(CASE WHEN ({majors}) >= 2 THEN 1 ELSE 0 END AS BIGINT)
         AS mixed_script
FROM s
"""


register(q_script_profile, _sql_script_profile())


_LID_VOCAB = {
    "en": ("the cat sat on a mat and that dog is in his house of king "
           "with this from they were not what when there which").split(),
    "de": ("der hund ist nicht und das haus die katze war schön über "
           "auch ein eine wird nach bei durch für müssen zwischen").split(),
    "es": ("el perro la casa de que y es en los niños una para con "
           "por como está pero más sobre años también").split(),
    "fr": ("le chien la maison les et est une dans pour avec des pas "
           "sur qui plus sont leurs cette très après").split(),
    "zh": list("我是中国人他们的学生在大学里学习中文和数学这个时候没有什么问题可以知道"),
}


def _lid_text(lang: str, key: str) -> str:
    """Deterministic planted sentence: md5-expanded draws from the
    language's vocabulary (unsegmented for zh — the realistic case)."""
    vocab = _LID_VOCAB[lang]
    digest = hashlib.md5(f"lid|{lang}|{key}".encode()).digest()
    n = 8 + digest[0] % 8
    words = []
    for k in range(n):
        b = hashlib.md5(f"lid|{lang}|{key}|{k}".encode()).digest()
        words.append(vocab[int.from_bytes(b[:4], "big") % len(vocab)])
    return ("" if lang == "zh" else " ").join(words)


def q_lang_id_learned(spark, sf_dir):
    """Learned char-n-gram language-ID (ml/langid_clf.py — CCNet's
    fastText shape; rows-only: iterative L-BFGS fit, no SQL twin; the
    marker heuristic ``lang_id`` stays the oracled fallback).

    Self-auditing per-language accuracy report: a deterministic
    planted 5-language corpus (md5-expanded sentences, CJK
    unsegmented) splits by doc_id parity into train/held-out; the
    classifier fits on train and the entry returns
    (lang, n_docs, n_correct) on held-out.  pytest asserts total
    accuracy ≥ 0.9 — the L-LANGID analog of ann_recall's checked
    number."""
    from prod2vec_spark.ml.langid_clf import fit_lang_classifier, score_lang

    langs = sorted(_LID_VOCAB)
    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    # cap the planted corpus: enough to fit/score, bounded driver work
    ids = [r["doc_id"] for r in docs.orderBy("doc_id").limit(400).collect()]
    rows = [
        (int(d), _lid_text(langs[int(d) % 5], str(int(d))), langs[int(d) % 5])
        for d in ids
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    train = corpus.where((F.col("doc_id") / 5).cast("long") % 2 == 0)
    heldout = corpus.where((F.col("doc_id") / 5).cast("long") % 2 == 1)
    model = fit_lang_classifier(train, max_iter=30)
    scored = score_lang(heldout, model).join(
        heldout.select("doc_id", "lang"), "doc_id"
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("lang_pred") == F.col("lang")).cast("bigint"))
            .cast("bigint")
            .alias("n_correct"),
        )
        .orderBy("lang")
    )


# superset-only, rows-only: iterative MLlib logistic-regression fit,
# accuracy-gated in tests/test_langid.py
register(q_lang_id_learned)


def q_text_normalize_nfc(spark, sf_dir):
    """NFC-complete normalization digests: (doc_id, norm_md5) — the
    digest of normalize_text(text, nfc=True), the key the exact-dedup
    plane uses when composed/decomposed variants must collapse
    (operators/text.nfc_normalize).

    FULLY ORACLED despite the Arrow codec boundary: DuckDB ships
    ``nfc_normalize``
    (UAX #15, the same normalization stdlib unicodedata implements),
    so the twin replays the whole chain including the NFC hop.  The
    codec-boundary pytests (tests/test_nfc.py) keep pinning the
    composed/decomposed behavior on real non-ASCII fixtures."""
    from prod2vec_spark.operators.text import normalize_text

    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.coalesce(normalize_text(F.col("text"), nfc=True), F.lit("")))
        .alias("norm_md5"),
    )


def _sql_text_normalize_nfc() -> str:
    return r"""
WITH n AS (
  SELECT doc_id,
    lower(trim(regexp_replace(
      regexp_replace(nfc_normalize(text), '[\x00-\x1F\x7F]', ' ', 'g'),
      '\s+', ' ', 'g'))) AS norm
  FROM documents)
SELECT doc_id, md5(coalesce(norm, '')) AS norm_md5 FROM n
"""


register(q_text_normalize_nfc, _sql_text_normalize_nfc())


# -------------------------------------------- URL/domain curation plane
_DOMCAP_K = 20


def q_domain_profile(spark, sf_dir):
    """Per-domain corpus dashboard (C4/RefinedWeb's URL-level input
    signal): registered-domain keyed doc/host/token counts + verbatim
    dup share, over deterministically attached skewed urls
    (operators/domains.py — host extraction is the parse_url JVM
    builtin; the oracle replays the identical synthesis + a regexp
    host twin)."""
    from prod2vec_spark.operators.domains import attach_urls, domain_profile

    docs = read_table(spark, sf_dir, "documents")
    prof = domain_profile(attach_urls(docs))
    return prof.select(
        "domain", "n_hosts", "n_docs", "n_tokens", "dup_share"
    )


def _sql_domain_profile() -> str:
    toks = _TOKS.replace("text", "dom.text")
    return f"""
WITH {_SQL_URL_STAGE}
SELECT domain,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({toks})) AS BIGINT) AS n_tokens,
       round(1.0 - CAST(count(DISTINCT md5(coalesce(dom.text, ''))) AS DOUBLE)
                   / count(*), 4) AS dup_share
FROM dom
GROUP BY domain
"""


register(q_domain_profile, _sql_domain_profile())


def q_domain_cap(spark, sf_dir):
    """Per-domain document cap: at most {_DOMCAP_K} docs kept per
    registered domain, chosen by a seeded md5 draw — ONE rank window
    on the domain key; the operator that removes mega-domain skew for
    every downstream stage.  Hash-matching kept ids certifies WHICH
    docs survive (operators/domains.domain_cap)."""
    from prod2vec_spark.operators.domains import attach_urls, domain_cap

    docs = read_table(spark, sf_dir, "documents")
    kept = domain_cap(attach_urls(docs), max_per_domain=_DOMCAP_K)
    return kept.select("doc_id", "domain", "domain_rk")


def _sql_domain_cap() -> str:
    return f"""
WITH {_SQL_URL_STAGE},
r AS (SELECT doc_id, domain,
        CAST(row_number() OVER (
          PARTITION BY domain
          ORDER BY md5('domcap|' || doc_id), doc_id) AS INT) AS domain_rk
      FROM dom)
SELECT doc_id, domain, domain_rk
FROM r
WHERE domain IS NULL OR domain_rk <= {_DOMCAP_K}
"""


register(q_domain_cap, _sql_domain_cap())


# ----------------------------------------------- corpus drift audit
_DRIFT_TOPK = 50


def _v2_docs(spark, sf_dir):
    """The deterministically-derived "next crawl" shared with
    snapshot_diff (dedup.py): id%13 dropped, id%7 text-modified,
    10 fresh ids appended."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    survived = docs.where(F.col("doc_id") % 13 != 0)
    return survived.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionByName(
        docs.where(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), F.col("text")
        )
    )


_SQL_V2 = """
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 13 != 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 10)
"""


def q_token_drift(spark, sf_dir):
    """Per-token distribution drift between crawl N and the derived
    crawl N+1 (the language-shift monitor next to the row-level
    snapshot diff): top-50 tokens by combined count with smoothed
    frequencies and log-ratio (operators/drift.token_drift — one
    word-count shuffle per side, full outer join on the token key,
    1-row totals broadcast)."""
    from prod2vec_spark.operators.drift import token_drift

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return token_drift(docs, _v2_docs(spark, sf_dir), top_k=_DRIFT_TOPK)


def _sql_token_drift() -> str:
    return f"""
WITH {_SQL_V2},
co AS (SELECT token, CAST(count(*) AS BIGINT) AS n_old
       FROM (SELECT unnest({_TOKS}) AS token FROM documents) GROUP BY 1),
cn AS (SELECT token, CAST(count(*) AS BIGINT) AS n_new
       FROM (SELECT unnest({_TOKS}) AS token FROM v2) GROUP BY 1),
j AS (SELECT COALESCE(co.token, cn.token) AS token,
        COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
      FROM co FULL JOIN cn ON co.token = cn.token),
t AS (SELECT CAST(sum(n_old) AS DOUBLE) AS t_old,
             CAST(sum(n_new) AS DOUBLE) AS t_new,
             CAST(count(*) AS DOUBLE) AS v FROM j),
top AS (SELECT * FROM j ORDER BY n_old + n_new DESC, token LIMIT {_DRIFT_TOPK})
SELECT token, n_old, n_new,
       round((n_old + 1) / (t.t_old + t.v), 8) AS p_old,
       round((n_new + 1) / (t.t_new + t.v), 8) AS p_new,
       round(log10(((n_new + 1) / (t.t_new + t.v))
                   / ((n_old + 1) / (t.t_old + t.v))), 4) AS log10_ratio
FROM top, t
"""


register(q_token_drift, _sql_token_drift())


def q_corpus_drift(spark, sf_dir):
    """One-row corpus-level drift summary over the FULL vocabulary:
    token/vocab sizes, shared-vocab count, and the smoothed
    Jensen-Shannon divergence (0 = identical corpora, ln 2 = fully
    disjoint) between crawl N and the derived N+1
    (operators/drift.distribution_drift)."""
    from prod2vec_spark.operators.drift import distribution_drift

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return distribution_drift(docs, _v2_docs(spark, sf_dir))


def _sql_corpus_drift() -> str:
    return f"""
WITH {_SQL_V2},
co AS (SELECT token, CAST(count(*) AS BIGINT) AS n_old
       FROM (SELECT unnest({_TOKS}) AS token FROM documents) GROUP BY 1),
cn AS (SELECT token, CAST(count(*) AS BIGINT) AS n_new
       FROM (SELECT unnest({_TOKS}) AS token FROM v2) GROUP BY 1),
j AS (SELECT COALESCE(co.token, cn.token) AS token,
        COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
      FROM co FULL JOIN cn ON co.token = cn.token),
t AS (SELECT CAST(sum(n_old) AS DOUBLE) AS t_old,
             CAST(sum(n_new) AS DOUBLE) AS t_new,
             CAST(count(*) AS DOUBLE) AS v FROM j),
s AS (SELECT n_old, n_new,
        (n_old + 1) / (t.t_old + t.v) AS p,
        (n_new + 1) / (t.t_new + t.v) AS q
      FROM j, t)
SELECT CAST(sum(n_old) AS BIGINT) AS n_tokens_old,
       CAST(sum(n_new) AS BIGINT) AS n_tokens_new,
       CAST(sum(CASE WHEN n_old > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_old,
       CAST(sum(CASE WHEN n_new > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_new,
       CAST(sum(CASE WHEN n_old > 0 AND n_new > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS vocab_shared,
       round(sum((p * ln(p / ((p + q) / 2)) + q * ln(q / ((p + q) / 2))) / 2), 6)
         AS js_divergence
FROM s
"""


register(q_corpus_drift, _sql_corpus_drift())


def q_drift_by_lang(spark, sf_dir):
    """Per-language drift summary in ONE grouped computation (the
    operators/lm group_col rule: lang joins every count key) between crawl N and
    the derived N+1 — the CCNet ops view of distribution shift
    (operators/drift.distribution_drift_by_lang)."""
    from prod2vec_spark.operators.drift import distribution_drift_by_lang

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    v2 = _v2_docs_lang(spark, sf_dir)
    return distribution_drift_by_lang(docs, v2)


def _v2_docs_lang(spark, sf_dir):
    """The derived next crawl carrying the lang column (the
    snapshot_diff derivation, lang preserved)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    survived = docs.where(F.col("doc_id") % 13 != 0)
    return survived.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
    ).unionByName(
        docs.where(F.col("doc_id") < 10).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), F.col("text"), "lang"
        )
    )


def _sql_drift_by_lang() -> str:
    return f"""
WITH v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
         lang
  FROM documents WHERE doc_id % 13 != 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang FROM documents WHERE doc_id < 10),
co AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n_old
       FROM (SELECT lang, unnest({_TOKS}) AS token FROM documents) GROUP BY 1, 2),
cn AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n_new
       FROM (SELECT lang, unnest({_TOKS}) AS token FROM v2) GROUP BY 1, 2),
j AS (SELECT COALESCE(co.lang, cn.lang) AS lang,
        COALESCE(co.token, cn.token) AS token,
        COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
      FROM co FULL JOIN cn ON co.lang = cn.lang AND co.token = cn.token),
t AS (SELECT lang, CAST(sum(n_old) AS DOUBLE) AS t_old,
             CAST(sum(n_new) AS DOUBLE) AS t_new,
             CAST(count(*) AS DOUBLE) AS v
      FROM j GROUP BY lang),
s AS (SELECT j.lang, n_old, n_new,
        (n_old + 1) / (t.t_old + t.v) AS p,
        (n_new + 1) / (t.t_new + t.v) AS q
      FROM j JOIN t ON j.lang = t.lang)
SELECT lang,
       CAST(sum(n_old) AS BIGINT) AS n_tokens_old,
       CAST(sum(n_new) AS BIGINT) AS n_tokens_new,
       CAST(sum(CASE WHEN n_old > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_old,
       CAST(sum(CASE WHEN n_new > 0 THEN 1 ELSE 0 END) AS BIGINT) AS vocab_new,
       CAST(sum(CASE WHEN n_old > 0 AND n_new > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS vocab_shared,
       round(sum((p * ln(p / ((p + q) / 2)) + q * ln(q / ((p + q) / 2))) / 2), 6)
         AS js_divergence
FROM s
GROUP BY lang
"""


register(q_drift_by_lang, _sql_drift_by_lang())


# ------------------------------------------------ C4 line filtering
_LF_WIDTH = 10
_LF_MIN_WORDS = 3
_LF_BLOCKLIST = ("slow", "lorem ipsum")


def q_line_quality_filter(spark, sf_dir):
    """Per-document C4-style line-filter report over width-10 token
    pseudo-lines (the linedup.py segmentation): per-rule violation
    counts, surviving-line count, md5 of the reassembled text.  ONE
    row-local projection — split → HOF filters → array_join; zero
    shuffles (operators/linefilters.line_filter)."""
    from prod2vec_spark.operators.linefilters import line_filter

    docs = read_table(spark, sf_dir, "documents")
    out = line_filter(
        docs,
        mode="window",
        width=_LF_WIDTH,
        min_words=_LF_MIN_WORDS,
        blocklist=_LF_BLOCKLIST,
    )
    return out.select(
        "doc_id",
        "n_lines",
        "n_short",
        "n_blocked",
        "n_kept",
        F.md5("kept_text").alias("kept_md5"),
    )


def _sql_line_filter() -> str:
    w, m = _LF_WIDTH, _LF_MIN_WORDS
    blocked = " OR ".join(
        f"contains(lower(l), '{p}')" for p in _LF_BLOCKLIST
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
L AS (SELECT doc_id,
        CASE WHEN coalesce(trim(text), '') = '' THEN []
             ELSE list_transform(
               generate_series(0, CAST(ceil(len(toks) / {w}.0) AS BIGINT) - 1),
               i -> array_to_string(
                      list_slice(toks, CAST(i * {w} + 1 AS INT),
                                       CAST(i * {w} + {w} AS INT)), ' '))
        END AS lines
      FROM t JOIN documents USING (doc_id))
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(list_filter(lines,
              l -> len(string_split(l, ' ')) < {m})) AS BIGINT) AS n_short,
       CAST(len(list_filter(lines, l -> {blocked})) AS BIGINT) AS n_blocked,
       CAST(len(list_filter(lines,
              l -> len(string_split(l, ' ')) >= {m}
                   AND NOT ({blocked}))) AS BIGINT) AS n_kept,
       md5(coalesce(array_to_string(list_filter(lines,
              l -> len(string_split(l, ' ')) >= {m}
                   AND NOT ({blocked})), ' '), '')) AS kept_md5
FROM L
"""


register(q_line_quality_filter, _sql_line_filter())


# --------------------------------------------- corpus n-gram mining
_NG_N = 3
_NG_MIN = 2
_NG_K = 20


def q_ngram_hotspots(spark, sf_dir):
    """Top-20 exactly-repeated trigrams corpus-wide, with total
    occurrences and distinct-document counts (ties broken by gram
    text → deterministic listing).  One explode + one hash-agg with
    map-side partials, then TakeOrderedAndProject — never a global
    sort (operators/repetition.corpus_ngram_hotspots)."""
    from prod2vec_spark.operators.repetition import corpus_ngram_hotspots

    docs = read_table(spark, sf_dir, "documents")
    return corpus_ngram_hotspots(docs, n=_NG_N, min_count=_NG_MIN, k=_NG_K)


def q_ngram_hotspots_sketched(spark, sf_dir):
    """The 100 TB shape of ngram_hotspots: a count-min pre-filter so
    the gram-key shuffle carries only candidate grams; CMS only
    over-estimates and the final counts re-check exactly, so the
    listing EQUALS the exact variant's — certified here against the
    SAME DuckDB oracle (operators/repetition.
    corpus_ngram_hotspots_sketched)."""
    from prod2vec_spark.operators.repetition import (
        corpus_ngram_hotspots_sketched,
    )

    docs = read_table(spark, sf_dir, "documents")
    return corpus_ngram_hotspots_sketched(
        docs, n=_NG_N, min_count=_NG_MIN, k=_NG_K
    )


def _sql_ngram_hotspots() -> str:
    n, m, k = _NG_N, _NG_MIN, _NG_K
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT doc_id,
        unnest(list_transform(
          generate_series(1, len(toks) - {n - 1}),
          i -> array_to_string(
                 list_slice(toks, CAST(i AS INT), CAST(i AS INT) + {n - 1}),
                 ' '))) AS gram
      FROM t WHERE len(toks) >= {n}),
c AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM g GROUP BY 1 HAVING count(*) >= {m})
SELECT gram, n_occurrences, n_docs
FROM c ORDER BY n_occurrences DESC, gram LIMIT {k}
"""


register(q_ngram_hotspots, _sql_ngram_hotspots())
register(q_ngram_hotspots_sketched, _sql_ngram_hotspots())


# ------------------------------------------------ HTML extraction
def _attach_html(docs):
    """Testdata adapter (the attach_urls precedent): wrap each doc's
    text in deterministic HTML with the edges strip_html must handle
    — a <script> element (dropped wholesale), a comment, block tags,
    an inline tag with attributes, and entity escapes — varied by
    doc_id so every branch is exercised corpus-wide."""
    t = F.coalesce(F.col("text"), F.lit(""))
    scr = F.when(
        F.col("doc_id") % 3 == 0,
        F.lit('<script type="text/javascript">var x = 1 < 2;</script>'),
    ).otherwise(F.lit(""))
    cmt = F.when(
        F.col("doc_id") % 4 == 0, F.lit("<!-- hidden\nnote -->")
    ).otherwise(F.lit(""))
    ent = F.when(
        F.col("doc_id") % 5 == 0, F.lit(" Q&amp;A &lt;tag&gt; &nbsp;edge")
    ).otherwise(F.lit(""))
    return docs.withColumn(
        "html",
        F.concat(
            F.lit("<html><head><style>p{color:red}</style>"), scr,
            F.lit('</head><body><h1 class="t">Doc '),
            F.col("doc_id").cast("string"),
            F.lit("</h1>"), cmt,
            F.lit("<p>"), t, F.lit("</p><div><b>bold</b>"), ent,
            F.lit("</div></body></html>"),
        ),
    )


def q_html_extract(spark, sf_dir):
    """Visible-text extraction over deterministically attached HTML
    (scripts/styles dropped wholesale, comments cut, block closers →
    spaces, tags removed, bounded entity unescape, whitespace
    collapsed) — the web-ingestion edge before any text operator;
    one row-local regex chain (operators/text.strip_html)."""
    from prod2vec_spark.operators.text import strip_html

    docs = _attach_html(read_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.md5(strip_html(F.col("html"))).alias("clean_md5"),
        F.length(strip_html(F.col("html"))).cast("long").alias("n_chars"),
    )


def _sql_html_extract() -> str:
    return r"""
WITH h AS (SELECT doc_id,
        '<html><head><style>p{color:red}</style>'
        || CASE WHEN doc_id % 3 = 0
                THEN '<script type="text/javascript">var x = 1 < 2;</script>'
                ELSE '' END
        || '</head><body><h1 class="t">Doc ' || CAST(doc_id AS VARCHAR)
        || '</h1>'
        || CASE WHEN doc_id % 4 = 0 THEN '<!-- hidden' || chr(10) || 'note -->'
                ELSE '' END
        || '<p>' || coalesce(text, '') || '</p><div><b>bold</b>'
        || CASE WHEN doc_id % 5 = 0 THEN ' Q&amp;A &lt;tag&gt; &nbsp;edge'
                ELSE '' END
        || '</div></body></html>' AS html
      FROM documents),
s AS (SELECT doc_id,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(html, '(?is)<script\b.*?</script\s*>', ' ', 'g'),
                    '(?is)<style\b.*?</style\s*>', ' ', 'g'),
                  '(?s)<!--.*?-->', ' ', 'g'),
                '(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|table|blockquote)\b[^>]*>', ' ', 'g'),
              '(?s)<(/?[A-Za-z][^>]*|![^>]*)>', '', 'g'),
            '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
            '&quot;', '"'), '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
          '\s+', ' ', 'g')) AS clean
      FROM h)
SELECT doc_id, md5(clean) AS clean_md5,
       CAST(length(clean) AS BIGINT) AS n_chars
FROM s
"""


register(q_html_extract, _sql_html_extract())


# ------------------------------------- adaptive boilerplate filter
_ABF_N = 3
_ABF_MIN = 3


def q_adaptive_line_filter(spark, sf_dir):
    """Corpus-adaptive line cleanup: the single most-repeated trigram
    is MINED from the corpus and every width-10 pseudo-line containing
    it is cut — the discovered-blocklist composition (mine → block),
    fully declarative: the 1-row hot-gram aggregate broadcast-joins
    onto the corpus, no driver round-trip
    (operators/linefilters.adaptive_boilerplate_filter).

    Invariant: the oracle's CROSS JOIN (and this entry's row count)
    assumes at least one gram clears min_count — true by a wide
    margin at the correctness scale factor (2,289 qualifying trigrams
    at sf0.01); the operator itself degrades gracefully (empty mined
    list blocks nothing)."""
    from prod2vec_spark.operators.linefilters import (
        adaptive_boilerplate_filter,
    )

    docs = read_table(spark, sf_dir, "documents")
    out = adaptive_boilerplate_filter(
        docs, gram_n=_ABF_N, top_k=1, min_count=_ABF_MIN,
        mode="window", width=_LF_WIDTH,
    )
    return out.select(
        "doc_id",
        F.element_at("hot_grams", 1).alias("hot_gram"),
        "n_lines",
        "n_kept",
        F.md5("kept_text").alias("kept_md5"),
    )


def _sql_adaptive_line_filter() -> str:
    n, m, w = _ABF_N, _ABF_MIN, _LF_WIDTH
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (SELECT doc_id,
        unnest(list_transform(
          generate_series(1, len(toks) - {n - 1}),
          i -> array_to_string(
                 list_slice(toks, CAST(i AS INT), CAST(i AS INT) + {n - 1}),
                 ' '))) AS gram
      FROM t WHERE len(toks) >= {n}),
c AS (SELECT gram, count(*) AS n_occ FROM g GROUP BY 1
      HAVING count(*) >= {m}),
hg AS (SELECT gram AS hot_gram FROM c
       ORDER BY n_occ DESC, gram LIMIT 1),
L AS (SELECT doc_id,
        CASE WHEN coalesce(trim(text), '') = '' THEN []
             ELSE list_transform(
               generate_series(0, CAST(ceil(len(toks) / {w}.0) AS BIGINT) - 1),
               i -> array_to_string(
                      list_slice(toks, CAST(i * {w} + 1 AS INT),
                                       CAST(i * {w} + {w} AS INT)), ' '))
        END AS lines
      FROM t JOIN documents USING (doc_id))
SELECT doc_id, hot_gram,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(list_filter(lines,
              l -> NOT contains(l, hot_gram))) AS BIGINT) AS n_kept,
       md5(coalesce(array_to_string(list_filter(lines,
              l -> NOT contains(l, hot_gram)), ' '), '')) AS kept_md5
FROM L CROSS JOIN hg
"""


register(q_adaptive_line_filter, _sql_adaptive_line_filter())


# ----------------------------------------- doc-level badwords gate
# Synthetic category lists over the testdata vocabulary standing in
# for the real per-language C4 badwords list (~400 entries — the
# operator takes ANY category→words map; embedding the actual list
# here would add nothing the gate's machinery doesn't already prove).
BADWORDS_CATS = {
    "latency": ("slow",),
    "scale": ("big", "small"),
    "engine": ("table table",),  # the phrase (substring) leg
}
BADWORDS_MAX_FRAC = 0.02


def q_badwords_gate(spark, sf_dir):
    """Document-level badwords screen (C4 §2.2): per-category hit
    counts, token count, badword fraction, drop verdict — one
    row-local HOF pass, zero shuffle (operators/badwords.py)."""
    from prod2vec_spark.operators.badwords import badwords_gate

    docs = read_table(spark, sf_dir, "documents")
    return badwords_gate(
        docs, BADWORDS_CATS, max_frac=BADWORDS_MAX_FRAC
    ).select(
        "doc_id",
        "hits_engine",
        "hits_latency",
        "hits_scale",
        "n_tokens",
        "badword_frac",
        "bad_verdict",
    )


def _sql_badwords_gate() -> str:
    phrase = BADWORDS_CATS["engine"][0]
    plen = len(phrase)
    return f"""
WITH t AS (SELECT doc_id,
    lower(coalesce(text, '')) AS lt,
    list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                x -> x <> '') AS toks
  FROM documents),
h AS (SELECT doc_id,
    CAST((length(lt) - length(replace(lt, '{phrase}', ''))) / {plen} AS BIGINT)
      AS hits_engine,
    CAST(len(list_filter(toks,
      x -> regexp_replace(x, '^[[:punct:]]+|[[:punct:]]+$', '', 'g') = 'slow'
    )) AS BIGINT) AS hits_latency,
    CAST(len(list_filter(toks,
      x -> regexp_replace(x, '^[[:punct:]]+|[[:punct:]]+$', '', 'g')
             IN ('big', 'small')
    )) AS BIGINT) AS hits_scale,
    CAST(len(toks) AS INT) AS n_tokens
  FROM t)
SELECT doc_id, hits_engine, hits_latency, hits_scale, n_tokens,
  round(CAST(hits_latency + hits_scale + hits_engine AS DOUBLE)
        / CAST(greatest(n_tokens, 1) AS DOUBLE), 6) AS badword_frac,
  round(CAST(hits_latency + hits_scale + hits_engine AS DOUBLE)
        / CAST(greatest(n_tokens, 1) AS DOUBLE), 6) > {BADWORDS_MAX_FRAC}
    AS bad_verdict
FROM h
"""


register(q_badwords_gate, _sql_badwords_gate())


def q_sentence_stats(spark, sf_dir):
    """Per-document sentence segmentation stats over the documents
    table (operators/text.sentence_profile): n_sentences, avg/max
    trimmed sentence length, unterminated tail length — the
    segmentation primitive sentence-level dedup and SFT-style example
    prep build on.  Row-local, zero shuffle; the lookaround-free
    sentence regex compiles identically under Java regex and RE2, so
    the DuckDB twin replays the exact splits."""
    from prod2vec_spark.operators.text import sentence_profile

    docs = read_table(spark, sf_dir, "documents")
    return sentence_profile(docs)


def _sql_sentence_stats() -> str:
    pat = r"[^.!?]+[.!?]+"
    return f"""
WITH s AS (
  SELECT doc_id,
         coalesce(text, '') AS t,
         regexp_extract_all(coalesce(text, ''), '{pat}') AS raw
  FROM documents
),
m AS (
  SELECT doc_id, t, raw,
         list_transform(raw, x -> trim(x)) AS sents
  FROM s
)
SELECT doc_id,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       CASE WHEN len(sents) > 0
            THEN round(list_sum(list_transform(sents, x -> length(x)))
                       / CAST(len(sents) AS DOUBLE), 4)
            ELSE 0.0 END AS avg_sentence_chars,
       CAST(coalesce(list_max(list_transform(sents, x -> length(x))), 0)
            AS BIGINT) AS max_sentence_chars,
       CAST(length(regexp_replace(t, '(?s)^.*[.!?]', ''))
            AS BIGINT) AS tail_chars
FROM m
"""


register(q_sentence_stats, _sql_sentence_stats())


# ----------------------------------------- per-language badwords gate
# Demo blocklists over the corpus vocabulary (stand-ins for the real
# per-language C4 lists): en/de/es/fr each get their OWN list (es via
# a space-bearing phrase to exercise substring counting per-language);
# zh is deliberately unlisted and falls back to default_lang='en' —
# the fallback leg is driver-checked, not just pytest-checked.
BWL_LISTS: "dict[str, dict[str, tuple[str, ...]]]" = {
    "en": {"latency": ("slow",), "scale": ("big", "small")},
    "de": {"latency": ("slow", "fast")},
    "es": {"latency": ("join order",)},
    "fr": {"scale": ("table",)},
}
BWL_MAX_FRAC = 0.02


def q_badwords_by_lang(spark, sf_dir):
    """Per-language badwords screen (C4 ships per-language lists):
    each document is gated against ITS language's blocklist, selected
    row-locally — one HOF pass, zero shuffle
    (operators/badwords.badwords_by_lang)."""
    from prod2vec_spark.operators.badwords import badwords_by_lang

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    return badwords_by_lang(
        docs, BWL_LISTS, max_frac=BWL_MAX_FRAC, default_lang="en"
    ).select(
        "doc_id", "lang", "hits_latency", "hits_scale",
        "n_tokens", "badword_frac", "bad_verdict",
    )


def _sql_badwords_by_lang() -> str:
    strip = "regexp_replace(x, '^[[:punct:]]+|[[:punct:]]+$', '', 'g')"
    en_lat = f"CAST(len(list_filter(toks, x -> {strip} = 'slow')) AS BIGINT)"
    de_lat = (
        f"CAST(len(list_filter(toks, x -> {strip} IN ('fast', 'slow')))"
        " AS BIGINT)"
    )
    es_lat = (
        "CAST((length(lt) - length(replace(lt, 'join order', ''))) / 10"
        " AS BIGINT)"
    )
    en_sca = (
        f"CAST(len(list_filter(toks, x -> {strip} IN ('big', 'small')))"
        " AS BIGINT)"
    )
    fr_sca = f"CAST(len(list_filter(toks, x -> {strip} = 'table')) AS BIGINT)"
    zero = "CAST(0 AS BIGINT)"
    return f"""
WITH t AS (SELECT doc_id, lang,
    lower(coalesce(text, '')) AS lt,
    list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
                x -> x <> '') AS toks
  FROM documents),
h AS (SELECT doc_id, lang,
    CASE lang WHEN 'de' THEN {de_lat}
              WHEN 'es' THEN {es_lat}
              WHEN 'fr' THEN {zero}
              WHEN 'en' THEN {en_lat}
              ELSE {en_lat} END AS hits_latency,
    CASE lang WHEN 'de' THEN {zero}
              WHEN 'es' THEN {zero}
              WHEN 'fr' THEN {fr_sca}
              WHEN 'en' THEN {en_sca}
              ELSE {en_sca} END AS hits_scale,
    CAST(len(toks) AS INT) AS n_tokens
  FROM t)
SELECT doc_id, lang, hits_latency, hits_scale, n_tokens,
  round(CAST(hits_latency + hits_scale AS DOUBLE)
        / CAST(greatest(n_tokens, 1) AS DOUBLE), 6) AS badword_frac,
  round(CAST(hits_latency + hits_scale AS DOUBLE)
        / CAST(greatest(n_tokens, 1) AS DOUBLE), 6) > {BWL_MAX_FRAC}
    AS bad_verdict
FROM h
"""


register(q_badwords_by_lang, _sql_badwords_by_lang())
