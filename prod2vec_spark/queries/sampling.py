"""Mixing, sampling and split queries: per-language and
temperature mixes, weighted (A-ES) and stratified samples, DSIR data
selection, hash-partition and leakage-safe splits and the epoch
shuffle audit.  Every draw is md5-derived so the oracle replays it."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from prod2vec_spark.operators import dsir as DS
from prod2vec_spark.operators import text as TX
from prod2vec_spark.operators.mixing import temperature_mix
from prod2vec_spark.operators.splits import DEFAULT_FRACTIONS, assign_split
from prod2vec_spark.queries.common import _SQL_URL_STAGE, _TOKS, register
from prod2vec_spark.sources.io import read_table


# ------------------------------------------------- stratified sample (F-ext)
STRATUM_N = 20


def q_stratified_sample(spark, sf_dir):
    """Seeded stratified sample: top-N per event_type by md5 order —
    the per-stratum analogue of validation_sample (E-F13).  A per-key
    window top-n: one shuffle on the stratum key, no global sort, and
    the md5 key replays identically in the oracle."""
    ev = read_table(spark, sf_dir, "events")
    key = F.md5(F.concat_ws("|", F.col("event_id").cast("string"), F.lit("42")))
    w = Window.partitionBy("event_type").orderBy(key, "event_id")
    return (
        ev.select(
            "event_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= STRATUM_N)
    )


SQL_STRATIFIED_SAMPLE = f"""
SELECT event_id, event_type, rn FROM (
  SELECT event_id, event_type,
         CAST(row_number() OVER (
             PARTITION BY event_type
             ORDER BY md5(CAST(event_id AS VARCHAR) || '|' || '42'), event_id
         ) AS INT) AS rn
  FROM events) WHERE rn <= {STRATUM_N}
"""

register(q_stratified_sample, SQL_STRATIFIED_SAMPLE)


# per-language keep rates for the training-mix sampler — the "data
# recipe" knob of an LLM pipeline (upsample/downsample per source)
MIX_RATES = {"en": 0.5, "zh": 1.0, "es": 0.8, "de": 0.25, "fr": 1.0}
MIX_DEFAULT_RATE = 0.1  # languages outside the recipe
MIX_SEED = 42


def q_corpus_mix_sample(spark, sf_dir):
    """Deterministic per-language corpus mixing (LLM training-data
    recipe): each document is kept iff its md5-derived uniform
    (functions/hashing.hash_unit over seed|doc_id) falls under its
    language's target rate — a row-local map-side filter, no shuffle,
    no global sort, exactly replayable by the oracle DOC-FOR-DOC (the
    output is the sampled id set itself, not just counts).  Per-lang
    realized rates ride along for the recipe report.

    Scale notes: the rate lookup is a tiny literal map (the recipe is
    bounded by the language set, a few dozen entries at worst); the
    aggregate after the filter is the standard bounded groupBy.  The
    same hash-unit keeps the sample STABLE under corpus growth: a doc's
    keep/drop never changes as neighbors arrive — the property that
    makes incremental recomputation and cross-run diffing possible at
    100 TB."""
    from prod2vec_spark.functions.hashing import hash_unit

    docs = read_table(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(r))
            for lang, r in MIX_RATES.items()
        ],
        F.lit(MIX_DEFAULT_RATE),
    )
    u = hash_unit(F.concat_ws("|", F.lit(str(MIX_SEED)), F.col("doc_id")))
    kept = docs.where(u < rate).select("doc_id", "lang")
    per_lang = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))
    return kept.join(per_lang, "lang").select("doc_id", "lang", "n_kept")


def _sql_corpus_mix_sample() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {r}" for lang, r in MIX_RATES.items()
    )
    return f"""
WITH kept AS (
  SELECT doc_id, lang
  FROM documents
  WHERE ('0x' || substr(md5('{MIX_SEED}' || '|' || doc_id), 1, 8))::BIGINT
          / 4294967296.0
        < CASE lang {cases} ELSE {MIX_DEFAULT_RATE} END),
n AS (SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang)
SELECT kept.doc_id, kept.lang, n.n_kept
FROM kept JOIN n ON kept.lang = n.lang
"""


register(q_corpus_mix_sample, _sql_corpus_mix_sample())


# --------------------------------------------------- weighted sample
_WS_K = 25


def q_weighted_sample(spark, sf_dir):
    """A-ES weighted sample: the 25 documents winning the
    ln(u)/n_chars race (u = md5-uniform of 'ws'|doc_id) — longer
    documents proportionally likelier, fully deterministic.  Plans as
    TakeOrderedAndProject; the rank window runs on the 25-row
    result."""
    from prod2vec_spark.operators.relational import weighted_sample_aes

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    top = weighted_sample_aes(docs, "n_chars", _WS_K, ["doc_id"], seed="ws")
    w = Window.orderBy(F.desc("_aes_key"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"), "doc_id", "n_chars"
    )


def _sql_weighted_sample() -> str:
    return f"""
WITH k AS (SELECT doc_id, n_chars,
  ln(('0x' || substr(md5('ws|' || doc_id), 1, 8))::BIGINT / 4294967296.0)
    / CAST(n_chars AS DOUBLE) AS aes_key
 FROM documents WHERE n_chars > 0)
SELECT CAST(row_number() OVER (ORDER BY aes_key DESC, doc_id) AS INT) AS rank,
       doc_id, n_chars
FROM k
ORDER BY aes_key DESC, doc_id
LIMIT {_WS_K}
"""


register(q_weighted_sample, _sql_weighted_sample())


# ------------------------------------------------- stratified split
SPLIT_SEED = 42


def q_stratified_split(spark, sf_dir):
    """Per-(lang, split) audit of the deterministic hash partition:
    doc/token counts + each split's share of its language.  The
    assignment itself is row-local (no shuffle); the audit is one
    bounded groupBy + a per-lang total join over the tiny aggregate
    (operators/splits.py)."""
    docs = read_table(spark, sf_dir, "documents")
    from prod2vec_spark.operators import text as TX

    s = assign_split(docs, key_col="doc_id", seed=SPLIT_SEED).select(
        "lang", "split", F.size(TX.tokens(F.col("text"))).cast("long").alias("_nt")
    )
    g = s.groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_nt").cast("long").alias("n_tokens"),
    )
    per_lang = g.groupBy("lang").agg(F.sum("n_docs").alias("_lang_docs"))
    return (
        g.join(F.broadcast(per_lang), "lang")
        .select(
            "lang",
            "split",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_docs").cast("double") / F.col("_lang_docs").cast("double"), 4
            ).alias("frac_of_lang"),
        )
    )


def _sql_stratified_split() -> str:
    # thresholds MUST be the identical Python-accumulated floats the
    # Spark expression uses (0.9 + 0.05 != 0.95 exactly in binary)
    cases = []
    cum = 0.0
    for name, frac in DEFAULT_FRACTIONS[:-1]:
        cum += frac
        cases.append(f"WHEN u < {cum!r} THEN '{name}'")
    case_sql = " ".join(cases)
    last = DEFAULT_FRACTIONS[-1][0]
    return f"""
WITH r AS (
  SELECT lang,
         ('0x' || substr(md5('{SPLIT_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0 AS u,
         len({_TOKS}) AS nt
  FROM documents),
s AS (SELECT lang, CASE {case_sql} ELSE '{last}' END AS split, nt FROM r),
g AS (SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM s GROUP BY 1, 2)
SELECT lang, split, n_docs, n_tokens,
       round(CAST(n_docs AS DOUBLE)
             / CAST(sum(n_docs) OVER (PARTITION BY lang) AS DOUBLE), 4)
         AS frac_of_lang
FROM g
"""


register(q_stratified_split, _sql_stratified_split())


# ------------------------------------------------- temperature mix
MIX_ALPHA = 0.7
MIX_BUDGET = 1_000_000


def q_temperature_mix(spark, sf_dir):
    """Exponentiated-sampling source recipe (p ∝ tokens^0.7): one
    scan, one bounded per-source aggregate, a 1-row total broadcast
    back (operators/mixing.py)."""
    # spread=False: one whitespace split + a per-source partial agg is
    # cheaper than the floor repartition's full-text shuffle write
    docs = read_table(spark, sf_dir, "documents", spread=False)
    return temperature_mix(docs, alpha=MIX_ALPHA, budget_tokens=MIX_BUDGET)


def _sql_temperature_mix() -> str:
    p = f"pow(CAST(n_tokens AS DOUBLE), {MIX_ALPHA!r})"
    return f"""
WITH t AS (SELECT source, len({_TOKS}) AS nt FROM documents),
g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM t GROUP BY 1),
tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot_tokens,
               sum({p}) AS tot_pow
        FROM g)
SELECT source, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS p_raw,
       round({p} / tot_pow, 6) AS p_temp,
       CAST(floor({float(MIX_BUDGET)!r} * ({p} / tot_pow)) AS BIGINT)
         AS target_tokens,
       round(({p} / tot_pow) / (CAST(n_tokens AS DOUBLE) / tot_tokens), 4)
         AS boost
FROM g CROSS JOIN tot
"""


register(q_temperature_mix, _sql_temperature_mix())


# ------------------------------------- materialized mix audit
MAT_SEED = 42


def q_mix_materialized(spark, sf_dir):
    """The recipe APPLIED: per-source realized doc/token mass of the
    deterministic stochastic-rounding resample vs the recipe target.
    Row-local copy assignment (broadcast recipe scalar per source);
    the audit is one grouped pass (operators/mixing.py
    materialize_mix)."""
    from prod2vec_spark.operators import text as TX
    from prod2vec_spark.operators.mixing import materialize_mix, temperature_mix

    docs = read_table(spark, sf_dir, "documents")
    mat = materialize_mix(
        docs, alpha=MIX_ALPHA, budget_tokens=MIX_BUDGET, seed=MAT_SEED
    ).withColumn("_nt", F.size(TX.tokens(F.col("text"))).cast("long"))
    targets = temperature_mix(docs, alpha=MIX_ALPHA, budget_tokens=MIX_BUDGET).select(
        "source", "target_tokens"
    )
    g = mat.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_copies").cast("long").alias("realized_docs"),
        F.sum(F.col("n_copies") * F.col("_nt")).cast("long").alias("realized_tokens"),
    )
    return g.join(F.broadcast(targets), "source").select(
        "source",
        "n_docs",
        "realized_docs",
        "realized_tokens",
        "target_tokens",
        F.round(
            F.col("realized_tokens").cast("double")
            / F.col("target_tokens").cast("double")
            - F.lit(1.0),
            4,
        ).alias("rel_err"),
    )


def _sql_mix_materialized() -> str:
    p = f"pow(CAST(n_tokens AS DOUBLE), {MIX_ALPHA!r})"
    unit = (
        "('0x' || substr(md5('" + str(MAT_SEED) + "|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
        " / 4294967296.0"
    )
    return f"""
WITH t AS (SELECT doc_id, source, len({_TOKS}) AS nt FROM documents),
g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM t GROUP BY 1),
tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot_tokens,
               sum({p}) AS tot_pow
        FROM g),
recipe AS (
  SELECT source,
         CAST(floor({float(MIX_BUDGET)!r} * ({p} / tot_pow)) AS BIGINT)
           AS target_tokens,
         round(CAST(floor({float(MIX_BUDGET)!r} * ({p} / tot_pow)) AS DOUBLE)
               / CAST(n_tokens AS DOUBLE), 4) AS scale
  FROM g CROSS JOIN tot),
m AS (
  SELECT t.source, t.nt,
         CAST(floor(scale) AS BIGINT)
           + CASE WHEN {unit} < scale - floor(scale) THEN 1 ELSE 0 END
           AS n_copies,
         target_tokens
  FROM t JOIN recipe ON t.source = recipe.source)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_copies) AS BIGINT) AS realized_docs,
       CAST(sum(n_copies * nt) AS BIGINT) AS realized_tokens,
       any_value(target_tokens) AS target_tokens,
       round(CAST(sum(n_copies * nt) AS DOUBLE)
             / CAST(any_value(target_tokens) AS DOUBLE) - 1.0, 4) AS rel_err
FROM m GROUP BY 1
"""


register(q_mix_materialized, _sql_mix_materialized())


# --------------------------------------------- epoch shuffle audit
EPOCH = 3
N_SHARDS = 8


def q_epoch_shuffle_audit(spark, sf_dir):
    """Per-shard audit of the deterministic epoch shuffle: shard
    sizes + the order-sensitive checksum of each shard's permutation
    (operators/shards.py).  The rank window partitions by shard —
    exactly the per-shard sort the shard writer executes physically."""
    from prod2vec_spark.operators.shards import (
        epoch_assignments,
        epoch_order_checksum,
    )

    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    return epoch_order_checksum(epoch_assignments(docs, EPOCH, N_SHARDS))


def _sql_epoch_shuffle_audit() -> str:
    h = (
        f"('0x' || substr(md5('epoch{EPOCH}|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    )
    return f"""
WITH a AS (
  SELECT doc_id, CAST({h} % {N_SHARDS} AS INT) AS shard, {h} AS pos
  FROM documents),
r AS (SELECT shard, doc_id,
        row_number() OVER (PARTITION BY shard ORDER BY pos, doc_id) AS rk
      FROM a)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST(rk AS HUGEINT) * (doc_id % 1000003)) % 2147483647 AS BIGINT)
         AS order_ck
FROM r GROUP BY 1
"""


register(q_epoch_shuffle_audit, _sql_epoch_shuffle_audit())


DSIR_BUCKETS = 8192
DSIR_K = 50
DSIR_SEED = 7

# Shared oracle CTE chain: tokenize -> unigram+bigram stream -> bucket
# -> target/raw bucket counts -> smoothed log-ratio -> per-doc score.
# Raw = ALL documents, so every doc bucket hits the ratio table and the
# unseen-bucket default never fires here (operators/dsir.py keeps the
# reserved -1 default row for disjoint-corpus callers).
_SQL_DSIR_SCORE = f"""
toks AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS t
         FROM documents),
grams AS (
  SELECT doc_id, lang, unnest(t) AS g FROM toks
  UNION ALL
  SELECT doc_id, lang,
         unnest(list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                               i -> t[i] || ' ' || t[i+1])) AS g
  FROM toks
),
bk AS (SELECT doc_id, lang,
              ('0x' || substr(md5('dsir|' || g), 1, 15))::BIGINT % {DSIR_BUCKETS}
                AS bucket
       FROM grams),
tcnt AS (SELECT bucket, count(*)::BIGINT AS t_cnt FROM bk
         WHERE lang = 'en' GROUP BY 1),
rcnt AS (SELECT bucket, count(*)::BIGINT AS r_cnt FROM bk GROUP BY 1),
tot AS (SELECT (SELECT sum(t_cnt) FROM tcnt) AS t_total,
               (SELECT sum(r_cnt) FROM rcnt) AS r_total),
ratio AS (
  SELECT r.bucket AS bucket,
         ln((coalesce(t_cnt, 0) + 1.0) / (t_total + {DSIR_BUCKETS}.0))
           - ln((r_cnt + 1.0) / (r_total + {DSIR_BUCKETS}.0)) AS logratio
  FROM rcnt r LEFT JOIN tcnt t ON t.bucket = r.bucket CROSS JOIN tot
),
sc AS (
  SELECT doc_id, sum(logratio) AS score, count(*)::BIGINT AS n_grams
  FROM bk JOIN ratio USING (bucket) GROUP BY doc_id
)
"""


def _dsir_scored(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    # fused fit: target (lang='en') and raw counts from ONE corpus pass
    tgt, raw = DS.fit_bucket_counts_pair(
        docs, F.col("lang") == "en", n_buckets=DSIR_BUCKETS
    )
    ratio = DS.bucket_logratio(tgt, raw, n_buckets=DSIR_BUCKETS)
    return docs, DS.dsir_scores(docs, ratio, n_buckets=DSIR_BUCKETS)


def q_dsir_scores(spark, sf_dir):
    """Per-doc DSIR importance log-weights (operators/dsir.py).  At
    sf0.01 the explode feeds three passes (target fit, raw fit, score);
    at 100 TB the two fitted count tables (≤8192 rows each) are
    checkpointed once and only the scoring pass re-reads the corpus."""
    _, sc = _dsir_scored(spark, sf_dir)
    return sc.select("doc_id", "n_grams", F.round("score", 4).alias("score"))


def q_dsir_select(spark, sf_dir):
    """Gumbel-top-k DSIR resample: deterministic k=50 draw ∝ exp(score)
    with md5-derived uniforms; rank certifies the full ordering."""
    docs, sc = _dsir_scored(spark, sf_dir)
    sel = DS.dsir_resample(sc, k=DSIR_K, seed=DSIR_SEED)
    w = F.row_number().over(Window.orderBy(F.col("gkey").desc(), F.col("doc_id")))
    return (
        sel.withColumn("rank", w.cast("int"))
        .join(F.broadcast(docs.select("doc_id", "lang")), "doc_id")
        .select("rank", "doc_id", "lang", F.round("score", 4).alias("score"))
    )


def _sql_dsir_scores() -> str:
    return f"""
WITH {_SQL_DSIR_SCORE}
SELECT doc_id, n_grams, round(score, 4) AS score FROM sc
"""


register(q_dsir_scores, _sql_dsir_scores())


def _sql_dsir_select() -> str:
    return f"""
WITH {_SQL_DSIR_SCORE},
gk AS (
  SELECT doc_id, score,
         score - ln(-ln(greatest(
           ('0x' || substr(md5('dsirg{DSIR_SEED}|' || doc_id::VARCHAR), 1, 8))::BIGINT
             / 4294967296.0, 1e-12))) AS gkey
  FROM sc
)
SELECT row_number() OVER (ORDER BY gkey DESC, doc_id)::INT AS rank,
       doc_id, d.lang AS lang, round(score, 4) AS score
FROM (SELECT * FROM gk ORDER BY gkey DESC, doc_id LIMIT {DSIR_K}) s
JOIN documents d USING (doc_id)
"""


register(q_dsir_select, _sql_dsir_select())


# -------------------------------------------- leakage-safe splitting
_GS_SEED = 77


def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe domain-grouped split audit: assignment is a pure
    function of the registered domain (operators/splits.group_split),
    so a domain's pages can never straddle splits.  Per-split doc and
    domain counts + the global count of domains seen in >1 split —
    the leak counter the entry exists to prove is ZERO.  Assignment
    is row-local; the audit is one bounded hash-agg + a 1-row scalar
    cross-join (the established scalar-attach shape)."""
    from prod2vec_spark.operators.domains import attach_urls, with_domain
    from prod2vec_spark.operators.splits import group_split

    docs = read_table(spark, sf_dir, "documents", spread=False).select("doc_id")
    d = with_domain(attach_urls(docs)).select("doc_id", "domain")
    s = group_split(d, "domain", seed=_GS_SEED)
    per = s.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("domain").cast("long").alias("n_domains"),
    )
    leaks = (
        s.groupBy("domain")
        .agg(F.countDistinct("split").alias("_ns"))
        .where(F.col("_ns") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("leaked_domains"))
    )
    return per.crossJoin(F.broadcast(leaks))


def _sql_leakage_safe_split() -> str:
    from prod2vec_spark.operators.splits import DEFAULT_FRACTIONS

    # thresholds MUST be the identical Python-accumulated floats the
    # Spark expression uses (the stratified_split precedent)
    cases = []
    cum = 0.0
    for name, frac in DEFAULT_FRACTIONS[:-1]:
        cum += frac
        cases.append(f"WHEN u < {cum!r} THEN '{name}'")
    case_sql = " ".join(cases)
    last = DEFAULT_FRACTIONS[-1][0]
    return f"""
WITH {_SQL_URL_STAGE},
r AS (SELECT doc_id, domain,
        ('0x' || substr(md5('{_GS_SEED}|' ||
           coalesce(domain, '#null#|' || CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
          / 4294967296.0 AS u
      FROM dom),
s AS (SELECT doc_id, domain, CASE {case_sql} ELSE '{last}' END AS split FROM r),
per AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT domain) AS BIGINT) AS n_domains
        FROM s GROUP BY 1),
lk AS (SELECT CAST(count(*) AS BIGINT) AS leaked_domains FROM (
         SELECT domain FROM s GROUP BY domain
         HAVING count(DISTINCT split) > 1))
SELECT per.split, per.n_docs, per.n_domains, lk.leaked_domains
FROM per CROSS JOIN lk
"""


register(q_leakage_safe_split, _sql_leakage_safe_split())
