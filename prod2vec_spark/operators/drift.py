"""Corpus-drift audit (ENGINE scope) — "did crawl N+1 shift the token
distribution?", the monitoring signal every continuously-ingested
training corpus needs next to the row-level snapshot diff
(operators/dedup.snapshot_diff tells you WHICH docs changed; this
tells you whether the LANGUAGE changed).  Standard shape: per-token
relative frequencies of the two snapshots compared token-by-token
(smoothed log-ratio) plus a single Jensen-Shannon-style summary —
the data-shift test monitoring systems run on text features.

Scale shape: one word-count hash-agg per snapshot (the bpe.word_counts
shuffle — map-side combined, 8-byte counts), a full outer join on the
token key, and a 1-row totals broadcast.  The totals branch and the
report branch both read the joined vocabulary, but the word-count and
join exchanges are shared between them at runtime via AQE stage reuse
(verified: ReusedQueryStage nodes in the final plan) — the corpus is
scanned once per snapshot.  The per-token report is
capped to the top-K tokens by combined count (TakeOrdered — k rows
move); the divergence summary aggregates over ALL tokens, not just
the reported ones.  Everything is exact integer counts + rounded
ratios, so the DuckDB oracle replays it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prod2vec_spark.operators.text import tokens


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, n) over the corpus — one explode + one hash-agg
    (map-side combined)."""
    return (
        docs.withColumn("_toks", tokens(F.col(text_col)))
        .select(F.explode("_toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def token_drift(
    old: DataFrame,
    new: DataFrame,
    top_k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Per-token drift report over the ``top_k`` tokens by combined
    count: (token, n_old, n_new, p_old, p_new, log10_ratio) with
    add-one smoothing on both numerators (a token absent from one
    side gets a finite ratio; denominators carry the vocab-size
    correction so probabilities stay normalized).  Deterministic
    top-k: ties break lexicographically."""
    co = token_counts(old, text_col).withColumnRenamed("n", "n_old")
    cn = token_counts(new, text_col).withColumnRenamed("n", "n_new")
    joined = co.join(cn, "token", "full").select(
        "token",
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    totals = joined.agg(
        F.sum("n_old").cast("double").alias("_to"),
        F.sum("n_new").cast("double").alias("_tn"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    p_old = (F.col("n_old") + 1) / (F.col("_to") + F.col("_v"))
    p_new = (F.col("n_new") + 1) / (F.col("_tn") + F.col("_v"))
    return (
        joined.orderBy(
            (F.col("n_old") + F.col("n_new")).desc(), F.col("token")
        )
        .limit(top_k)
        .crossJoin(F.broadcast(totals))
        .select(
            "token",
            "n_old",
            "n_new",
            F.round(p_old, 8).alias("p_old"),
            F.round(p_new, 8).alias("p_new"),
            F.round(F.log10(p_new / p_old), 4).alias("log10_ratio"),
        )
    )


def distribution_drift(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """One-row corpus-level drift summary over ALL tokens:
    (n_tokens_old, n_tokens_new, vocab_old, vocab_new, vocab_shared,
    js_divergence) — JS = (KL(P‖M) + KL(Q‖M)) / 2 with M the
    midpoint, natural log, add-one-smoothed over the union
    vocabulary, so 0 ≤ JS ≤ ln 2 and identical corpora score exactly
    0.  The aggregate runs over the full joined vocabulary (never
    capped): one shuffle + one reduce."""
    co = token_counts(old, text_col).withColumnRenamed("n", "n_old")
    cn = token_counts(new, text_col).withColumnRenamed("n", "n_new")
    joined = co.join(cn, "token", "full").select(
        F.coalesce("n_old", F.lit(0)).alias("n_old"),
        F.coalesce("n_new", F.lit(0)).alias("n_new"),
    )
    totals = joined.agg(
        F.sum("n_old").cast("double").alias("_to"),
        F.sum("n_new").cast("double").alias("_tn"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    staged = joined.crossJoin(F.broadcast(totals))
    p = (F.col("n_old") + 1) / (F.col("_to") + F.col("_v"))
    q = (F.col("n_new") + 1) / (F.col("_tn") + F.col("_v"))
    m = (p + q) / 2
    term = (p * F.log(p / m) + q * F.log(q / m)) / 2
    return staged.agg(
        F.sum("n_old").cast("bigint").alias("n_tokens_old"),
        F.sum("n_new").cast("bigint").alias("n_tokens_new"),
        F.sum((F.col("n_old") > 0).cast("bigint")).alias("vocab_old"),
        F.sum((F.col("n_new") > 0).cast("bigint")).alias("vocab_new"),
        F.sum(((F.col("n_old") > 0) & (F.col("n_new") > 0)).cast("bigint")).alias(
            "vocab_shared"
        ),
        F.round(F.sum(term), 6).alias("js_divergence"),
    )


def distribution_drift_by_lang(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet-deployment edition of :func:`distribution_drift` — ONE
    drift summary row per language, in a single grouped computation
    (the operators/lm ``group_col`` rule: the language column simply joins
    every count key, so 100 languages cost the same two hash-agg
    shuffles as one).  Per-language totals are a languages-sized
    table → broadcast back.  A language present in only one snapshot
    still reports (its other side is all-smoothing)."""

    def counts(docs, alias):
        return (
            docs.withColumn("_toks", tokens(F.col(text_col)))
            .select(F.col(lang_col).alias("lang"), F.explode("_toks").alias("token"))
            .groupBy("lang", "token")
            .agg(F.count(F.lit(1)).cast("long").alias(alias))
        )

    joined = (
        counts(old, "n_old")
        .join(counts(new, "n_new"), ["lang", "token"], "full")
        .select(
            "lang",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    totals = joined.groupBy("lang").agg(
        F.sum("n_old").cast("double").alias("_to"),
        F.sum("n_new").cast("double").alias("_tn"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    staged = joined.join(F.broadcast(totals), "lang")
    p = (F.col("n_old") + 1) / (F.col("_to") + F.col("_v"))
    q = (F.col("n_new") + 1) / (F.col("_tn") + F.col("_v"))
    m = (p + q) / 2
    term = (p * F.log(p / m) + q * F.log(q / m)) / 2
    return staged.groupBy("lang").agg(
        F.sum("n_old").cast("bigint").alias("n_tokens_old"),
        F.sum("n_new").cast("bigint").alias("n_tokens_new"),
        F.sum((F.col("n_old") > 0).cast("bigint")).alias("vocab_old"),
        F.sum((F.col("n_new") > 0).cast("bigint")).alias("vocab_new"),
        F.sum(((F.col("n_old") > 0) & (F.col("n_new") > 0)).cast("bigint")).alias(
            "vocab_shared"
        ),
        F.round(F.sum(term), 6).alias("js_divergence"),
    )
