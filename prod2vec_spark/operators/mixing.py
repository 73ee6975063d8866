"""Temperature-scaled source mixing — COMPUTE the training-data
recipe from corpus statistics (the companion to queries/sampling.py's
``corpus_mix_sample``, which APPLIES a hand-specified recipe).

ENGINE scope: the standard multilingual/multi-source rebalancing rule
(exponentiated sampling, as published for mBERT/XLM-R-style training
mixes): a source with token mass n_i is sampled with probability

    p_i  ∝  n_i ** alpha,       0 < alpha <= 1

alpha = 1 reproduces the natural distribution; alpha → 0 flattens it —
low-resource sources are upsampled, dominant ones downsampled.  The
whole computation is two bounded aggregations (per-source, then a
1-row corpus total broadcast back), so it costs one scan + one tiny
shuffle regardless of corpus size; the per-source table it returns is
bounded by the number of sources, never by rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prod2vec_spark.operators import text as TX

DEFAULT_ALPHA = 0.7


def temperature_mix(
    docs: DataFrame,
    alpha: float = DEFAULT_ALPHA,
    budget_tokens: int = 1_000_000,
    source_col: str = "source",
    text_col: str = "text",
    count_fn=None,
) -> DataFrame:
    """Per-source mixing recipe: (source, n_docs, n_tokens, p_raw,
    p_temp, target_tokens, boost).  ``count_fn`` (text Column →
    token-count Column, e.g. ``bpe.bpe_counter(merges)``) swaps the
    token accounting unit so the budget means MODEL tokens; default
    whitespace words.

    * ``p_raw``  — natural token share n_i / N
    * ``p_temp`` — temperature share n_i^alpha / sum_j n_j^alpha
    * ``target_tokens`` — floor(budget * p_temp)
    * ``boost`` — p_temp / p_raw (the up/downsampling factor the
      recipe implies; > 1 means the source is repeated at training
      time)

    Plan: per-source hash aggregate (partial map-side combine), then a
    1-row total crossJoin-broadcast — the repo's standard scalar
    pattern.  All ratios rounded for portable float parity.
    """
    if not (0.0 < alpha <= 1.0):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if count_fn is None:
        count_fn = lambda c: F.size(TX.tokens(c))  # noqa: E731
    per_src = (
        docs.select(
            F.col(source_col).alias("source"),
            count_fn(F.col(text_col)).cast("long").alias("_nt"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_nt").cast("long").alias("n_tokens"),
        )
    )
    totals = per_src.agg(
        F.sum("n_tokens").cast("double").alias("_tot"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha)))).alias(
            "_tot_pow"
        ),
    )
    p_raw = F.col("n_tokens").cast("double") / F.col("_tot")
    p_temp = F.pow(F.col("n_tokens").cast("double"), F.lit(float(alpha))) / F.col(
        "_tot_pow"
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(p_raw, 6).alias("p_raw"),
            F.round(p_temp, 6).alias("p_temp"),
            F.floor(F.lit(float(budget_tokens)) * p_temp).cast("long").alias(
                "target_tokens"
            ),
            F.round(p_temp / p_raw, 4).alias("boost"),
        )
    )


def materialize_mix(
    docs: DataFrame,
    alpha: float = DEFAULT_ALPHA,
    budget_tokens: int = 1_000_000,
    seed: int = 42,
    source_col: str = "source",
    text_col: str = "text",
    count_fn=None,
) -> DataFrame:
    """APPLY the temperature recipe: ``docs`` + an ``n_copies`` column
    — how many times each document appears in the training stream so
    each source's realized token mass matches its temperature share.

    Deterministic stochastic rounding of the per-source scale
    s = target_tokens / n_tokens (how many times the source must be
    repeated to fill its temperature share of the BUDGET):
        n_copies = floor(s) + [hash_unit(seed | doc_id) < frac(s)]
    so s = 2.3 repeats every doc twice and a deterministic md5-chosen
    30% of docs a third time, while s = 0.4 keeps a 40% subset once
    (downsampling and upsampling fall out of the same formula).
    E[realized tokens] = s · n_tokens = the recipe's target; the draw
    is a pure function of (seed, doc_id), so the stream is stable
    under incremental ingestion like every other sampler in the
    engine.

    ``count_fn`` (text Column → token count; the bpe.bpe_counter
    hook) flows into the recipe so scales are computed in the SAME
    token unit the recipe budgets — mixing the units would silently
    mis-scale every source.

    One bounded recipe aggregate broadcast back onto a row-local map
    pass — the corpus never shuffles.  Explode downstream with
    ``F.explode(F.sequence(F.lit(1), F.col("n_copies")))`` when the
    physical repetition is wanted (sequence of 1..0 is empty, so
    n_copies = 0 rows vanish in the same expression).
    """
    from prod2vec_spark.functions.hashing import hash_unit

    recipe = temperature_mix(
        docs,
        alpha=alpha,
        budget_tokens=budget_tokens,
        source_col=source_col,
        text_col=text_col,
        count_fn=count_fn,
    ).select(
        F.col("source").alias("_mix_src"),
        F.round(
            F.col("target_tokens").cast("double") / F.col("n_tokens").cast("double"),
            4,
        ).alias("_scale"),
    )
    # disjoint key names: recipe shares docs' lineage, so an equi-name
    # join condition would be ambiguous (the trigram-LM probe-join
    # regression class — see operators/lm.py)
    u = hash_unit(F.concat_ws("|", F.lit(str(seed)), F.col("doc_id")))
    base = F.floor(F.col("_scale")).cast("long")
    frac = F.col("_scale") - F.floor(F.col("_scale"))
    return (
        docs.join(F.broadcast(recipe), F.col(source_col) == F.col("_mix_src"))
        .withColumn("n_copies", base + (u < frac).cast("long"))
        .drop("_mix_src", "_scale")
    )
