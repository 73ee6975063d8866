"""Intra-document repetition features (Gopher-style repetition
filters, Rae et al. 2021 §A1.1) — the standard LLM-corpus gate the
reference's pipeline lacks (ENGINE scope; reference anchor: the
corpus-prep role of utils/prep_utils.py, which stops at basket
assembly).

All features are row-local Column expressions over the whitespace
token array: word n-grams via a slice-window transform, per-gram
occurrence counts via filter-over-distinct.  Zero shuffles, zero UDFs
— a linear scan that survives 100 TB (per-row cost is
O(distinct_grams × n_grams), bounded by document length, not corpus
size).

HOF-CSE rule (operators/text.py simhash comment): interpreted
higher-order functions re-evaluate any outer expression referenced
inside a lambda, so callers MUST stage the token/gram arrays as real
columns (``withColumn``) before passing them here — passing a
``split(...)`` expression directly would re-split the document once
per distinct gram.

DuckDB oracle equivalents (queries/text.py) evaluate the identical
formulas with list_transform / list_filter / list_slice.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def word_ngrams(toks: Column, n: int) -> Column:
    """Array of space-joined word ``n``-grams of the token array; empty
    array when the document has fewer than ``n`` tokens (guarded —
    Spark's ``sequence(1, 0)`` would count DOWN, not return empty).

    Oracle: list_transform(generate_series(1, len(toks) - (n-1)),
    i -> array_to_string(list_slice(toks, i, i + (n-1)), ' ')) —
    DuckDB's generate_series returns [] when stop < start.
    """
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def occurrence_counts(grams: Column) -> Column:
    """Occurrence count of each DISTINCT gram (aligned with
    array_distinct order — order-insensitive consumers only: max/sum).

    Reference implementation, O(distinct × n) per row — kept for the
    equivalence property test; the production fractions below use the
    O(n log n) sorted-run fold instead.  ``grams`` must be a staged
    column reference, not a nested expression (HOF-CSE rule above)."""
    return F.transform(
        F.array_distinct(grams),
        lambda g: F.size(F.filter(grams, lambda x: x == g)),
    )


def gram_run_stats(grams: Column) -> Column:
    """struct(max_count, dup_occurrences) for a gram array via ONE
    sort + ONE linear fold over runs of equal grams — O(n log n) per
    row versus occurrence_counts' O(distinct × n).  On real web docs
    (10³-10⁴ tokens) that quadratic is the difference between a
    linear 100 TB scan and one that stalls on long documents
    (property-tested equivalent to the reference implementation).

    Uses '' as the closed-run sentinel: gram strings of n ≥ 2 words
    always contain a space, so no gram equals the sentinel (callers
    passing 1-grams must guarantee non-empty tokens)."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("mx"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc, x):
        same = acc["prev"] == x
        closed_mx = F.greatest(acc["mx"], acc["run"])
        closed_dup = acc["dup"] + F.when(
            acc["run"] >= 2, acc["run"]
        ).otherwise(F.lit(0).cast("long"))
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["mx"]).otherwise(closed_mx).alias("mx"),
            F.when(same, acc["dup"]).otherwise(closed_dup).alias("dup"),
        )

    def finish(acc):
        return F.struct(
            F.greatest(acc["mx"], acc["run"]).alias("max_count"),
            (
                acc["dup"]
                + F.when(acc["run"] >= 2, acc["run"]).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("dup_occurrences"),
        )

    return F.aggregate(F.array_sort(grams), init, step, finish)


def top_gram_fraction(grams: Column) -> Column:
    """Fraction of n-gram OCCURRENCES taken by the single most frequent
    n-gram (Gopher's top-n-gram fraction, token-occurrence form) —
    0.0 for documents too short to have any gram."""
    stats = gram_run_stats(grams)
    return F.when(
        F.size(grams) > 0,
        F.round(
            stats["max_count"].cast("double") / F.size(grams).cast("double"), 4
        ),
    ).otherwise(F.lit(0.0))


def dup_gram_fraction(grams: Column) -> Column:
    """Fraction of n-gram occurrences whose gram appears ≥2 times in
    the document (Gopher's duplicate-n-gram fraction, token-occurrence
    form)."""
    stats = gram_run_stats(grams)
    return F.when(
        F.size(grams) > 0,
        F.round(
            stats["dup_occurrences"].cast("double")
            / F.size(grams).cast("double"),
            4,
        ),
    ).otherwise(F.lit(0.0))


def dup_token_fraction(toks: Column) -> Column:
    """1 − distinct/total tokens: the crudest repetition signal (a
    type-token-ratio complement; kept as the feature every corpus
    report starts with)."""
    return F.when(
        F.size(toks) > 0,
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double"),
            4,
        ),
    ).otherwise(F.lit(0.0))


# Gate thresholds: Gopher's published cuts are corpus-calibrated; these
# are the same SHAPE (reject documents dominated by one bigram or by
# repeated trigram spans) tuned so the synthetic corpus splits
# non-trivially.  The oracle evaluates the identical constants.
TOP_BIGRAM_MAX = 0.08
DUP_TRIGRAM_MAX = 0.20
# A fully-diverse doc of n tokens has top_bigram_frac ≥ 1/(n−1), so a
# fixed cut would auto-reject EVERY short doc however clean (1/12 >
# 0.08 at 13 tokens) while 0/1-token docs sail through — non-monotone.
# Below this many bigram occurrences the top-bigram criterion is
# waived (Gopher likewise applies repetition cuts only past a minimum
# document length); the dup-trigram criterion has no such floor
# artifact (diverse docs score exactly 0) and always applies.
MIN_GATE_BIGRAMS = 25


def repetition_gate(
    top_bigram_frac: Column,
    dup_trigram_frac: Column,
    n_bigrams: Column,
) -> Column:
    """True ⇔ the document passes the repetition filter.  The
    top-bigram criterion engages only for docs with ≥ MIN_GATE_BIGRAMS
    bigram occurrences (see the floor-artifact note above)."""
    return (
        (n_bigrams < MIN_GATE_BIGRAMS) | (top_bigram_frac <= TOP_BIGRAM_MAX)
    ) & (dup_trigram_frac <= DUP_TRIGRAM_MAX)


def repetition_keep(text: Column) -> Column:
    """The full Gopher repetition gate as ONE single-evaluation
    expression over raw text — True ⇔ the document passes.

    Semantically identical to staging ``tokens`` → ``word_ngrams`` →
    ``repetition_gate`` as columns, but bound through
    ``functions.arrays.let`` so the tokenization and each gram
    expansion evaluate EXACTLY ONCE per row.  The staged-column form
    collapses into a pushed-down Filter that re-inlines the lineage
    per reference — measured 22 ``split(trim(text))`` copies in the
    plan and ~20 s of a 60 s curation macro at sf0.1; this form is
    ~10×cheaper with byte-identical survivors (pytest-locked).

    CAUTION — known PySpark 4.1.2 mis-binding shape: passing OUTER
    HOF-lambda vars (``toks``/``g2``/``g3`` here) into NESTED
    transform/zip_with/aggregate lambdas can silently bind wrong
    values (the exact class that forced ``_pq_lut_expr`` to unroll to
    literals in round 11).  This composition resolves correctly today,
    but any refactor of ``word_ngrams``/``gram_run_stats`` internals
    (or a Spark upgrade) MUST re-verify against the staged-column
    form: ``test_repetition_keep_matches_staged_gate_form`` is the
    mandatory byte-identical-survivors gate — do not skip or relax
    it."""
    from pyspark.sql import functions as F

    from prod2vec_spark.functions.arrays import let
    from prod2vec_spark.operators.text import tokens

    return let(tokens(text), lambda toks:
           let(word_ngrams(toks, 2), lambda g2:
           let(word_ngrams(toks, 3), lambda g3:
               repetition_gate(
                   top_gram_fraction(g2),
                   dup_gram_fraction(g3),
                   F.size(g2),
               ))))


def corpus_ngram_hotspots(
    docs,
    *,
    n: int = 3,
    min_count: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """CORPUS-level duplicated-n-gram mining — "which exact phrases
    repeat across the corpus?", the boilerplate-discovery report that
    drives blocklists and explains dedup pressure (the aggregate twin
    of the per-document fractions above; Lee et al. 2022 §4 measure
    corpora exactly this way).

    Top-``k`` n-grams by total occurrence count (ties broken by gram
    text, so the listing is deterministic), with the distinct-document
    count alongside — a gram with n_occurrences ≫ n_docs is an
    intra-document stutter, n_occurrences ≈ n_docs ≫ 1 is shared
    boilerplate.

    Scale shape (round-15 reshape, profiled on the curation macro's
    hottest stage): the top-k is found by a COUNT-ONLY hash-agg first
    (map-side partials collapse to one row per distinct gram per
    partition; ``orderBy().limit(k)`` runs as TakeOrderedAndProject —
    per-partition top-k, never a global sort), and the distinct-doc
    count then computes ONLY for the k winners via a broadcast
    semi-join on a second scan.  The previous one-pass
    count+countDistinct shape forced Spark to carry per-(gram, doc)
    distinct state through the shuffle — the distinct-pair universe,
    corpus-sized at 100 TB; the reshape's first shuffle is bounded by
    the distinct-GRAM universe partials and its second by k rows
    (recomputing the explode is the cheap scan — the expensive
    resource at scale is the shuffle, the _sketched variant's rule).
    At 100 TB, additionally pre-filter with the count-min plane
    (``corpus_ngram_hotspots_sketched``).  Output is row-identical to
    the one-pass shape (pytest-locked).
    """
    from pyspark.sql import functions as F

    staged = docs.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks")
    ).withColumn("_grams", word_ngrams(F.col("_toks"), n))
    ex = staged.select(F.col(id_col), F.explode("_grams").alias("gram"))
    top = (
        ex.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
        .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
        .limit(k)
    )
    # Round-16 (guide §2.3 — shuffle fewer bytes): the distinct-doc
    # pass filters BEFORE it explodes.  The ≤ k winners collapse to a
    # 1-row sorted array broadcast (the adaptive_boilerplate_filter
    # trick); each doc row-locally intersects its DISTINCT gram set
    # with the winners and explodes only the matches, so the second
    # scan's shuffle carries ≤ k rows per doc instead of every gram
    # occurrence, and n_docs is a plain count (one row per containing
    # doc by construction) instead of a countDistinct carrying
    # per-(gram, doc) state.  Output row-identical (pytest-locked +
    # the adaptive_line_filter oracle).
    hotarr = top.agg(F.sort_array(F.collect_list("gram")).alias("_hot"))
    nd = (
        staged.crossJoin(F.broadcast(hotarr))
        .select(
            F.explode(
                F.array_intersect(F.array_distinct("_grams"), F.col("_hot"))
            ).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return (
        top.join(F.broadcast(nd), "gram")
        .select("gram", "n_occurrences", "n_docs")
        .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
    )


def corpus_ngram_hotspots_sketched(
    docs,
    *,
    n: int = 3,
    min_count: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """The 100 TB shape of ``corpus_ngram_hotspots``: a count-min
    sketch pre-filter so the gram-key shuffle carries ONLY candidate
    grams instead of the whole distinct-gram universe.

    Two corpus passes (recomputing the explode is the cheap scan; the
    expensive resource at scale is the shuffle):

    1. sketch pass — ``cms_sketch`` over the exploded grams: map-side
       partials collapse to ≤ depth × width rows per partition, so
       the shuffle is the bounded sketch table, not the grams;
    2. candidate pass — each gram row probes the BROADCAST sketch via
       ``depth`` row-local broadcast-hash joins (one per depth row
       subset), est = min over depths; rows with est < min_count drop
       BEFORE the gram-key shuffle.  CMS only OVER-estimates, so no
       qualifying gram is ever dropped — the output EQUALS the exact
       variant's (pytest-locked), only the shuffle volume changes.

    Final counts are exact (the >= min_count filter re-applies on the
    true counts to discard CMS false positives).
    """
    from pyspark.sql import functions as F

    from prod2vec_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        _bucket,
        cms_sketch,
    )

    def grams_of(frame):
        staged = frame.select(
            F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks")
        ).withColumn("_grams", word_ngrams(F.col("_toks"), n))
        return staged.select(F.col(id_col), F.explode("_grams").alias("gram"))

    sketch = cms_sketch(grams_of(docs).select(F.col("gram").alias("term")))

    g = grams_of(docs)
    for d in range(CMS_DEPTH):
        sd = sketch.where(F.col("depth") == d).select(
            F.col("bucket").alias(f"_b{d}"), F.col("cnt").alias(f"_c{d}")
        )
        g = g.withColumn(f"_b{d}", _bucket(F.col("gram"), d, CMS_WIDTH)).join(
            F.broadcast(sd), f"_b{d}", "left"
        )
    est = F.least(*[F.coalesce(F.col(f"_c{d}"), F.lit(0)) for d in range(CMS_DEPTH)])
    cand = g.where(est >= min_count).select(id_col, "gram")
    return (
        cand.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct(id_col).cast("long").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= min_count)
        .orderBy(F.col("n_occurrences").desc(), F.col("gram"))
        .limit(k)
    )
