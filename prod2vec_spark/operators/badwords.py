"""Document-level toxicity / badwords gate (ENGINE scope — the C4
§2.2 'bad words' screen, Raffel et al. 2020: any page containing a
word from the blocklist is removed; RefinedWeb and most production
web-curation stacks run the same gate with per-category lists).

The reference (a single-node pandas/TF recommender) has no text-gate
surface; the per-LINE phrase blocklist already exists in
operators/linefilters.py — this is the per-DOCUMENT composition with
per-category attribution (VERDICT r13 ask #4).

Semantics:

* single-token entries match WHOLE TOKENS (case-insensitive) — a
  substring match would hit inside innocent words (the classic
  'Scunthorpe' false positive).  Tokens are whitespace-split and then
  stripped of LEADING/TRAILING ASCII punctuation before the compare,
  so a listed word adjacent to punctuation ('slow.', '"slow,') still
  counts — C4's gate matches on word boundaries, and a raw-split
  compare under-matches on real prose (ADVICE r14);
* entries containing a space match as case-insensitive SUBSTRING
  phrases with occurrence counting (the linefilters convention);
* per-category hit counts + a total badword fraction over the token
  count + a drop verdict (``frac > max_frac``; the C4 default
  ``max_frac=0.0`` drops on ANY hit).

Scale shape: the word list is a LITERAL broadcast into the plan (a
few hundred words — the real C4 list is ~400 entries/language); the
whole gate is one row-local higher-order-function pass per category,
zero shuffle, fully inside whole-stage codegen.  NULL text reads as
the empty document: 0 hits, frac 0.0, kept (the linefilters
NULL-poisoning convention).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prod2vec_spark.functions.arrays import bind


def _phrase_hits(lower_text: Column, phrase: str) -> Column:
    """Occurrence count of a lowercase phrase: (len - len(without)) /
    len(phrase) — the standard substring-count identity."""
    p = phrase.lower()
    return (
        (F.length(lower_text) - F.length(F.replace(lower_text, F.lit(p))))
        / F.lit(len(p))
    ).cast("long")


_PUNCT_EDGE = r"^\p{Punct}+|\p{Punct}+$"  # Java regex; DuckDB twin uses [[:punct:]]
# the 32 chars of \p{Punct} / [[:punct:]] (ASCII POSIX punct) — btrim
# over this set strips the same leading/trailing runs the regex does,
# without a per-token regex engine call (round 16, guide §1.2 step 2:
# the strip ran once per token per CATEGORY per reference and measured
# ~6 s of the curation macro's scrub chain)
_PUNCT_CHARS = r"""!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~"""


def _category_hits(toks: Column, lower_text: Column, words) -> Column:
    """Total hits for one category: whole-token matches (punctuation-
    stripped at the edges) for single words + substring occurrence
    counts for space-bearing phrases.  ``toks`` must already be the
    punctuation-stripped token array (see ``_stripped_tokens``)."""
    singles = tuple(w.lower() for w in words if " " not in w)
    phrases = tuple(w for w in words if " " in w)
    hits = F.lit(0).cast("long")
    if singles:
        hits = hits + F.size(F.filter(toks, lambda t: t.isin(*singles)))
    for p in phrases:
        hits = hits + _phrase_hits(lower_text, p)
    return hits


def _stripped_tokens(lower_text: Column) -> Column:
    """Whitespace tokens of already-LOWERCASED text with leading/
    trailing punctuation stripped — the per-token staging both gates
    bind ONCE per row through ``functions.arrays.bind`` (HOF
    expressions have no CSE, and withColumn aliases re-inline)."""
    toks = F.filter(
        F.split(F.trim(lower_text), r"\s+"), lambda t: t != ""
    )
    return F.transform(toks, lambda t: F.btrim(t, F.lit(_PUNCT_CHARS)))


def _staged(docs: DataFrame, text_col: str) -> DataFrame:
    """Shared staging for both gates: ``_bwl`` = lowercased text and
    ``_bwtoks`` = stripped token array, each bound through the
    Generate barrier (functions/arrays.bind) so the split+strip chain
    — and, in the fused scrub DAG, the upstream line-filter rewrite
    the text column aliases — evaluates exactly once per row however
    many hit columns and pushed-down verdict predicates consume it."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    out = bind(docs, "_bwl", F.lower(text))
    return bind(out, "_bwtoks", _stripped_tokens(F.col("_bwl")))


def badwords_gate(
    docs: DataFrame,
    categories: "dict[str, tuple[str, ...]]",
    *,
    text_col: str = "text",
    max_frac: float = 0.0,
) -> DataFrame:
    """Per-document badwords report: every input column plus one
    ``hits_<category>`` count per category, ``n_tokens``,
    ``badword_frac`` (total hits / tokens, 6-dp rounded) and
    ``bad_verdict`` (True = the gate would DROP the doc:
    ``badword_frac > max_frac``).  Drop policy stays with the caller
    — the report is emitted for every doc (the line_filter contract).
    """
    if not categories:
        raise ValueError("badwords_gate needs at least one category")
    for cat, words in categories.items():
        if not words:
            raise ValueError(f"badwords category {cat!r} has no words")
        if not cat.isidentifier():
            raise ValueError(
                f"category name {cat!r} must be a valid column suffix"
            )
    # Round-16 staging: _bwl (lower text) and _bwtoks (stripped token
    # array) bind once per row through the Generate barrier, then ONE
    # more bound struct carries every category's TOTAL hits (whole-
    # token + phrase) and the token count — the derived columns and
    # the caller's pushed-down verdict predicate are all O(1) field
    # reads of a materialized attribute.
    cats_sorted = sorted(categories)
    out = _staged(docs, text_col)
    out = bind(
        out,
        "_bw",
        F.struct(
            *[
                _category_hits(
                    F.col("_bwtoks"), F.col("_bwl"), categories[cat]
                ).alias(f"h_{cat}")
                for cat in cats_sorted
            ],
            F.size(F.col("_bwtoks")).alias("n"),
        ),
    )
    total = F.lit(0).cast("long")
    for cat in cats_sorted:
        out = out.withColumn(f"hits_{cat}", F.col("_bw")[f"h_{cat}"])
        total = total + F.col(f"hits_{cat}")
    n_tokens = F.col("_bw")["n"]
    frac = F.round(
        total.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double"),
        6,
    )
    return (
        out.withColumn("n_tokens", n_tokens)
        .withColumn("badword_frac", frac)
        .withColumn("bad_verdict", F.col("badword_frac") > F.lit(max_frac))
        .drop("_bwl", "_bwtoks", "_bw")
    )


def badwords_by_lang(
    docs: DataFrame,
    lists: "dict[str, dict[str, tuple[str, ...]]]",
    *,
    lang_col: str = "lang",
    text_col: str = "text",
    max_frac: float = 0.0,
    default_lang: "str | None" = None,
) -> DataFrame:
    """Per-LANGUAGE badwords gate (round 16, VERDICT r15 ask #8): the
    C4 blocklist is per-language in production (the public list ships
    ~25 language files) — ``lists`` maps lang -> {category -> words}
    and each document is screened against ITS OWN language's list,
    selected row-locally by ``lang_col`` (the operators/lm keyed-model
    one-grouped-computation rule: one pass, no per-language frame
    split, no shuffle).

    Output: ``hits_<category>`` for every category in the UNION of
    all languages' category sets (a doc whose language's list lacks a
    category reads 0 there — its language IS listed, the list simply
    has no such category), plus ``n_tokens`` / ``badword_frac`` /
    ``bad_verdict`` exactly as badwords_gate.

    Documents whose language is NOT a key of ``lists`` (including
    NULL lang) fall back to ``default_lang``'s list when given, else
    read 0 hits everywhere and pass — an unscreened language is
    absence of evidence, not a verdict; route it to a lang-ID stage,
    not a drop.

    Matching semantics are badwords_gate's verbatim (same
    ``_category_hits``): whole-token single words with
    punctuation-edge stripping, substring counting for space-bearing
    phrases.  Scale shape: every list is a literal in the plan (the
    full 25-language C4 blocklist is a few thousand words — trivially
    broadcastable as constants); the gate stays one row-local HOF
    pass inside whole-stage codegen, zero shuffle.
    """
    if not lists:
        raise ValueError("badwords_by_lang needs at least one language")
    for lang, cats in lists.items():
        if not cats:
            raise ValueError(f"language {lang!r} has no categories")
        for cat, words in cats.items():
            if not words:
                raise ValueError(
                    f"badwords category {lang}/{cat} has no words"
                )
            if not cat.isidentifier():
                raise ValueError(
                    f"category name {cat!r} must be a valid column suffix"
                )
    if default_lang is not None and default_lang not in lists:
        raise ValueError(
            f"default_lang {default_lang!r} is not a key of lists"
        )
    all_cats = sorted({c for cats in lists.values() for c in cats})
    # Round-16 staging (the badwords_gate shape): _bwl/_bwtoks bound
    # once via the Generate barrier, then ONE bound struct carries the
    # TOTAL per-(language, category) hits — the per-language CASE
    # below selects among O(1) struct-field reads of a materialized
    # attribute (previously every CASE arm re-derived split +
    # per-token strip from text, and the withColumn alias re-inlined
    # the chain into each consumer).
    pairs = sorted(
        (lang, cat) for lang in lists for cat in lists[lang]
    )
    out = _staged(docs, text_col)
    out = bind(
        out,
        "_bw",
        F.struct(
            *[
                _category_hits(
                    F.col("_bwtoks"), F.col("_bwl"), lists[lg][ct]
                ).alias(f"h_{lg}_{ct}")
                for lg, ct in pairs
            ],
            F.size(F.col("_bwtoks")).alias("n"),
        ),
    )

    def cat_hits(lang: str, cat: str) -> Column:
        return F.col("_bw")[f"h_{lang}_{cat}"]

    total = F.lit(0).cast("long")
    for cat in all_cats:
        # fallback leg first (unlisted languages), then one CASE arm
        # per language — all row-local column expressions
        if default_lang is not None and cat in lists[default_lang]:
            expr = cat_hits(default_lang, cat)
        else:
            expr = F.lit(0).cast("long")
        for lang in sorted(lists):
            arm = (
                cat_hits(lang, cat)
                if cat in lists[lang]
                else F.lit(0).cast("long")
            )
            expr = F.when(F.col(lang_col) == F.lit(lang), arm).otherwise(expr)
        out = out.withColumn(f"hits_{cat}", expr)
        total = total + F.col(f"hits_{cat}")
    n_tokens = F.col("_bw")["n"]
    frac = F.round(
        total.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double"),
        6,
    )
    return (
        out.withColumn("n_tokens", n_tokens)
        .withColumn("badword_frac", frac)
        .withColumn("bad_verdict", F.col("badword_frac") > F.lit(max_frac))
        .drop("_bwl", "_bwtoks", "_bw")
    )


def badwords_screen(
    docs: DataFrame,
    cats: "dict[str, tuple[str, ...]] | None" = None,
    lang_lists: "dict[str, dict[str, tuple[str, ...]]] | None" = None,
    *,
    max_frac: float = 0.0,
    default_lang: "str | None" = None,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """GATE form shared by the batch DAG and the streaming pipeline:
    run the badwords report (single-list ``cats`` or per-language
    ``lang_lists``), drop flagged docs, strip the report columns.  A
    None or empty mapping is off; with both off the docs pass
    unscreened, with both on it raises.  One definition so the two
    chains can never drift (the span-gate consolidation rule)."""
    cats, lang_lists = cats or None, lang_lists or None
    if cats is not None and lang_lists is not None:
        raise ValueError(
            "badwords cats and lang_lists are mutually exclusive — pick "
            "the single-list or per-language gate"
        )
    if cats is None and lang_lists is None:
        return docs
    if cats is not None:
        rep = badwords_gate(
            docs, cats, text_col=text_col, max_frac=max_frac
        )
    else:
        rep = badwords_by_lang(
            docs,
            lang_lists,
            lang_col=lang_col,
            text_col=text_col,
            max_frac=max_frac,
            default_lang=default_lang,
        )
    aux = [
        c
        for c in rep.columns
        if c.startswith("hits_")
        or c in ("n_tokens", "badword_frac", "bad_verdict")
    ]
    return rep.where(~F.col("bad_verdict")).drop(*aux)
