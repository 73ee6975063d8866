"""Text-analysis operators over the ``documents`` table (ENGINE scope —
the reference has no text surface; these are the LLM-training-data
operators the north star requires: token counting, quality scoring,
language-ID, fingerprinting).

Design rule: everything is a row-local Column expression (split /
higher-order functions / md5) — zero shuffles, zero UDFs, linear scans
that trivially survive 100 TB.  Aggregation only happens when a query
asks for corpus-level stats.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from prod2vec_spark.functions.hashing import hex_prefix_long

# Whitespace tokenization shared by every operator (and every oracle:
# DuckDB regexp_split_to_array(trim(text), '\s+')).
def tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


# BPE-ish lexer: words | digit runs | single non-space symbol — the
# token-budget estimator shape used by data pipelines when the real
# tokenizer is too slow for a 100 TB scan.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


# Marker vocabularies for the language-ID heuristic.  Deterministic
# argmax with a fixed precedence order (en > de > es > fr > zh) — the
# oracle evaluates the identical formula.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "in", "is", "to"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "es": ["el", "la", "de", "que", "y", "es"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "zh": [],  # zh scored by CJK char presence, not markers
}


def _marker_hits(toks: Column, markers: list[str]) -> Column:
    if not markers:
        return F.lit(0)
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language integer scores: marker-token hits; zh scored by
    CJK-codepoint count (none in the synthetic corpus, but the operator
    is the real heuristic)."""
    toks = tokens(text)
    scores = {
        lang: _marker_hits(toks, m) for lang, m in LANG_MARKERS.items() if lang != "zh"
    }
    # zh proxy: non-ASCII character count (portable regex in both engines)
    scores["zh"] = F.length(F.regexp_replace(text, "[\\x00-\\x7F]", ""))
    return scores


def lang_guess(text: Column) -> Column:
    """argmax over lang_scores with fixed precedence en>de>es>fr>zh;
    all-zero → 'und' (undetermined)."""
    s = lang_scores(text)
    best = F.greatest(*s.values())
    out = F.lit("und")
    # reversed precedence so earlier langs win ties via later .when chain
    expr = F.when(best == 0, F.lit("und"))
    for lang in ["en", "de", "es", "fr", "zh"]:
        expr = expr.when(s[lang] == best, F.lit(lang))
    return expr.otherwise(out)


def quality_features(text: Column) -> dict[str, Column]:
    """Heuristic quality signals (Gopher/C4-style): token count, mean
    token length, stopword ratio, non-alnum ratio, type-token ratio."""
    toks = tokens(text)
    n = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    stop_hits = _marker_hits(toks, LANG_MARKERS["en"])
    nonalnum = F.length(F.regexp_replace(text, "[A-Za-z0-9\\s]", ""))
    return {
        "n_tokens": n,
        "n_distinct_tokens": F.size(F.array_distinct(toks)),
        "avg_token_len": F.round(total_len.cast("double") / n, 4),
        "stopword_ratio": F.round(stop_hits.cast("double") / n, 4),
        "symbol_ratio": F.round(nonalnum.cast("double") / F.length(text), 4),
        "type_token_ratio": F.round(F.size(F.array_distinct(toks)).cast("double") / n, 4),
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score — monotone in 'looks like prose':
    penalize very short docs, symbol soup, and extreme repetition.

    Round 16: the token array is ``let``-bound so the three
    token-derived terms share ONE tokenization — the quality_features
    dict hands out independent expressions, so referencing three of
    its fields in one projection tokenized the document three times
    (HOF expressions have no CSE).  Arithmetic is byte-identical to
    the quality_features composition (same round() placement); the
    oracle-checked quality_filter entry pins it."""
    from prod2vec_spark.functions.arrays import let

    def score(toks: Column) -> Column:
        n = F.size(toks)
        length_ok = F.least(F.lit(1.0), n.cast("double") / F.lit(20.0))
        symbol_ratio = F.round(
            F.length(F.regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast(
                "double"
            )
            / F.length(text),
            4,
        )
        symbol_ok = F.greatest(F.lit(0.0), F.lit(1.0) - F.lit(4.0) * symbol_ratio)
        repeat_ok = F.round(
            F.size(F.array_distinct(toks)).cast("double") / n, 4
        )
        return F.round((length_ok + symbol_ok + repeat_ok) / F.lit(3.0), 4)

    return let(tokens(text), score)


def fingerprint(text: Column) -> Column:
    """Rolling polynomial hash over tokens mod 2147483647 (document
    fingerprint; functions/hashing.py).  Oracle: list_reduce with the
    same fold."""
    from prod2vec_spark.functions.hashing import rolling_fingerprint

    return rolling_fingerprint(tokens(text))


def simhash32(text: Column) -> Column:
    """32-bit SimHash over whitespace tokens, entirely row-local:
    h(tok) = 32-bit md5 prefix; v_b = Σ_tokens (2·bit_b(h) − 1);
    simhash = Σ_b [v_b > 0]·2^b.  Nested higher-order functions — no
    explode, no shuffle, codegen-friendly."""
    toks = tokens(text)
    # ONE md5 per token, materialized inside the fold's input array —
    # interpreted HOFs have no CSE, so hashing inside the per-bit
    # lambda would md5 every token 32 times (measured 30x slowdown).
    # Bit b comes from shiftright with a Python-literal shift, unrolled
    # over the 32 positions.
    hashed = F.transform(toks, lambda t: hex_prefix_long(t, 8))
    bitsum = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0).cast("long"), 32),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    ((F.shiftright(h, b) % 2) * 2 - 1).cast("long")
                    for b in range(32)
                ]
            ),
            lambda a, x: a + x,
        ),
    )
    return F.aggregate(
        F.zip_with(
            bitsum,
            F.sequence(F.lit(0), F.lit(31)),
            lambda v, b: F.when(v > 0, F.pow(F.lit(2.0), b).cast("long")).otherwise(
                F.lit(0).cast("long")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def nfc_normalize(text: Column) -> Column:
    """Unicode NFC canonical composition — the codec-boundary step of
    CCNet §3.1's cleanup (composed 'é' and decomposed 'e'+U+0301 must
    exact-dedup together).  Spark has no NFC builtin, so this is the
    one sanctioned Python hop: an Arrow-batched pandas_udf (the
    functions/compress.py zlib precedent — scalar, vectorized per
    batch, deterministic, stdlib ``unicodedata``).  No DuckDB twin
    (no NFC in SQL), so columns derived from it are rows-only in the
    catalog — the honest class for codec-backed ops."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return _nfc(text)


def normalize_text(text: Column, lowercase: bool = True, nfc: bool = False) -> Column:
    """Canonical text normalization applied BEFORE hashing/dedup
    (the CCNet §3.1 pre-dedup cleanup): strip control characters,
    collapse all whitespace runs to single spaces, trim, optional
    casefold.  Row-local, zero shuffle.

    ``nfc=True`` prepends Unicode NFC composition (``nfc_normalize``,
    the Arrow codec-boundary hop) so composed/decomposed variants of
    one document collapse to one digest; the default stays the pure
    Column chain — and oracled (the NFC leg is rows-only by the
    codec-boundary policy).

    Oracle (nfc=False): regexp_replace(...,'g') with the identical
    patterns + lower()/trim (queries/text.py text_normalize)."""
    if nfc:
        text = nfc_normalize(text)
    out = F.regexp_replace(text, r"[\x00-\x1F\x7F]", " ")
    out = F.trim(F.regexp_replace(out, r"\s+", " "))
    if lowercase:
        out = F.lower(out)
    return out


# --- script-mix profile ---------------------------------------------
# Unicode ranges as LITERAL character ranges so the identical pattern
# string compiles under Java regex and RE2 (named script classes
# spell differently per engine: \p{IsHan} vs \p{Han}).
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-z",
    "han": "\u4e00-\u9fff",
    "cyrillic": "\u0400-\u04ff",
    "arabic": "\u0600-\u06ff",
}


def script_counts(text):
    """Per-script character counts — size(regexp_extract_all) so the
    DuckDB twin (len(regexp_extract_all)) uses the IDENTICAL pattern
    string."""
    from pyspark.sql import functions as F

    return {
        name: F.size(F.regexp_extract_all(text, F.lit(f"[{rng}]"), 0))
        for name, rng in SCRIPT_RANGES.items()
    }


# --- HTML extraction -------------------------------------------------
# The bounded entity set handled as exact replaces (identical chains
# in Spark and the DuckDB oracle); numeric entities are out of scope
# for the portable chain (a real ingest would NFC + full-unescape at
# the codec boundary, the nfc_normalize precedent).
_HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&amp;", "&"),
)


def strip_html(html: Column) -> Column:
    """Visible text of an HTML fragment — the web-ingestion edge every
    crawl pipeline runs before ANY text operator (C4 extracts text
    before its filters; Raffel et al. 2020 §2.2).  Row-local Column
    chain, zero shuffle, oracle-replayable:

    1. drop <script>/<style> ELEMENTS wholesale (their text is code,
       not content; non-greedy across newlines via (?s));
    2. drop comments ``<!-- ... -->``;
    3. block-level closers/br become spaces so words from adjacent
       paragraphs don't fuse, then every remaining tag is removed;
    4. the bounded entity set unescapes (&amp; LAST so ``&amp;lt;``
       correctly yields the literal ``&lt;``);
    5. whitespace collapses and trims.

    This is deliberately a REGEX extractor, not an HTML5 parser: at
    100 TB the per-row cost must stay in whole-stage codegen, and
    malformed markup degrades to extra whitespace, never to an error
    (the auditable-miss contract).  NULL html → NULL out.
    """
    # two patterns, not one with a </\1> backreference: the DuckDB
    # oracle's RE2 engine has no backreferences, and the portable
    # chain must be the SAME regex text in both engines
    out = F.regexp_replace(html, r"(?is)<script\b.*?</script\s*>", " ")
    out = F.regexp_replace(out, r"(?is)<style\b.*?</style\s*>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    out = F.regexp_replace(out, r"(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|table|blockquote)\b[^>]*>", " ")
    # tags must start with a letter, '/', or '!' — a stray '<' in
    # prose ("1 < 2") is NOT markup and must survive
    out = F.regexp_replace(out, r"(?s)<(/?[A-Za-z][^>]*|![^>]*)>", "")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


# --------------------------------------------- sentence segmentation
# Shared sentence pattern: a maximal run of non-terminal characters
# followed by a run of terminal punctuation.  Deliberately
# LOOKAROUND-FREE so the identical pattern string compiles under Java
# regex (Spark) AND RE2 (the DuckDB oracle) — the script_counts
# portability rule.  Text after the last terminator is NOT a sentence
# (it is reported as tail_chars by sentence_profile).
SENTENCE_RE = r"[^.!?]+[.!?]+"


def sentences(text: Column) -> Column:
    """Array of trimmed sentences of a document: maximal spans ending
    in terminal punctuation ('.', '!', '?'), terminators kept.  NULL
    text reads as the empty document (empty array — the linefilters
    NULL-poisoning convention); blank spans (e.g. between '..')
    cannot occur by construction (the span regex requires ≥1
    non-terminal char)."""
    t = F.coalesce(text, F.lit(""))
    return F.transform(
        F.regexp_extract_all(t, F.lit(SENTENCE_RE), F.lit(0)),
        lambda s: F.trim(s),
    )


def sentence_profile(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document sentence statistics (round 15 — the segmentation
    primitive sentence-level dedup / SFT-style example prep builds
    on): n_sentences, avg/max trimmed sentence length (0 when no
    sentence terminates), and tail_chars — the characters after the
    last terminator, i.e. the unterminated remainder the C4
    terminal-punctuation line rule would flag.  One row-local scan,
    zero shuffle, fully inside whole-stage codegen except the regex
    itself."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    staged = docs.select(
        id_col,
        t.alias("_t"),
        sentences(F.col(text_col)).alias("_sents"),
    )
    lens = F.transform(F.col("_sents"), lambda s: F.length(s))
    n = F.size("_sents")
    # tail = everything after the LAST terminator: strip the anchored
    # greedy prefix ending in a terminator and measure what is left.
    # Anchored + greedy means the replace fires at most once, and a
    # leading terminator run ('. Hello') is correctly consumed (the
    # old contiguous-prefix accounting miscounted it as tail —
    # ADVICE r15).  (?s) so '.' crosses newlines in BOTH Java regex
    # and RE2 — the script_counts portability rule.
    tail = F.length(
        F.regexp_replace(F.col("_t"), r"(?s)^.*[.!?]", "")
    )
    return staged.select(
        id_col,
        n.cast("long").alias("n_sentences"),
        F.when(n > 0, F.round(
            F.aggregate(lens, F.lit(0), lambda a, x: a + x)
            / n.cast("double"), 4))
        .otherwise(F.lit(0.0))
        .alias("avg_sentence_chars"),
        F.coalesce(F.array_max(lens), F.lit(0)).cast("long").alias(
            "max_sentence_chars"
        ),
        tail.cast("long").alias("tail_chars"),
    )
