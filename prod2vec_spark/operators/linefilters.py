"""C4-style rule-based line filtering (Raffel et al. 2020 §2.2 —
the "keep lines that end in terminal punctuation / have ≥ N words /
contain no blocklisted phrase or code brace" cleanup every web-corpus
pipeline runs BEFORE dedup), as pure row-local array expressions.

ENGINE scope — reference anchor: none; the reference
(utils/prep_utils.py) starts from structured CSVs and has no raw-text
cleanup surface.  This is the *within-document* rule plane; the
*cross-document* line/segment dedup lives in operators/linedup.py and
the *document-level* gates in operators/quality.py / repetition.py.

Scale shape: the whole filter is ONE projection — ``split`` →
higher-order ``filter`` → ``array_join`` — zero shuffles, zero UDFs,
whole-stage codegen end to end.  Per-row cost is linear in document
length; corpus size never enters.  That is C4's own shape (their
filters are a per-document map over lines) expressed as Catalyst
expressions instead of a Python loop.

HOF-CSE rule (operators/repetition.py header): interpreted
higher-order functions re-evaluate outer expressions referenced
inside a lambda, so ``line_filter`` stages the line array as a real
column before applying the per-rule counts.

DuckDB oracle equivalents evaluate the identical rules with
list_filter / list_transform over the same line segmentation
(queries/text.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prod2vec_spark.functions.arrays import bind

# C4's own blocklist is page-level ("lorem ipsum", the word
# "javascript", source-code braces); kept here as the line-level
# default, overridable per call.
DEFAULT_BLOCKLIST: tuple[str, ...] = ("lorem ipsum", "javascript")

# Line terminators C4 accepts as "ends in terminal punctuation".
TERMINAL_PUNCT: tuple[str, ...] = (".", "!", "?", '"')


def newline_lines(text: Column) -> Column:
    """Non-blank lines of a real (newline-delimited) document, order
    preserved, surrounding whitespace trimmed."""
    return F.filter(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )


def window_lines(text: Column, width: int) -> Column:
    """Pseudo-lines for newline-free corpora (the synthetic documents
    table): consecutive ``width``-token windows, space-joined — the
    same segmentation operators/linedup.py uses, so both planes see
    identical "lines".  Empty/blank text → empty array (guarded;
    ``sequence(0, -1)`` would count DOWN).

    The token array is ``let``-bound (round 16): the previous shape
    closed over the raw ``split`` expression inside the per-window
    lambda, re-splitting the WHOLE document once per window — O(n²/w)
    per row.  The let-bound var is a bound value, so the split runs
    once.  This is the repetition_keep nesting shape (outer HOF var
    inside a nested transform lambda — see the CAUTION in
    functions/arrays.let); test_linefilters pins equality against the
    staged-column reference form."""
    from prod2vec_spark.functions.arrays import let

    def wins(toks: Column) -> Column:
        n_win = F.ceil(F.size(toks) / F.lit(float(width))).cast("int")
        return F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), n_win - 1),
                lambda i: F.array_join(F.slice(toks, i * width + 1, width), " "),
            )
        )

    return let(
        F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != ""), wins
    )


def _word_count(line: Column) -> Column:
    return F.size(F.split(F.trim(line), r"\s+"))


def _too_short(line: Column, min_words: int) -> Column:
    return _word_count(line) < min_words


def _blocked(line: Column, blocklist: tuple[str, ...]) -> Column:
    """True when the line contains any blocklisted phrase
    (case-insensitive substring, C4's rule)."""
    lw = F.lower(line)
    hit = F.lit(False)
    for phrase in blocklist:
        hit = hit | lw.contains(phrase.lower())
    return hit


def _no_terminal_punct(line: Column) -> Column:
    return ~F.substring(F.rtrim(line), -1, 1).isin(*TERMINAL_PUNCT)


def _has_brace(line: Column) -> Column:
    return line.contains("{") | line.contains("}")


def line_filter(
    docs: DataFrame,
    *,
    text_col: str = "text",
    mode: str = "window",
    width: int = 10,
    min_words: int = 3,
    blocklist: tuple[str, ...] = DEFAULT_BLOCKLIST,
    require_terminal_punct: bool = False,
    drop_brace_lines: bool = False,
) -> DataFrame:
    """Per-document line-filter report: every input column plus

    * ``n_lines``   — lines after segmentation,
    * ``n_short``   — lines under ``min_words`` words,
    * ``n_blocked`` — lines containing a blocklisted phrase,
    * ``n_nopunct`` — lines missing terminal punctuation (0 when the
      rule is off), ``n_brace`` likewise for the code-brace rule,
    * ``n_kept``    — lines passing EVERY enabled rule,
    * ``kept_text`` — the surviving lines re-joined in order ('' when
      nothing survives — the empty document is REPORTED, never
      silently dropped: drop policy stays with the caller, the
      segment_dedup contract).

    ``mode='newline'`` splits real documents on newlines;
    ``mode='window'`` segments newline-free corpora into
    ``width``-token pseudo-lines (the linedup.py precedent).  Rule
    counts are independent (a line may violate several); ``n_kept``
    is the conjunction.
    """
    # NULL text reads as the empty document (n_lines=0, kept_text='')
    # — reported, never dropped or NULL-poisoned (size(NULL) is -1).
    text = F.coalesce(F.col(text_col), F.lit(""))
    if mode == "newline":
        lines = newline_lines(text)
        joiner = "\n"
    elif mode == "window":
        lines = window_lines(text, width)
        joiner = " "
    else:
        raise ValueError(f"unknown line mode: {mode!r}")

    # stage the per-line RULE FLAGS once (round 16 — the HOF-CSE rule,
    # taken one level deeper): the previous shape staged only the line
    # array and then ran five separate HOF traversals, each
    # re-evaluating the per-line word-split / blocklist-contains work
    # (n_short, n_blocked, n_kept and kept_text all re-derived them).
    # One transform computes every rule flag per line; the count and
    # reassembly passes below traverse cheap boolean fields.
    def flags(l: Column) -> Column:
        return F.struct(
            l.alias("l"),
            _too_short(l, min_words).alias("short"),
            _blocked(l, blocklist).alias("blocked"),
            (
                _no_terminal_punct(l)
                if require_terminal_punct
                else F.lit(False)
            ).alias("nopunct"),
            (_has_brace(l) if drop_brace_lines else F.lit(False)).alias(
                "brace"
            ),
        )

    keep = (
        lambda f: ~f["short"] & ~f["blocked"] & ~f["nopunct"] & ~f["brace"]
    )
    # bind (NOT withColumn): the flag array is consumed by six derived
    # columns and, in apply_line_filter, a pushed-down keep predicate —
    # a withColumn alias re-evaluates the whole transform chain per
    # consumer once CollapseProject/PushDownPredicates inline it
    # (functions/arrays.bind docstring); the Generate barrier pins it
    # to exactly one evaluation per row.
    staged = bind(docs, "_lf", F.transform(lines, flags))
    n_if = lambda pred: F.size(F.filter(F.col("_lf"), pred)).cast("long")  # noqa: E731
    return (
        staged.withColumn("n_lines", F.size("_lf").cast("long"))
        .withColumn("n_short", n_if(lambda f: f["short"]))
        .withColumn("n_blocked", n_if(lambda f: f["blocked"]))
        .withColumn(
            "n_nopunct",
            n_if(lambda f: f["nopunct"]) if require_terminal_punct else F.lit(0).cast("long"),
        )
        .withColumn(
            "n_brace",
            n_if(lambda f: f["brace"]) if drop_brace_lines else F.lit(0).cast("long"),
        )
        .withColumn("n_kept", n_if(keep))
        .withColumn(
            "kept_text",
            F.array_join(
                F.transform(
                    F.filter(F.col("_lf"), keep), lambda f: f["l"]
                ),
                joiner,
            ),
        )
        .drop("_lf")
    )


def adaptive_boilerplate_filter(
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_n: int = 3,
    top_k: int = 1,
    min_count: int = 2,
    mode: str = "window",
    width: int = 10,
    hotspots: DataFrame | None = None,
) -> DataFrame:
    """CORPUS-ADAPTIVE line cleanup: mine the ``top_k`` most-repeated
    ``gram_n``-grams (operators/repetition.corpus_ngram_hotspots) and
    cut every line containing one — the blocklist DISCOVERED from the
    corpus instead of hand-written, the composition boilerplate
    pipelines actually run (mine → block).

    Fully declarative — the hotspot listing aggregates to ONE row
    (a sorted gram array) that broadcast-cross-joins onto the corpus;
    no driver round-trip, so the plan stays a single lazy dataflow:
    hotspot hash-agg + TakeOrdered, then a row-local HOF filter.

    Returns per-doc: ``hot_grams`` (the discovered blocklist, same on
    every row), ``n_lines``, ``n_kept``, ``kept_text``.

    ``hotspots``: optionally hand in an already-mined gram table (a
    DataFrame with a ``gram`` column, e.g. the persisted
    ``adaptive_blocklist`` artifact read back) — the mine then runs
    ZERO times here.  Without it the mine is part of this plan's
    broadcast subtree, which re-evaluates the full upstream lineage —
    exactly what the curation DAG's checkpointed artifact avoids
    (round-11: this double-evaluation was 75% of the r9b macro).
    """
    from prod2vec_spark.operators.repetition import corpus_ngram_hotspots

    hot = (
        hotspots
        if hotspots is not None
        else corpus_ngram_hotspots(
            docs, n=gram_n, min_count=min_count, k=top_k,
            text_col=text_col, id_col=id_col,
        )
    )
    # ≤ top_k rows → one row holding the sorted gram array (sort_array
    # for a deterministic broadcast value independent of agg order)
    grams = hot.agg(
        F.sort_array(F.collect_list("gram")).alias("hot_grams")
    )
    text = F.coalesce(F.col(text_col), F.lit(""))
    if mode == "newline":
        lines, joiner = newline_lines(text), "\n"
    elif mode == "window":
        lines, joiner = window_lines(text, width), " "
    else:
        raise ValueError(f"unknown line mode: {mode!r}")

    # bind both the line array and the kept subset (functions/arrays
    # .bind): n_lines / n_kept / kept_text and the caller's pushed-down
    # keep predicate otherwise each re-evaluate the segmentation and
    # the per-line × per-gram contains scan.
    staged = bind(
        docs.crossJoin(F.broadcast(grams)), "_lines", lines
    )
    blocked = lambda l: F.exists(  # noqa: E731
        F.col("hot_grams"), lambda g: l.contains(g)
    )
    staged = bind(
        staged, "_kept", F.filter(F.col("_lines"), lambda l: ~blocked(l))
    )
    return (
        staged.withColumn("n_lines", F.size("_lines").cast("long"))
        .withColumn("n_kept", F.size("_kept").cast("long"))
        .withColumn("kept_text", F.array_join(F.col("_kept"), joiner))
        .drop("_lines", "_kept")
    )


def apply_line_filter(
    docs: DataFrame,
    *,
    text_col: str = "text",
    mode: str = "window",
    width: int = 10,
    min_words: int = 3,
    blocklist: tuple[str, ...] = DEFAULT_BLOCKLIST,
    require_terminal_punct: bool = False,
    drop_brace_lines: bool = False,
    max_dropped_frac: float = 1.0,
) -> DataFrame:
    """``line_filter`` + the standard keep/rewrite policy.  Every
    expression is row-local and stateless, so it is stream-safe by
    construction; both curation DAGs call it through the batch DAG's
    ``line_filter`` stage, which passes all seven knobs from the
    config fields the two DAGs share:

    * docs with no lines at all (empty/NULL text) pass through with
      their text untouched;
    * docs keeping ≥ 1 line within the dropped-fraction bound carry
      the filtered text forward;
    * all-junk pages (every line violates a rule) leave the corpus.

    Returns the input columns with ``text`` rewritten.
    """
    rep = line_filter(
        docs,
        text_col=text_col,
        mode=mode,
        width=width,
        min_words=min_words,
        blocklist=blocklist,
        require_terminal_punct=require_terminal_punct,
        drop_brace_lines=drop_brace_lines,
    )
    return (
        rep.where(
            (F.col("n_lines") == 0)
            | (
                (F.col("n_kept") > 0)
                & (
                    (F.col("n_lines") - F.col("n_kept")) / F.col("n_lines")
                    <= F.lit(max_dropped_frac)
                )
            )
        )
        .withColumn(
            text_col,
            F.when(F.col("n_lines") == 0, F.col(text_col)).otherwise(
                F.col("kept_text")
            ),
        )
        .drop("n_lines", "n_short", "n_blocked", "n_nopunct", "n_brace",
              "n_kept", "kept_text")
    )
