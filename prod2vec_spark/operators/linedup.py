"""Cross-document segment-level dedup (CCNet-style line dedup,
Wenzek et al. 2020 §3.1) — remove boilerplate spans that repeat
across many documents while keeping each document's unique content
(ENGINE scope; reference anchor: the corpus-prep role of
utils/prep_utils.py, which has no cross-document text hygiene).

Real web corpora segment on newlines; the synthetic documents table
has none, so the segment unit here is a fixed-width NON-OVERLAPPING
token window (``width`` tokens, last window ragged).  The dataflow is
the CCNet shape regardless of the segmenter:

1. explode each document into (doc_id, pos, segment-hash) — hashes
   (md5, 32 bytes) travel through the shuffle, never the raw span;
2. one hash-agg shuffle counts DISTINCT documents per segment hash;
3. segments present in ``min_docs``-or-more documents form the
   boilerplate set, anti-joined against the exploded table;
4. one reassembly shuffle per doc_id rebuilds the surviving text in
   position order (sort_array over collected (pos, seg) structs —
   deterministic, no depends-on-collection-order aggregate).

Scale shape at 100 TB: the two shuffles move (doc_id, pos, 32-byte
hash [+ segment text only on the reassembly path]) — the count
shuffle is pure hashes.  The boilerplate set is the ≥min_docs tail of
the segment-frequency distribution, typically orders of magnitude
smaller than the distinct-segment universe, so the anti join is
broadcastable in practice; ``broadcast_boiler`` hints it (default
True).  Set False for corpora where the repeated-segment set itself
is huge (then Spark plans a shuffle hash join on the same 32-byte
key).  Documents whose every segment is boilerplate survive with
empty text (left join back to the corpus) — dropping them outright is
the caller's policy, not the operator's.

DuckDB oracle (queries/dedup.py): identical windows via list_slice over
range(), count(DISTINCT doc_id), string_agg(... ORDER BY pos).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prod2vec_spark.operators.text import tokens


def token_segments(toks: Column, width: int) -> Column:
    """Array of space-joined non-overlapping ``width``-token windows;
    the final window keeps the ragged tail.  Empty array for an empty
    token array (guarded: sequence(0, -1) would count DOWN).

    Oracle: list_transform(range(0, ceil(len(toks)/width)),
    i -> array_to_string(list_slice(toks, i*width+1, i*width+width), ' ')).
    """
    if width < 1:
        raise ValueError(f"token_segments: width must be >= 1, got {width}")
    n_wins = F.ceil(F.size(toks) / F.lit(float(width))).cast("int")
    return F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(0), n_wins - F.lit(1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i * width + 1, width)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def exploded_segments(
    docs: DataFrame, width: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, seg, seg_h): one row per segment window.  The
    token array is staged as a real column before the HOF consumes it
    (HOF-CSE rule, operators/repetition.py docstring)."""
    return (
        docs.withColumn("_toks", tokens(F.col(text_col)))
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(token_segments(F.col("_toks"), width)).alias("pos", "seg"),
        )
        .withColumn("seg_h", F.md5(F.col("seg")))
    )


def boilerplate_segments(segs: DataFrame, min_docs: int) -> DataFrame:
    """Segment hashes appearing in >= min_docs DISTINCT documents.
    One hash-agg shuffle on the 32-byte hash; raw text never moves."""
    return (
        segs.groupBy("seg_h")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("seg_h", "n_docs")
    )


def segment_dedup(
    docs: DataFrame,
    width: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_boiler: bool = True,
    policy: str = "drop_all",
) -> DataFrame:
    """CCNet segment dedup: per-document survival report
    (doc_id, n_segs, n_dropped, kept_text).  kept_text is the
    position-ordered join of surviving segments ('' when every
    segment was boilerplate — the doc row survives via the left join
    back to the corpus, policy stays with the caller).

    ``policy`` picks what happens to a repeated segment:

    * ``"drop_all"`` (CCNet, Wenzek et al. 2020 §3.1) — the segment
      is cut from EVERY document; shared content vanishes entirely
      (the known CCNet criticism).
    * ``"keep_first"`` (the ExactSubstr choice, Lee et al. 2022 §3)
      — the minimum-id document CONTAINING the segment keeps its
      occurrences; every other document cuts it, so exactly one copy
      of the shared content survives in the corpus.  Same single
      hash-agg shuffle (min(doc_id) rides next to the distinct-doc
      count); the join side carries (hash, owner id).
    """
    if policy not in ("drop_all", "keep_first"):
        raise ValueError(f"unknown segment policy: {policy!r}")
    segs = exploded_segments(docs, width, text_col=text_col, id_col=id_col)
    # Round-16 reshape (guide §1.2 step 1 — don't compute things
    # twice): the repeated set joins back with a KEEP FLAG instead of
    # an anti-join, so ONE per-doc aggregation yields the window
    # total (count of exploded rows == ceil(n_toks/width) by
    # construction), the kept count (count_if) and the reassembled
    # text (collect_list skips the NULL-when-dropped structs) — the
    # previous shape ran a third tokenize scan just for n_segs and
    # joined two corpus-sized tables; now the final join carries ids
    # only (NULL-text docs still surface as n_segs=0 via the left
    # join — the report never silently loses rows).
    if policy == "drop_all":
        boiler = boilerplate_segments(segs, min_docs).select(
            "seg_h", F.lit(True).alias("_boil")
        )
        if broadcast_boiler:
            boiler = F.broadcast(boiler)
        flagged = segs.join(boiler, "seg_h", "left")
        keep = F.col("_boil").isNull()
    else:
        owners = (
            segs.groupBy("seg_h")
            .agg(
                F.count_distinct("doc_id").alias("n_docs"),
                F.min("doc_id").alias("owner"),
            )
            .where(F.col("n_docs") >= min_docs)
            .select("seg_h", "owner")
        )
        if broadcast_boiler:
            owners = F.broadcast(owners)
        flagged = segs.join(owners, "seg_h", "left")
        keep = F.col("owner").isNull() | (F.col("doc_id") == F.col("owner"))
    rebuilt = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n_segs"),
        F.count_if(keep).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "seg")))
                ),
                lambda s: s.seg,
            ),
            " ",
        ).alias("kept_text"),
    )
    ids = docs.select(F.col(id_col).alias("doc_id"))
    return ids.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("_n_segs"), F.lit(0)).cast("long").alias("n_segs"),
        (
            F.coalesce(F.col("_n_segs"), F.lit(0))
            - F.coalesce(F.col("n_kept"), F.lit(0))
        )
        .cast("long")
        .alias("n_dropped"),
        F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
    )


def doc_distinct_segment_hashes(
    docs: DataFrame, width: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, seg_h): each document's DISTINCT window hashes — the
    row-local projection the STREAMING boilerplate plane counts with
    (array_distinct before the explode, so a doc that repeats its own
    window contributes 1 to the cross-document count, matching the
    batch operator's count-DISTINCT-docs semantics)."""
    return (
        docs.withColumn("_toks", tokens(F.col(text_col)))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array_distinct(
                    F.transform(
                        token_segments(F.col("_toks"), width),
                        lambda s: F.md5(s),
                    )
                )
            ).alias("seg_h"),
        )
    )


def sentence_dedup(
    docs: DataFrame,
    min_docs: int = 2,
    min_chars: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_repeats: bool = True,
    policy: str = "drop_all",
) -> DataFrame:
    """Cross-document repeated-SENTENCE screen (round 16 — the CCNet
    segment plane at sentence granularity, built on the round-15
    ``sentences`` primitive; the SFT-example-prep building block its
    docstring promised).  Per-document survival report
    (doc_id, n_sentences, n_dropped, kept_text): a sentence appearing
    in ``min_docs``-or-more DISTINCT documents is boilerplate
    (nav chrome, license blurbs, disclaimer lines), removed per
    ``policy``; kept_text is the position-ordered join of surviving
    sentences.  Unterminated tail text is OUT OF SCOPE by the
    ``sentences`` contract (sentence_profile reports it as
    tail_chars); NULL/empty docs survive with kept_text='' via the
    left join back to the corpus.

    ``min_chars``: sentences shorter than this never participate in
    the repeated screen (they are always kept) — the standard guard
    against nuking short ubiquitous sentences ("Yes.", "Thanks.")
    that are content, not boilerplate.  Hash-identity note: a short
    and a long sentence can never share an xxhash64 bucket-decision
    inconsistently, since equal hashes come from equal sentences
    (mod collision) and equal sentences share one length.

    ``policy`` mirrors segment_dedup: "drop_all" (CCNet — every copy
    cut) or "keep_first" (Lee et al. 2022 ExactSubstr choice — the
    min-id document containing the sentence keeps it).

    Scale shape (the segment_dedup discipline): explode to
    (doc_id, pos, sentence) row-locally; ONE hash-agg shuffle on the
    8-byte xxhash64 sentence key for the distinct-doc counts (+ the
    min-id owner for keep_first); the repeated set is the >=min_docs
    tail of the sentence-frequency distribution — broadcastable in
    practice (``broadcast_repeats``, default True; set False and
    Spark plans a shuffle hash join on the same 8-byte key); one
    reassembly shuffle per doc_id.  No driver-side work, no UDFs.

    DuckDB oracle (queries/dedup.py): identical splits via the shared
    lookaround-free SENTENCE_RE, positions via unnest(range()),
    count(DISTINCT doc_id), string_agg(... ORDER BY pos).
    """
    if policy not in ("drop_all", "keep_first"):
        raise ValueError(f"unknown sentence policy: {policy!r}")
    from prod2vec_spark.operators.text import sentences

    sents = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(sentences(F.col(text_col))).alias("pos", "sent"),
    ).withColumn("sent_h", F.xxhash64("sent"))
    elig = sents.where(F.length("sent") >= min_chars)
    if policy == "drop_all":
        repeats = (
            elig.groupBy("sent_h")
            .agg(F.count_distinct("doc_id").alias("n_docs"))
            .where(F.col("n_docs") >= min_docs)
            .select("sent_h")
        )
        if broadcast_repeats:
            repeats = F.broadcast(repeats)
        flagged = sents.join(
            repeats.withColumn("_rep", F.lit(True)), "sent_h", "left"
        )
        keep = F.col("_rep").isNull()
    else:
        owners = (
            elig.groupBy("sent_h")
            .agg(
                F.count_distinct("doc_id").alias("n_docs"),
                F.min("doc_id").alias("owner"),
            )
            .where(F.col("n_docs") >= min_docs)
            .select("sent_h", "owner")
        )
        if broadcast_repeats:
            owners = F.broadcast(owners)
        flagged = sents.join(owners, "sent_h", "left")
        keep = F.col("owner").isNull() | (F.col("doc_id") == F.col("owner"))
    # Round-16 reshape (the segment_dedup fold): the repeated set
    # joins back with a keep FLAG, so one per-doc aggregation yields
    # the sentence total (count of exploded rows == size(sentences)),
    # the kept count and the reassembly — removing the second
    # sentence-split scan and shrinking the final join to ids only.
    rebuilt = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n_sents"),
        F.count_if(keep).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("pos", "sent")))
                ),
                lambda s: s.sent,
            ),
            " ",
        ).alias("kept_text"),
    )
    ids = docs.select(F.col(id_col).alias("doc_id"))
    return ids.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("_n_sents"), F.lit(0))
        .cast("long")
        .alias("n_sentences"),
        (
            F.coalesce(F.col("_n_sents"), F.lit(0))
            - F.coalesce(F.col("n_kept"), F.lit(0))
        )
        .cast("long")
        .alias("n_dropped"),
        F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
    )
