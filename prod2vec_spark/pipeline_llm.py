"""Config-driven LLM-corpus curation pipeline (ENGINE scope): the
dedup / text-analysis / quality operator family (SURVEY.md §2.14-2.16)
composed into one runnable, checkpointed dataflow — the data-prep
counterpart of the Prod2VecPipeline DAG (pipeline.py).

The stage order is written once, in ``STAGES``: each entry names a
stage, the ``CorpusConfig`` predicate that turns it on, and its
checkpoint dir under ``work_dir`` — or none for a row-local stage,
which fuses into the input scan (no shuffle boundary earns no
checkpoint).  ``run()``, ``drop_ledger()``, ``incremental_update()``
and the input scan ``_scrubbed`` all read that table.  After its last
stage the final corpus is optionally split, chunked into training
sequences, packed and sharded, and ``stats()`` writes the curation
report.  A failed 100 TB run resumes at the last checkpoint, and each
stage reuses already-tested operators — this module adds composition,
not new relational logic.

Scale notes per stage:
  * gates — one aggregate scan (operators/quality.py).
  * row-local stages — regexp rewrites and per-row screens fused into
    the exact-dedup scan; the PII scrub runs BEFORE exact dedup so two
    docs differing only in their PII collapse.
  * exact_dedup — one shuffle on 32-byte content digests, keep the
    min-id doc per digest (operators/dedup.exact_dup_groups).
  * quality_filter — row-local scoring (the repetition signals join
    the same scan); the global percentile threshold is a 1-row
    aggregate broadcast back (never a corpus-wide window) — identical
    shape to the oracle-checked quality_filter catalog query.
  * near_dedup — minhash bands → banded equi-join candidates (capped
    + auditable) → connected components (2 shuffles/round, ~2 rounds
    on LSH near-clique graphs) → drop non-canonical members.  The
    non-canonical id set is usually a small fraction of the corpus; it
    broadcasts into a left-anti join so the corpus never shuffles for
    the final subtraction.
  * decontaminate — drops training docs whose word-n-gram collision
    fraction against the held-out split exceeds the threshold
    (operators/decontam.py); the bench gram set broadcasts, the
    corpus never shuffles.
  * stats — per-stage counts + final token budget, observed on the
    checkpoint writes, plus one ``t_ms_<stage>`` row per executed
    stage (checkpoint-delimited wall time).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prod2vec_spark.operators import dedup as DD
from prod2vec_spark.operators import text as TX
from prod2vec_spark.operators.quality import Rules, assert_expectations
from prod2vec_spark.sources.io import (
    checkpoint,
    read_table,
    spread_scan,
    write_parquet,
)


def fold_drop_ledger(first: DataFrame, chain) -> DataFrame:
    """``(doc_id, dropped_at)`` for every id of ``first`` missing from
    a later frame of the monotone ``chain`` of ``(stage, frame)``
    pairs, attributed to the first stage whose frame lacks it: one
    id-only left-anti join per boundary, unioned.  The drop ledger of
    both curation DAGs (``CorpusCurationPipeline`` and the streaming
    ``StreamingCorpusPipeline``)."""
    prev = first.select("doc_id")
    ledger = None
    for stage, df in chain:
        cur = df.select("doc_id")
        dropped = prev.join(cur, "doc_id", "left_anti").withColumn(
            "dropped_at", F.lit(stage)
        )
        ledger = dropped if ledger is None else ledger.unionByName(dropped)
        prev = cur
    return ledger


def _budget_metrics() -> tuple:
    """The final corpus's token budget, observed by whichever write
    produces ``final`` (decontaminate, or the holdout split)."""
    return (
        F.sum(F.size(TX.tokens(F.col("text")))).alias("n_ws_tokens"),
        F.sum(TX.bpe_ish_token_count(F.col("text"))).alias("n_bpe_tokens"),
    )


@dataclass(kw_only=True)
class CurationConfig:
    """The fields both curation DAGs read: ``CorpusConfig`` (batch)
    and the streaming ``StreamCorpusConfig`` extend it, so a stage the
    two share reads the same field with the same default.  The
    defaults of ``repetition_gate`` and ``lm_smoothing`` are the
    batch DAG's; the stream overrides both."""

    work_dir: str
    shingle_k: int = 3
    repetition_gate: bool = True
    # C4 rule-based line filtering (Raffel et al. 2020 §2.2): lines
    # violating the rules are cut from each doc; docs that lose EVERY
    # line (all-junk pages), or more than lf_max_dropped_frac of
    # their lines, leave the corpus.  Docs with no lines at all
    # (empty/NULL text) pass through — the DQ gates and exact dedup
    # own that class.
    line_filter: bool = False
    lf_mode: str = "window"  # "newline" for real web documents
    lf_width: int = 10
    lf_min_words: int = 3
    lf_blocklist: tuple[str, ...] = ("lorem ipsum", "javascript")
    lf_require_punct: bool = False
    lf_drop_braces: bool = False
    lf_max_dropped_frac: float = 1.0  # 1.0 = only all-junk docs drop
    # document-level toxicity/badwords screen (C4 §2.2 — 'any page
    # containing a word on the list is removed'): category→words map
    # (None = off); a doc drops when its badword fraction exceeds
    # badwords_max_frac (0.0 = ANY hit drops, the C4 policy).
    badwords_cats: "dict[str, tuple[str, ...]] | None" = None
    badwords_max_frac: float = 0.0
    # per-LANGUAGE blocklists (C4 ships ~25 language files) —
    # lang -> {category -> words}, each doc screened against ITS
    # language's list (operators/badwords.badwords_by_lang); mutually
    # exclusive with badwords_cats.  Unlisted languages fall back to
    # badwords_default_lang's list when set, else pass unscreened.
    badwords_lang_lists: "dict[str, dict[str, tuple[str, ...]]] | None" = None
    badwords_default_lang: "str | None" = None
    # segment windows: width in words, and the number of docs sharing
    # a window that makes it boilerplate
    seg_width: int = 10
    seg_min_docs: int = 2
    lm_gate: bool = False
    # smoothing family of the LM gate's model — "stupid_backoff"
    # (bigram, Brants et al. 2007; operators/lm.BigramLM) or
    # "kneser_ney" (interpolated/modified KN at order lm_order, Chen &
    # Goodman 1998 — the continuation-count family; operators/lm.KNnModel)
    lm_smoothing: str = "stupid_backoff"
    decon_n: int = 5  # decontamination word-n-gram order
    decon_min_frac: float = 0.2  # collision fraction that drops a doc
    # ALSO run the fuzzy (MinHash + exact-Jaccard) screen —
    # paraphrased/partial eval overlap the exact n-gram rule misses
    # (operators/decontam.fuzzy_contamination_report); drops union
    # into the same anti-join set.  The screen uses FINER banding than
    # the near-dedup stage on purpose: with the dedup's own 8/4
    # banding every band-colliding pair is already collapsed upstream
    # (the candidate rules coincide), so the screen's marginal catches
    # live BELOW the near-dup threshold — 16 hashes in 8 bands of 2
    # gives ~50% collision at Jaccard 0.3 where 2 bands of 4 give ~2%.
    decon_fuzzy: bool = False
    decon_fuzzy_jaccard: float = 0.3
    decon_fuzzy_hashes: int = 16
    decon_fuzzy_band: int = 2


@dataclass(kw_only=True)
class CorpusConfig(CurationConfig):
    sf_dir: str
    quality_pct: float = 0.25  # drop the worst quartile
    quality_scope: str = "global"  # or "per_source": percentile within source
    lsh_max_group: int = 64  # degenerate-band cap (queries/common.py LSH_MAX_GROUP)
    scrub_pii: bool = True
    scrub_cc: bool = False  # + Luhn-verified card redaction (pii.scrub_cc)
    decon_bench_frac: float = 0.1  # held-out split fraction
    chunk_len: int = 32
    chunk_stride: int = 24
    chunk_min: int = 8
    # semantic dedup (SemDeDup): drops docs whose embedding is a
    # within-cluster cosine near-duplicate of a smaller-id doc.  It
    # requires the embeddings table (vec_id == doc_id) to cover the
    # corpus; docs without an embedding are kept unconditionally.
    semantic_dedup: bool = False
    semantic_clusters: int = 8
    semantic_threshold: float = 0.4
    # canonical text normalization (control chars, whitespace, case)
    normalize: bool = False
    # segment (line) dedup, CCNet order: quality is judged on
    # boilerplate-free text.  Docs that lose more than
    # seg_max_dropped_frac of their windows drop entirely.
    segment_dedup: bool = False
    seg_max_dropped_frac: float = 0.5
    # repeated-segment survivor policy — "drop_all" (CCNet:
    # shared windows vanish everywhere) or "keep_first" (ExactSubstr:
    # the min-id doc containing a window keeps it, one copy survives)
    seg_policy: str = "drop_all"
    # sentence-level dedup (the segment plane at SENTENCE granularity,
    # operators/linedup.sentence_dedup); independent of segment_dedup
    # (both can run: the finer screen judges the coarser one's output)
    sentence_dedup: bool = False
    sent_min_docs: int = 2
    sent_min_chars: int = 12
    sent_max_dropped_frac: float = 0.5
    sent_policy: str = "drop_all"
    # LM perplexity gate: drop the highest-ppl tail (lm_drop_pct) —
    # the KenLM-style fluency screen.  Both smoothing families share
    # the md5-uniform split and the percentile-cut shape.
    lm_drop_pct: float = 0.1
    lm_train_frac: float = 0.8
    # derive the KN discounts from the fitted tables' counts-of-counts
    # instead of the 0.75 default: at lm_order 2 one absolute D =
    # n1/(n1+2·n2) (Ney-Essen-Kneser, operators/lm.estimate_discount);
    # at lm_order >= 3 PER-LEVEL MODIFIED (D1, D2, D3+) triples
    # (estimate_mkn_discounts, Chen & Goodman 1999 eq. 26) — bounded
    # 1-row driver aggregates.  Only meaningful with 'kneser_ney'.
    lm_derive_discount: bool = False
    # order of the KN gate's model — 2 (the bigram default) up to 5
    # (the production KenLM shape).  Only meaningful with 'kneser_ney'.
    lm_order: int = 2
    # per-level count floors for the KN gate — KenLM's --prune
    # semantic run END-TO-END in the DAG: {level: min_count} floors
    # applied via KNnModel.pruned before scoring; pruned probes back
    # off through the same λ-chain as unseen grams, so the gate
    # degrades gracefully while the model shrinks where it is
    # actually big at web scale (the high-order tables).  None = full
    # tables (the default).  Only meaningful with 'kneser_ney'.
    lm_prune_min_counts: "dict[int, int] | None" = None
    # near-dup survivor policy: "min_id" (dedup_clusters default) or
    # "quality" (keep each cluster's best-quality member)
    canonical_policy: str = "min_id"
    # edit-distance confirmation of LSH candidate pairs BEFORE cluster
    # formation — only character-level-confirmed pairs join clusters,
    # so a single chance band collision can no longer merge two
    # genuinely different documents into one cluster (the precision
    # screen; operators/dedup.editdist_confirm).
    editdist_verify: bool = False
    ed_prefix: int = 256
    ed_max_dist: int = 51
    ed_sim: float = 0.8
    # deterministic train/val/test hash split of the curated corpus
    # (operators/splits.py); chunking then runs on the TRAIN side only
    # — eval text never leaks into training sequences.
    holdout_split: bool = False
    split_seed: int = 42
    # leakage-safe holdout — when set, the split label is a
    # pure function of THIS column (e.g. a domain or source key
    # carried on the row) instead of doc_id, so every member of a
    # group lands in one split and near-duplicate pages from one
    # site can never straddle train/eval (operators/splits.
    # group_split; NULL groups fall back to per-row assignment).
    split_group_col: str | None = None
    # temperature-scaled source recipe report over the final corpus
    # (operators/mixing.py) written as a work_dir artifact.
    mix_report: bool = False
    mix_alpha: float = 0.7
    mix_budget: int = 1_000_000
    # > 0 writes the training chunks as that many epoch-0 shuffle
    # shards (operators/shards.py)
    epoch_shards: int = 0
    # zlib compression-ratio gate fused into the quality stage: drop
    # docs compressing below the floor (template/machine text the
    # token-level repetition signals miss; functions/compress.py).
    compression_gate: bool = False
    compression_floor: float = 0.35
    # media near-dup stage — path to a (doc_id, blob) parquet of
    # per-document media attachments (mixed formats).  When set, docs
    # whose attached media is a perceptual near-dup of a kept doc's
    # media drop (operators/phash.py); docs with no attachment or
    # undecodable media are kept.
    media_path: str | None = None
    media_max_distance: int = 3
    media_bands: int = 4
    # also write a per-(format, status) media_format_audit artifact
    # next to the dedup outputs — decoded / corrupt /
    # unsupported_format counts, the codec boundary's blind spot as a
    # reported number.
    media_format_audit: bool = False
    # also collapse PARTIAL-media duplicates: image crops/letterboxes
    # (IMAGE_PLANE matched tiles) and clips embedding another doc's
    # audio at a hop-aligned offset (AUDIO_PLANE, even across
    # PCM↔ADPCM) union into the same connected-components pass — one
    # switch: partial-media dedup is one policy.
    media_span_dedup: bool = False
    media_tile_px: int = 16
    media_tile_stride: int = 8
    media_span_min_shared: int = 4
    media_window_ms: int = 1000
    media_hop_ms: int = 500
    media_audio_min_shared: int = 2
    # URL curation (the C4/RefinedWeb ingestion filters) over
    # ``url_col``: domain_blocklist drops whole registered domains;
    # domain_cap_k > 0 keeps at most K docs per domain (seeded md5
    # rank window — the mega-domain skew valve).
    url_col: str = "url"
    domain_blocklist: tuple[str, ...] = ()
    domain_cap_k: int = 0
    # URL-level exact dedup AFTER canonicalization
    # (operators/domains.canonical_url) — the crawl-frontier dedup
    # that catches the SAME page fetched under different tracking
    # params / casing / default ports; min-doc_id survivor per
    # canonical key, unparseable-URL rows all pass.
    url_dedup: bool = False
    # train a BPE merge table on the CURATED corpus and
    # report the final token budget in MODEL tokens next to the
    # whitespace/lexer counts (> 0 turns the stage on and sets the
    # merge count).  Train = one word-count shuffle + a bounded
    # driver merge loop (operators/bpe.py); counting = the row-local
    # Column replace chain via bpe_counter.
    bpe_merges: int = 0
    bpe_vocab_words: int = 5000
    # materialize trainable shards — when > 0 (and the tokenizer's
    # size field > 0), the TRAIN side of the curated corpus is packed
    # into per-bin ``input_ids``
    # training examples under the corpus's own tokenizer
    # (operators/chunking.pack_token_ids: doc_lens boundary metadata
    # + UNK=0-reserved vocab persisted alongside) and written to
    # work_dir/input_ids — the DAG's output becomes what the training
    # loader reads, not just cleaned text.
    pack_budget: int = 0
    pack_shards: int = 1
    # tokenizer FAMILY for the pack stage and the final_model_tokens
    # stat, each trained on the curated corpus itself: "bpe" (merge
    # table, sized by bpe_merges), "unigram" (SentencePiece-style
    # piece table, operators/unigram.py; unigram_vocab_size) or
    # "wordpiece" (BERT WordPiece, operators/wordpiece.py;
    # wordpiece_merges)
    tokenizer: str = "bpe"
    unigram_vocab_size: int = 200
    wordpiece_merges: int = 50
    # corpus-adaptive boilerplate stage (> 0 turns it on and sets how
    # many mined grams to block) — the top-K most-repeated n-grams are
    # MINED from the scrubbed corpus and every line containing one is
    # cut (operators/linefilters.adaptive_boilerplate_filter).  A
    # CORPUS-WIDE aggregate: crawl N+1 would mine a different
    # blocklist than the archive saw.
    adaptive_block_k: int = 0
    adaptive_gram_n: int = 3
    adaptive_min_count: int = 100


@dataclass(frozen=True)
class Stage:
    """One entry of the curation DAG's stage table.  ``name`` is the
    pipeline method that applies the stage (``DataFrame ->
    DataFrame``), its ``t_ms_<name>`` report row and its ``dropped_at``
    ledger label."""

    name: str
    on: Callable[[CurationConfig], bool] = lambda cfg: True
    # checkpoint dir under work_dir, written by run() and observed
    # (row count ``n`` + ``metrics``); None = row-local, fused into
    # the input scan and replayed by the ledger and incremental path
    out: str | None = None
    partition_by: tuple[str, ...] = ()
    metrics: Callable[[], tuple] = tuple
    drops: bool = True  # can remove documents: a drop-ledger boundary
    feeds: str | None = None  # report row taking this stage's row count
    incremental: bool = True  # incremental_update accepts it


STAGES: tuple[Stage, ...] = (
    # row-local: control chars stripped, whitespace collapsed,
    # casefolded BEFORE everything, so the line rules and the PII
    # patterns see canonical text and exact dedup collapses variants
    Stage("normalize", lambda c: c.normalize, drops=False),
    Stage("line_filter", lambda c: c.line_filter),
    Stage(
        "badwords_gate", lambda c: bool(c.badwords_cats or c.badwords_lang_lists)
    ),
    Stage("pii_scrub", lambda c: c.scrub_pii, drops=False),
    # corpus-wide stages, each a checkpoint.  incremental_update
    # replays the row-local stages, exact dedup, the frozen quality
    # threshold and the near-dup plane; it rejects the stages marked
    # incremental=False (a corpus-wide result crawl N+1 would change)
    Stage(
        "url_curation",
        lambda c: bool(c.domain_blocklist) or c.domain_cap_k > 0 or c.url_dedup,
        out="url_curated",
        incremental=False,
    ),
    Stage(
        "adaptive_block",
        lambda c: c.adaptive_block_k > 0,
        out="adaptive_blocked",
        incremental=False,
    ),
    Stage("exact_dedup", out="exact_deduped", feeds="after_exact_dedup"),
    Stage(
        "segment_dedup",
        lambda c: c.segment_dedup,
        out="segment_deduped",
        incremental=False,
    ),
    Stage(
        "sentence_dedup",
        lambda c: c.sentence_dedup,
        out="sentence_deduped",
        incremental=False,
    ),
    Stage("quality_filter", out="quality_kept", feeds="after_quality_filter"),
    Stage(
        "lm_gate",
        lambda c: c.lm_gate,
        out="lm_kept",
        feeds="after_quality_filter",
        incremental=False,
    ),
    # hive-partitioned by language: per-language training reads prune
    # whole directories (low-cardinality by the dq gate)
    Stage(
        "near_dedup",
        out="curated",
        partition_by=("lang",),
        feeds="after_near_dedup",
    ),
    Stage(
        "semantic_dedup",
        lambda c: c.semantic_dedup,
        out="semantic_deduped",
        feeds="after_near_dedup",
        incremental=False,
    ),
    Stage(
        "media_dedup",
        lambda c: c.media_path is not None,
        out="media_deduped",
        feeds="after_near_dedup",
        incremental=False,
    ),
    Stage(
        "decontaminate",
        out="decontaminated",
        partition_by=("lang",),
        metrics=_budget_metrics,
    ),
)
_STAGE = {s.name: s for s in STAGES}


class RowStages:
    """The row-local stages the batch DAG and the stream share: each
    reads only ``CurationConfig`` fields, so ``CorpusCurationPipeline``
    and the streaming ``StreamingCorpusPipeline`` run the same code."""

    cfg: CurationConfig

    def line_filter(self, docs: DataFrame) -> DataFrame:
        """C4 rule-based line filtering: lines violating the rules are
        cut; docs losing every line (or more than lf_max_dropped_frac
        of them) leave the corpus (operators/linefilters.py)."""
        from prod2vec_spark.operators.linefilters import apply_line_filter

        return apply_line_filter(
            docs,
            mode=self.cfg.lf_mode,
            width=self.cfg.lf_width,
            min_words=self.cfg.lf_min_words,
            blocklist=self.cfg.lf_blocklist,
            require_terminal_punct=self.cfg.lf_require_punct,
            drop_brace_lines=self.cfg.lf_drop_braces,
            max_dropped_frac=self.cfg.lf_max_dropped_frac,
        )

    def badwords_gate(self, docs: DataFrame) -> DataFrame:
        """The C4 §2.2 doc-level badwords screen — after the line
        filter (the gate judges surviving text), before the PII scrub
        (scrub tokens carry no list words; cheapest-first wins)."""
        from prod2vec_spark.operators.badwords import badwords_screen

        return badwords_screen(
            docs,
            cats=self.cfg.badwords_cats,
            lang_lists=self.cfg.badwords_lang_lists,
            max_frac=self.cfg.badwords_max_frac,
            default_lang=self.cfg.badwords_default_lang,
        )


class CorpusCurationPipeline(RowStages):
    def __init__(self, spark: SparkSession, cfg: CorpusConfig):
        self.spark = spark
        self.cfg = cfg
        self._tok = None  # the tokenizer _tokenizer() trained this run
        self._stage_notes: dict[str, float] = {}  # derived scalars the
        # last run() surfaced (e.g. the estimated KN discount) — for
        # tests and operational introspection
        self._stage_ms: dict[str, int] = {}  # per-stage wall time of
        # the LAST run(), surfaced as t_ms_* rows in the stats report
        self._observed: dict[DataFrame, dict] = {}  # stage output frame
        # -> the aggregates its checkpoint write observed (_observed_out)
        self._tables: dict[tuple[str, str], DataFrame] = {}  # _table cache

    def _enabled(self) -> list[Stage]:
        """The table's stages this config runs, in order."""
        return [s for s in STAGES if s.on(self.cfg)]

    def _timed(self, name: str, fn, *args, **kw):
        """Checkpoint-delimited wall-time attribution: every timed step
        ends in a blocking parquet write, so timing the call measures
        the step's real cost — including the lineage it forces — with
        zero changes to the hot path."""
        import time

        t0 = time.monotonic()
        out = fn(*args, **kw)
        self._stage_ms[name] = self._stage_ms.get(name, 0) + int(
            (time.monotonic() - t0) * 1000
        )
        return out

    def _table(self, sf_dir: str, name: str) -> DataFrame:
        """``read_table`` once per (sf_dir, table) on this instance:
        every later use shares the first open's file listing and
        schema instead of re-running parquet footer inference."""
        key = (sf_dir, name)
        if key not in self._tables:
            self._tables[key] = read_table(self.spark, sf_dir, name)
        return self._tables[key]

    # Stage hand-offs are ``spread_scan(checkpoint(...))``: the
    # read-back reuses the written schema (no footer-inference job) and
    # gets the input-parallelism floor — AQE partition coalescing
    # shrinks each stage's shuffle output to ~1 parquet file at bench
    # scale, so WITHOUT a floor the next stage's per-row-heavy chain
    # (tokenize / minhash / n-gram scoring) runs on one core until its
    # first shuffle (measured 10.3 s of the default macro's quality
    # stage alone).  At 100 TB every checkpoint has thousands of files
    # and spread_scan is an exact no-op.  Cheap column reads
    # (thresholds, the 2-column ppl report, the band table that
    # shuffles immediately) keep raw read-backs.
    def _observed_out(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        metrics: tuple = (),
    ) -> DataFrame:
        """Stage output checkpoint ``work_dir/<name>`` whose write also
        observes the row count ``n`` plus ``metrics``; run() and
        stats() read them from ``self._observed[returned frame]``
        instead of running a count or aggregate over the checkpoint."""
        out, observed = checkpoint(
            df,
            f"{self.cfg.work_dir}/{name}",
            partition_by,
            observe=[F.count(F.lit(1)).alias("n"), *metrics],
        )
        out = spread_scan(out)
        self._observed[out] = observed
        return out

    # -- stage 0: input gates -----------------------------------------
    def gates(self) -> None:
        docs = self._table(self.cfg.sf_dir, "documents")
        assert_expectations(
            docs,
            Rules(
                not_null=["doc_id", "text"],
                unique_key=["doc_id"],
                row_count_between=(1.0, 1e12),
            ),
        )

    # -- the input scan: row-local stages, fused (no checkpoint) ------
    def scrubbed_input(self) -> DataFrame:
        return self._scrubbed(self.cfg.sf_dir)

    def _scrubbed(self, sf_dir: str) -> DataFrame:
        """``documents`` of ``sf_dir`` with every enabled row-local
        stage fused onto it, in table order."""
        docs = self._table(sf_dir, "documents")
        for st in self._enabled():
            if st.out is None:
                docs = getattr(self, st.name)(docs)
        return docs

    def normalize(self, docs: DataFrame) -> DataFrame:
        from prod2vec_spark.operators.text import normalize_text

        return docs.withColumn("text", normalize_text(F.col("text")))

    def pii_scrub(self, docs: DataFrame) -> DataFrame:
        from prod2vec_spark.operators.pii import scrub, scrub_cc

        out = docs.withColumn("text", scrub(F.col("text")))
        if self.cfg.scrub_cc:
            # after the email/phone scrub (their tokens contain no
            # digits, so order is immaterial for the card regex)
            out = out.withColumn("text", scrub_cc(F.col("text")))
        return out

    # -- stage 0.75: URL curation (optional) ---------------------------
    def url_curation(self, docs: DataFrame) -> DataFrame:
        """C4/RefinedWeb ingestion filters, active only when the
        corpus carries ``url_col``: canonical-URL exact dedup, the
        registered-domain blocklist (broadcast anti-join) then the
        per-domain doc cap (ONE rank window).  NULL-domain rows
        (unparseable urls) pass all three — validity is the DQ gate's
        job, not this stage's.  Raises if the options are set but the
        column is absent (silent no-op would read as coverage)."""
        from prod2vec_spark.operators.domains import (
            domain_cap,
            filter_blocked_domains,
        )

        if self.cfg.url_col not in docs.columns:
            raise ValueError(
                f"url curation configured but column {self.cfg.url_col!r} "
                f"is absent from the corpus"
            )
        out = docs
        if self.cfg.url_dedup:
            # canonical-URL exact dedup first — cheapest, and the
            # blocklist/cap then see one row per page.  NULL canon
            # (unparseable) rows pass: they must NOT collapse with
            # each other under a shared NULL key.
            from prod2vec_spark.operators.domains import canonical_url

            staged = out.withColumn(
                "_canon", canonical_url(F.col(self.cfg.url_col))
            )
            keep_ids = (
                staged.where(F.col("_canon").isNotNull())
                .groupBy("_canon")
                .agg(F.min("doc_id").alias("doc_id"))
                .select("doc_id")
            )
            out = (
                staged.where(F.col("_canon").isNull())
                .unionByName(staged.join(keep_ids, "doc_id", "left_semi"))
                .drop("_canon")
            )
        if self.cfg.domain_blocklist:
            bl = self.spark.createDataFrame(
                [(d,) for d in self.cfg.domain_blocklist], ["domain"]
            )
            out = filter_blocked_domains(out, bl, url_col=self.cfg.url_col).drop(
                "host", "domain"
            )
        if self.cfg.domain_cap_k > 0:
            out = domain_cap(
                out, self.cfg.domain_cap_k, url_col=self.cfg.url_col
            ).drop("host", "domain", "domain_rk")
        return out

    # -- stage 0.8: adaptive boilerplate (optional) --------------------
    def adaptive_block(self, docs: DataFrame) -> DataFrame:
        """Mine the corpus's own top-K repeated n-grams and cut every
        line containing one (mine → block); docs whose every line
        carried mined boilerplate leave the corpus, the mined gram
        table persists as a work_dir artifact for audit.  One hash-agg
        + TakeOrdered for the mine, then the row-local cut."""
        from prod2vec_spark.operators.linefilters import (
            adaptive_boilerplate_filter,
        )
        from prod2vec_spark.operators.repetition import corpus_ngram_hotspots

        # this stage reads its input twice (mine + cut), and its input
        # is the FUSED input scan unless url_curation checkpointed it —
        # so materialize it ONCE; a parquet write is far cheaper than
        # re-running the corpus-wide regex rewrite per pass (was 75% of
        # an all-stages macro's 194 s).
        if not _STAGE["url_curation"].on(self.cfg):
            # both consumers (mine + cut) are per-row HOF chains
            docs = spread_scan(
                checkpoint(docs, f"{self.cfg.work_dir}/adaptive_input")
            )
        hot = corpus_ngram_hotspots(
            docs,
            n=self.cfg.adaptive_gram_n,
            min_count=self.cfg.adaptive_min_count,
            k=self.cfg.adaptive_block_k,
        )
        # feed the PERSISTED mine back in: the cut's broadcast subtree
        # then reads a k-row parquet instead of re-mining the corpus
        rep = adaptive_boilerplate_filter(
            docs,
            gram_n=self.cfg.adaptive_gram_n,
            top_k=self.cfg.adaptive_block_k,
            min_count=self.cfg.adaptive_min_count,
            mode=self.cfg.lf_mode,
            width=self.cfg.lf_width,
            hotspots=checkpoint(hot, f"{self.cfg.work_dir}/adaptive_blocklist"),
        )
        return (
            rep.where((F.col("n_lines") == 0) | (F.col("n_kept") > 0))
            .withColumn(
                "text",
                F.when(F.col("n_lines") == 0, F.col("text")).otherwise(
                    F.col("kept_text")
                ),
            )
            .drop("hot_grams", "n_lines", "n_kept", "kept_text")
        )

    # -- stage 1: exact dedup ------------------------------------------
    def exact_dedup(self, docs: DataFrame | None = None) -> DataFrame:
        """Keep the min-id doc per content digest (``docs`` defaults to
        the scrubbed input) via ONE row_number window over the digest —
        one corpus shuffle and one evaluation of the (possibly still
        fused) input scan, where an agg + left-semi shape shuffles the
        corpus twice and re-evaluates the scan once per leg.  Survivors
        follow exact_dup_groups' keep_doc_id rule."""
        from pyspark.sql import Window

        if docs is None:
            docs = self.scrubbed_input()
        w = Window.partitionBy("_th").orderBy("doc_id")
        return (
            docs.withColumn("_th", DD.text_digest(F.col("text")))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_th", "_rn")
        )

    # -- stage 1.5: segment (line) dedup (optional) --------------------
    def segment_dedup(self, docs: DataFrame) -> DataFrame:
        """CCNet-style boilerplate removal: windows repeated across
        >= seg_min_docs documents are cut from every doc; docs that
        were mostly boilerplate (> seg_max_dropped_frac of windows
        dropped) leave the corpus.  Surviving docs carry the cleaned
        text forward so quality/LM scoring judges real content."""
        from prod2vec_spark.operators.linedup import segment_dedup

        rep = segment_dedup(
            docs,
            width=self.cfg.seg_width,
            min_docs=self.cfg.seg_min_docs,
            policy=self.cfg.seg_policy,
        )
        kept = rep.where(
            (F.col("n_dropped") / F.col("n_segs"))
            <= F.lit(self.cfg.seg_max_dropped_frac)
        ).select("doc_id", F.col("kept_text").alias("text"))
        # re-attach metadata columns by doc_id; text is replaced by
        # the reassembled segment-deduped version
        return docs.drop("text").join(kept, "doc_id")

    # -- stage 1.6: sentence dedup (optional) --------------------------
    def sentence_dedup(self, docs: DataFrame) -> DataFrame:
        """Cross-document repeated-SENTENCE removal (the segment plane
        at sentence granularity): sentences >= sent_min_chars chars
        appearing in >= sent_min_docs distinct documents are cut per
        sent_policy; docs losing more than sent_max_dropped_frac of
        their sentences leave the corpus (boilerplate pages).  Docs
        with ZERO sentences (no terminal punctuation — short titles,
        code fragments) pass through untouched: the screen has no
        evidence about them, and 0/0 must not read as 'dropped
        everything'."""
        from prod2vec_spark.operators.linedup import sentence_dedup

        rep = sentence_dedup(
            docs,
            min_docs=self.cfg.sent_min_docs,
            min_chars=self.cfg.sent_min_chars,
            policy=self.cfg.sent_policy,
        )
        kept = rep.where(
            (F.col("n_sentences") == 0)
            | (
                (F.col("n_dropped") / F.col("n_sentences"))
                <= F.lit(self.cfg.sent_max_dropped_frac)
            )
        )
        # zero-sentence docs keep their ORIGINAL text (kept_text would
        # be '' — the sentences contract scopes out unterminated text)
        kept = kept.select("doc_id", "n_sentences", "kept_text")
        return (
            docs.join(kept, "doc_id")
            .withColumn(
                "text",
                F.when(F.col("n_sentences") > 0, F.col("kept_text")).otherwise(
                    F.col("text")
                ),
            )
            .drop("n_sentences", "kept_text")
        )

    # -- stage 2: quality filter ---------------------------------------
    def quality_filter(self, docs: DataFrame) -> DataFrame:
        if self.cfg.repetition_gate:
            from prod2vec_spark.operators.repetition import repetition_keep

            # single-evaluation let-bound form: the staged-column
            # variant collapses into a Filter that re-tokenizes per
            # reference (22 split() copies in the plan — round 11)
            docs = docs.where(repetition_keep(F.col("text")))
        if self.cfg.compression_gate:
            from prod2vec_spark.functions.compress import compression_ratio

            # fused into the same scan (row-local Arrow batch), before
            # percentile scoring so the threshold is computed over the
            # entropy-sane population
            docs = docs.where(
                compression_ratio(F.col("text"))
                >= F.lit(self.cfg.compression_floor)
            )
        if self.cfg.repetition_gate or self.cfg.compression_gate:
            # Round-11 (surfaced by the t_ms_* attribution): the stage
            # reads its input twice (percentile pass + kept pass), and
            # the n-gram/zlib gate staging above is far more expensive
            # than a parquet write — checkpoint the gated survivors
            # ONCE so both scans read columns, not recomputed lineage
            # (was 32 s of the macro, ~7 s after).  Round 16: the
            # quality score rides the SAME checkpoint write (one
            # narrow extra column), so the percentile pass and the
            # kept pass read `q` instead of each re-tokenizing the
            # corpus (guide §1.2 step 1 — don't compute things twice).
            scored = checkpoint(
                docs.withColumn("q", TX.quality_score(F.col("text"))),
                f"{self.cfg.work_dir}/quality_gated",
            )
        else:
            scored = docs.withColumn("q", TX.quality_score(F.col("text")))
        thr_path = f"{self.cfg.work_dir}/quality_thr"
        if self.cfg.quality_scope == "per_source":
            # fairness variant: the percentile is computed WITHIN each
            # source, so a source whose style scores systematically
            # lower is trimmed by the same fraction instead of being
            # wiped out by a corpus-global threshold.  The threshold
            # table is bounded by the source count — broadcast join,
            # same scalar shape as the global path.
            thr = scored.groupBy("source").agg(
                F.percentile("q", F.lit(self.cfg.quality_pct)).alias("q_thr")
            )
            # write THEN read back: reusing the lineage would
            # re-evaluate the percentile pass (the expensive
            # repetition-staged scan) a second time inside `kept`
            thr = checkpoint(thr, thr_path)  # frozen until the next rebuild
            kept = (
                scored.join(F.broadcast(thr), "source")
                .where(F.col("q") >= F.col("q_thr"))
                .drop("q_thr", "q")
            )
        elif self.cfg.quality_scope == "global":
            thr = scored.agg(
                F.percentile("q", F.lit(self.cfg.quality_pct)).alias("q_thr")
            )
            # write THEN read back (see per_source branch note)
            thr = checkpoint(thr, thr_path)  # frozen until the next rebuild
            kept = (
                scored.crossJoin(F.broadcast(thr))
                .where(F.col("q") >= F.col("q_thr"))
                .drop("q_thr", "q")
            )
        else:
            raise ValueError(
                f"quality_scope must be 'global' or 'per_source', "
                f"got {self.cfg.quality_scope!r}"
            )
        return kept

    # -- stage 2.5: LM perplexity gate (optional) ----------------------
    def lm_gate(self, docs: DataFrame) -> DataFrame:
        """Drop the highest-perplexity tail under a self-trained
        n-gram LM (operators/lm.py) — the KenLM-style fluency screen.
        The cut threshold is the (1 - lm_drop_pct) ppl percentile, a
        1-row aggregate broadcast back (same shape as the quality
        percentile — never a corpus-wide window).  cfg.lm_smoothing
        picks the smoothing family; both scorers emit the same
        (doc_id, ppl) contract."""
        from prod2vec_spark.operators.lm import (
            estimate_discount,
            estimate_mkn_discounts,
            fit_knn,
            lm_perplexity,
            score_docs_knn,
            with_train_split,
        )

        cfg = self.cfg
        if cfg.lm_smoothing != "kneser_ney" and (
            cfg.lm_order != 2
            or cfg.lm_derive_discount
            or cfg.lm_prune_min_counts
        ):
            # silently running a different scorer than the options
            # describe would be the worst failure mode for a gate that
            # decides what enters the training corpus
            raise ValueError(
                "lm_order / lm_derive_discount / lm_prune_min_counts "
                "apply only to lm_smoothing='kneser_ney' "
                f"(got {cfg.lm_smoothing!r})"
            )
        if cfg.lm_smoothing == "kneser_ney":
            # fit once at the configured order; derived discounts are
            # bounded 1-row aggregates over the fitted tables
            tagged = with_train_split(docs, cfg.lm_train_frac, seed="lm")
            model = fit_knn(tagged.where(F.col("is_train")), order=cfg.lm_order)
            model_scored = model
            if cfg.lm_prune_min_counts:
                # discounts still derive from the FULL tables (the
                # estimator needs unfloored counts-of-counts), the
                # scoring probes hit the pruned ones
                model_scored = model.pruned(
                    min_count=cfg.lm_prune_min_counts.get(cfg.lm_order, 1),
                    min_counts=cfg.lm_prune_min_counts,
                )
            if not cfg.lm_derive_discount:
                rep = score_docs_knn(tagged, model_scored)
            elif cfg.lm_order == 2:
                d = estimate_discount(model.counts[2], "c2")
                self._stage_notes["lm_derived_discount"] = d
                rep = score_docs_knn(tagged, model_scored, discount=d)
            else:
                discounts = {
                    k: estimate_mkn_discounts(model.counts[k], f"c{k}")
                    for k in range(2, cfg.lm_order + 1)
                }
                for k, tup in discounts.items():
                    self._stage_notes[f"lm_derived_d{k}"] = tup
                rep = score_docs_knn(tagged, model_scored, discounts=discounts)
        elif cfg.lm_smoothing == "stupid_backoff":
            rep = lm_perplexity(docs, train_frac=cfg.lm_train_frac)
        else:
            raise ValueError(
                f"unknown lm_smoothing {cfg.lm_smoothing!r} "
                "(expected 'stupid_backoff' or 'kneser_ney')"
            )
        # Round-16: materialize the narrow (doc_id, ppl) report ONCE —
        # the percentile aggregate and the keep filter otherwise each
        # re-run the whole scoring pass (model-table joins + per-doc
        # probe evaluation); two columns of parquet are far cheaper
        # than a second scoring scan (the quality_gated precedent).
        rep = checkpoint(
            rep.select("doc_id", "ppl"), f"{self.cfg.work_dir}/lm_ppl"
        )
        thr = rep.agg(
            F.percentile("ppl", F.lit(1.0 - self.cfg.lm_drop_pct)).alias(
                "ppl_thr"
            )
        )
        keep = (
            rep.crossJoin(F.broadcast(thr))
            .where(F.col("ppl") <= F.col("ppl_thr"))
            .select("doc_id")
        )
        return docs.join(keep, "doc_id", "left_semi")

    # -- stage 3: near dedup -------------------------------------------
    def near_dedup(self, docs: DataFrame) -> DataFrame:
        from prod2vec_spark.operators.graph import (
            canonical_by_quality,
            dedup_clusters,
        )

        bands = DD.minhash_bands(docs, shingle_k=self.cfg.shingle_k)
        # persist the 32-byte band table: the incremental path probes
        # it so crawl N+1 never re-shingles the archived corpus
        bands = checkpoint(bands, f"{self.cfg.work_dir}/bands")
        pairs = DD.lsh_candidate_pairs(
            bands,
            max_group=self.cfg.lsh_max_group,
        )
        if self.cfg.editdist_verify:
            # precision screen: only character-level-confirmed pairs
            # form clusters (prefix-capped banded Levenshtein — the
            # per-pair cost is bounded, and the pair set was already
            # capped upstream by the LSH group guard)
            pairs = (
                DD.editdist_confirm(
                    pairs,
                    docs,
                    prefix_len=self.cfg.ed_prefix,
                    max_dist=self.cfg.ed_max_dist,
                    sim_threshold=self.cfg.ed_sim,
                )
                .where(F.col("confirmed") == 1)
                .select("doc_a", "doc_b")
            )
        clusters = dedup_clusters(pairs)
        if self.cfg.canonical_policy == "quality":
            # survivor = each cluster's best-quality member, not its
            # min id: join the winners back and drop everyone else
            scored = docs.select(
                "doc_id", TX.quality_score(F.col("text")).alias("q")
            )
            winners = canonical_by_quality(clusters, scored).select(
                F.col("keep_doc_id").alias("doc_id")
            )
            drop = clusters.select("doc_id").join(
                F.broadcast(winners), "doc_id", "left_anti"
            )
        elif self.cfg.canonical_policy == "min_id":
            drop = clusters.where(F.col("is_canonical") == 0).select("doc_id")
        else:
            raise ValueError(
                f"canonical_policy must be 'min_id' or 'quality', "
                f"got {self.cfg.canonical_policy!r}"
            )
        # the drop set is the non-canonical fraction — broadcast it so
        # the corpus-side anti join never shuffles
        write_parquet(clusters, f"{self.cfg.work_dir}/near_dup_clusters")
        return docs.join(F.broadcast(drop), "doc_id", "left_anti")

    # -- stage 3.5: semantic dedup (optional) --------------------------
    def semantic_dedup(self, docs: DataFrame) -> DataFrame:
        from prod2vec_spark.operators.simsearch import semdedup

        emb = self._table(self.cfg.sf_dir, "embeddings")
        flags = semdedup(
            emb,
            dims=64,
            n_clusters=self.cfg.semantic_clusters,
            threshold=self.cfg.semantic_threshold,
            staged_dir=self.cfg.work_dir,
        )
        # the drop set (semantic near-dups) is a small fraction —
        # broadcast anti join on doc_id, the corpus never shuffles
        # (the same subtraction shape as near_dedup/decontaminate)
        drop = flags.where(~F.col("kept")).select(
            F.col("id").alias("doc_id")
        )
        return docs.join(F.broadcast(drop), "doc_id", "left_anti")

    # -- stage 3.7: media near-dup (optional, round 9) -----------------
    def media_dedup(self, docs: DataFrame) -> DataFrame:
        """Drop documents whose ATTACHED media (media_path parquet:
        doc_id, blob — mixed PNG/WAV/AVI) is a perceptual near-dup of
        a kept document's media: sniff+hash per modality → banded-
        Hamming verified pairs (modality partitions the candidate
        space) → connected components → keep each cluster's min id.
        The same broadcast drop-set subtraction as near_dedup /
        semantic_dedup; docs without an attachment, or whose media no
        codec could read (NULL hash upstream — auditable), are kept
        unconditionally."""
        from prod2vec_spark.operators import phash as PH
        from prod2vec_spark.operators.graph import dedup_clusters

        # Round-16 (guide §2.5 input parallelism): the attachment table
        # is typically few local files — without a floor the fused
        # Python decode below runs on one core; at real scale the scan
        # already has more splits than cores and this is a no-op.
        media = spread_scan(self.spark.read.parquet(self.cfg.media_path))
        # Round-16 (guide §4.2/§8 decode-once): ONE Arrow pass decodes
        # every blob and derives all four media surfaces at once —
        # format audit rows, whole-media hashes, image tiles, audio
        # windows (previously four separate passes, each paying the
        # full Python codec chain per blob; measured 28.5 s of the
        # all-stages macro).  The features persist to work_dir so the
        # audit aggregate and the three pair planes read columns,
        # never re-decode; equivalence with the standalone passes is
        # pytest-locked (tests/test_media_features.py).
        feats = checkpoint(
            PH.media_features(
                media,
                tile_px=self.cfg.media_tile_px,
                stride=self.cfg.media_tile_stride,
                window_ms=self.cfg.media_window_ms,
                hop_ms=self.cfg.media_hop_ms,
                id_col="doc_id",
                blob_col="blob",
            ),
            f"{self.cfg.work_dir}/media_features",
        )
        if self.cfg.media_format_audit:
            # round-14: publish the codec boundary's blind spot next
            # to the dedup artifacts — per-(format, status) counts so
            # the unsupported/corrupt share is a NUMBER in work_dir,
            # not a docstring.  Now a tiny hash-agg over the fused
            # features — no second decode pass.
            write_parquet(
                feats.groupBy("fmt", "status").agg(
                    F.count(F.lit(1)).alias("n")
                ),
                f"{self.cfg.work_dir}/media_format_audit",
            )
        hashes = feats.select("doc_id", "modality", "mhash")
        pairs = PH.media_neardup_pairs(
            hashes,
            id_col="doc_id",
            max_distance=self.cfg.media_max_distance,
            bands=self.cfg.media_bands,
            max_group=self.cfg.lsh_max_group,
        ).select("id_a", "id_b")
        if self.cfg.media_span_dedup:
            # partial-image dups (crops/letterboxes) and partial-audio
            # spans (a clip embedding another doc's jingle, hop-aligned,
            # incl. across PCM↔ADPCM) union into the SAME component
            # pass — zero extra decodes, the span plane's hot-bucket
            # cap applied (phash.span_pairs docstring)
            for plane, units, min_shared in (
                (PH.IMAGE_PLANE, "tiles", self.cfg.media_span_min_shared),
                (PH.AUDIO_PLANE, "wins", self.cfg.media_audio_min_shared),
            ):
                span = PH.span_pairs_from_units(
                    plane,
                    feats.select("doc_id", F.explode(units).alias("u")).select(
                        "doc_id", "u.*"
                    ),
                    min_shared=min_shared,
                    max_distance=self.cfg.media_max_distance,
                    max_group=self.cfg.lsh_max_group,
                    id_col="doc_id",
                )
                pairs = pairs.unionByName(span.select("id_a", "id_b"))
            pairs = pairs.distinct()
        clusters = dedup_clusters(
            pairs.select(
                F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
            )
        )
        write_parquet(clusters, f"{self.cfg.work_dir}/media_dup_clusters")
        drop = clusters.where(F.col("is_canonical") == 0).select("doc_id")
        return docs.join(F.broadcast(drop), "doc_id", "left_anti")

    # -- stage 4: benchmark decontamination ----------------------------
    def decontaminate(self, docs: DataFrame) -> DataFrame:
        from prod2vec_spark.operators.decontam import (
            contamination_report,
            with_bench_split,
        )

        # tag the split ONCE and derive both the report's inputs and
        # the train side from it — a second with_bench_split call
        # would duplicate the md5 pass and could silently disagree on
        # seed/frac if the two calls ever drifted apart
        tagged = with_bench_split(docs, bench_frac=self.cfg.decon_bench_frac)
        train = tagged.where(~F.col("is_bench")).drop("is_bench")
        rep = contamination_report(
            docs,
            n=self.cfg.decon_n,
            contaminated_min_frac=self.cfg.decon_min_frac,
            tagged=tagged,
        )
        # contaminated ids are a small set — broadcast anti join, the
        # corpus never shuffles (same shape as the near-dedup drop).
        # NOTE: the held-out split itself also leaves the training
        # corpus here — eval documents are not training data.
        bad = rep.where(F.col("contaminated")).select("doc_id")
        if self.cfg.decon_fuzzy:
            # round-14: the fuzzy (MinHash + exact-Jaccard) screen
            # UNIONS into the drop set — paraphrased/partial overlap
            # the exact n-gram rule misses; same tagged split by
            # construction
            from prod2vec_spark.operators.decontam import (
                fuzzy_contamination_report,
            )

            fuzzy_bad = (
                fuzzy_contamination_report(
                    docs,
                    num_hashes=self.cfg.decon_fuzzy_hashes,
                    band_size=self.cfg.decon_fuzzy_band,
                    min_jaccard=self.cfg.decon_fuzzy_jaccard,
                    tagged=tagged,
                )
                .where(F.col("contaminated"))
                .select("doc_id")
            )
            bad = bad.unionByName(fuzzy_bad).distinct()
        return train.join(F.broadcast(bad), "doc_id", "left_anti")

    # -- stage 5: training-sequence chunking ---------------------------
    def chunk(self, docs: DataFrame) -> DataFrame:
        from prod2vec_spark.operators.chunking import doc_chunks

        chunks = doc_chunks(
            docs,
            seq_len=self.cfg.chunk_len,
            stride=self.cfg.chunk_stride,
            min_len=self.cfg.chunk_min,
        )
        return self._observed_out(
            chunks,
            "chunks",
            metrics=(
                F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("n_chunk_tokens"),
            ),
        )


    # -- the corpus's own tokenizer ------------------------------------
    def _tokenizer(self, final: DataFrame, required: bool = False):
        """``cfg.tokenizer``'s model trained on the final corpus, at
        most once per run(): ``(merges, tokens_fn, count_fn)`` —
        ``merges`` is the BPE merge table, empty for the unigram and
        wordpiece families, whose segmenter rides ``tokens_fn``.  None
        when the family is unknown or its size field is not positive;
        ``required`` (the pack stage) raises instead.  The BPE merge
        table is persisted whenever it is trained, the unigram piece
        table and the wordpiece vocab alongside the packed shards."""
        cfg = self.cfg
        sizes = {
            "bpe": "bpe_merges",
            "unigram": "unigram_vocab_size",
            "wordpiece": "wordpiece_merges",
        }
        if cfg.tokenizer not in sizes:
            if required:
                raise ValueError(
                    f"unknown tokenizer {cfg.tokenizer!r} "
                    "(expected 'bpe', 'unigram' or 'wordpiece')"
                )
            return None
        size = sizes[cfg.tokenizer]
        if getattr(cfg, size) <= 0:
            if required:
                raise ValueError(
                    f"pack_budget requires {size} > 0 (tokenizer="
                    f"{cfg.tokenizer!r}: the packed ids need the "
                    "corpus-trained model)"
                )
            return None
        if self._tok is not None:
            return self._tok
        kw = dict(max_vocab_words=cfg.bpe_vocab_words)
        if cfg.tokenizer == "bpe":
            from prod2vec_spark.operators.bpe import (
                bpe_counter,
                bpe_tokens,
                train_bpe,
            )

            merges = train_bpe(final, n_merges=cfg.bpe_merges, **kw)
            tokens_fn = lambda c: bpe_tokens(c, merges)  # noqa: E731
            count_fn = bpe_counter(merges)
            table = (
                "bpe_merges",
                [(i, a, b) for i, (a, b) in enumerate(merges)],
                "merge_rank int, left string, right string",
            )
        elif cfg.tokenizer == "unigram":
            from prod2vec_spark.operators.unigram import (
                train_unigram,
                unigram_counter,
                unigram_tokens,
            )

            model = train_unigram(final, vocab_size=cfg.unigram_vocab_size, **kw)
            merges = []
            tokens_fn = lambda c: unigram_tokens(c, model)  # noqa: E731
            count_fn = unigram_counter(model)
            table = (
                "unigram_pieces",
                [(p, lp) for p, lp in model],
                "piece string, logprob double",
            )
        else:
            from prod2vec_spark.operators.wordpiece import (
                train_wordpiece,
                wordpiece_counter,
                wordpiece_tokens,
            )

            vocab = train_wordpiece(final, n_merges=cfg.wordpiece_merges, **kw)
            merges = []
            tokens_fn = lambda c: wordpiece_tokens(c, vocab)  # noqa: E731
            count_fn = wordpiece_counter(vocab)
            table = ("wordpiece_vocab", [(p,) for p in vocab], "piece string")
        if cfg.tokenizer == "bpe" or cfg.pack_budget > 0:
            name, rows, schema = table
            write_parquet(
                self.spark.createDataFrame(rows, schema),
                f"{cfg.work_dir}/{name}",
            )
        self._tok = (merges, tokens_fn, count_fn)
        return self._tok

    # -- stage 6: stats report -----------------------------------------
    def stats(
        self, counts: dict[str, int], final: DataFrame, chunks: DataFrame
    ) -> DataFrame:
        """The curation report: ``counts`` (the input and the stage-row
        counts run() gathered), then the final corpus's budget and
        chunk aggregates, observed on the checkpoint writes that
        produced ``final`` and ``chunks``."""
        budget = self._observed[final]
        cagg = self._observed[chunks]
        rows = [
            *counts.items(),
            ("final", budget["n"]),
            ("final_ws_tokens", budget["n_ws_tokens"]),
            ("final_bpe_tokens", budget["n_bpe_tokens"]),
            ("final_chunks", cagg["n"]),
            ("final_chunk_tokens", cagg["n_chunk_tokens"]),
        ]
        tok = self._tokenizer(final)
        if tok is not None:
            # the final budget in the corpus's own MODEL tokens
            _, _, count_fn = tok
            n_model = final.agg(
                F.coalesce(F.sum(count_fn(F.col("text"))), F.lit(0)).alias("n")
            ).first()["n"]
            rows.append(("final_model_tokens", int(n_model)))
        # holdout_split on: the non-empty splits' sizes
        rows += sorted(
            (k, v) for k, v in budget.items() if k.startswith("final_") and v > 0
        )
        # per-stage wall time of this run: the checkpoints delimit the
        # stages, so each t_ms_* row is the real cost of that stage
        # including the lineage it forced
        rows += sorted(
            (f"t_ms_{k}", v) for k, v in self._stage_ms.items() if v > 0
        )
        report = self.spark.createDataFrame(rows, "stage string, n long")
        write_parquet(report, f"{self.cfg.work_dir}/curation_report")
        return report

    # -- drop ledger (post-hoc provenance audit) ------------------------
    def drop_ledger(self) -> DataFrame:
        """Per-document provenance over the LAST ``run()``: one row
        ``(doc_id, dropped_at)`` for every input document that did not
        reach the final corpus, naming the stage that removed it —
        "why did my document disappear?" answered from the existing
        stage checkpoints, with ZERO changes to the hot path.

        Partition contract (pytest-locked): input ids = final ids ∪
        ledger ids, disjoint — every drop is attributed to exactly one
        stage.  Disjointness is by construction: the stage chain is
        monotone (a doc absent from checkpoint k is absent from all
        later ones), so each doc falls out of exactly one interval.

        Scale shape: one id-only left-anti join per stage boundary
        (the probe side shrinks monotonically; shuffles carry a single
        long column) + a union of the per-stage drop sets.  A row-local
        stage has no checkpoint: its boundary is the input scan up to
        and including it, recomputed (deterministic, row-local) — the
        same replay ``incremental_update`` relies on.
        """
        cfg = self.cfg
        docs = self._table(cfg.sf_dir, "documents")
        chain: list[tuple[str, DataFrame]] = []
        for st in self._enabled():
            if st.out is None:
                docs = getattr(self, st.name)(docs)
            else:
                docs = self.spark.read.parquet(f"{cfg.work_dir}/{st.out}")
            if st.drops:
                chain.append((st.name, docs))
        ledger = fold_drop_ledger(self._table(cfg.sf_dir, "documents"), chain)
        return checkpoint(ledger, f"{cfg.work_dir}/drop_ledger")

    # -- full run -------------------------------------------------------
    def _run_stage(self, st: Stage, docs: DataFrame) -> DataFrame:
        return self._observed_out(
            getattr(self, st.name)(docs),
            st.out,
            list(st.partition_by),
            st.metrics(),
        )

    def run(self) -> DataFrame:
        """Gates, then every enabled stage of ``STAGES`` over the input
        scan (each checkpointed stage timed as one ``t_ms_*`` row),
        then the final corpus's split, mix report, chunks, packed ids
        and shards; returns the curation report."""
        cfg = self.cfg
        self._stage_ms, self._observed, self._tok = {}, {}, None
        self._timed("gates", self.gates)
        # the input count keeps its own row, apart from the gates
        counts = {
            "input": self._timed(
                "input", self._table(cfg.sf_dir, "documents").count
            )
        }
        docs = self._scrubbed(cfg.sf_dir)
        for st in self._enabled():
            if st.out is not None:
                docs = self._timed(st.name, self._run_stage, st, docs)
                if st.feeds:
                    # stage row counts were observed on the checkpoint
                    counts[st.feeds] = self._observed[docs]["n"]
        final = train = docs
        if cfg.holdout_split:
            final = self._timed("holdout_split", self.split_holdout, final)
            train = final.where(F.col("split") == "train").drop("split")
        if cfg.mix_report:
            self._timed("mix_report", self.write_mix_report, final)
        chunks = self._timed("chunk", self.chunk, train)
        if cfg.pack_budget > 0:
            self._timed("pack", self.pack, final, train)
        if cfg.epoch_shards > 0:
            self._timed("epoch_shards", self.write_epoch_shards, chunks)
        return self.stats(counts, final, chunks)

    # -- trainable shards (optional) -----------------------------------
    def pack(self, final: DataFrame, train: DataFrame) -> None:
        """The TRAIN side packed into per-bin ``input_ids`` under the
        corpus's own tokenizer (trained on ``final``).  The tokenizer
        runs over the train corpus EXACTLY ONCE and its token arrays
        persist; the vocab aggregation and the packer then read columns
        instead of re-encoding (the wordpiece/unigram encoders are
        pandas_udf boundaries — otherwise paid 3× per pack: vocab +
        count + ids).  The identity tokens_fn over the staged array
        column keeps both operators' dataflow unchanged."""
        from prod2vec_spark.operators.bpe import token_vocab
        from prod2vec_spark.operators.chunking import pack_token_ids

        merges, tokens_fn, _ = self._tokenizer(final, required=True)
        staged = spread_scan(
            checkpoint(
                train.select(
                    "doc_id", "lang", tokens_fn(F.col("text")).alias("_toks")
                ),
                f"{self.cfg.work_dir}/train_tokens",
            )
        )
        ident = lambda c: c  # noqa: E731
        vocab = token_vocab(staged, merges, text_col="_toks", tokens_fn=ident)
        vocab = checkpoint(vocab, f"{self.cfg.work_dir}/token_vocab")
        packed = pack_token_ids(
            staged,
            merges,
            vocab,
            budget=self.cfg.pack_budget,
            n_shards=self.cfg.pack_shards,
            text_col="_toks",
            tokens_fn=ident,
            count_fn=lambda c: F.size(c),
        )
        write_parquet(packed, f"{self.cfg.work_dir}/input_ids")

    def write_epoch_shards(self, chunks: DataFrame) -> None:
        """The training chunks as epoch-0 shuffle shards: the on-disk
        row order is the epoch permutation (operators/shards.py)."""
        from prod2vec_spark.operators.shards import write_epoch_shards

        write_epoch_shards(
            chunks.withColumn(
                "chunk_key",
                F.col("doc_id") * F.lit(100000) + F.col("chunk_idx"),
            ),
            f"{self.cfg.work_dir}/epoch0",
            epoch=0,
            n_shards=self.cfg.epoch_shards,
            id_col="chunk_key",
        )

    # -- stage 5.5: held-out split (optional) --------------------------
    def split_holdout(self, docs: DataFrame) -> DataFrame:
        """Deterministic hash split of the curated corpus; the
        checkpoint is hive-partitioned by split so the train reader
        prunes the eval directories (and vice versa).  Row-local — no
        shuffle beyond the partitioned write."""
        from prod2vec_spark.operators.splits import (
            DEFAULT_FRACTIONS,
            assign_split,
            group_split,
        )

        if self.cfg.split_group_col is not None:
            if self.cfg.split_group_col not in docs.columns:
                raise ValueError(
                    f"split_group_col {self.cfg.split_group_col!r} is "
                    f"absent from the corpus"
                )
            out = group_split(
                docs, self.cfg.split_group_col, seed=self.cfg.split_seed
            )
        else:
            out = assign_split(docs, key_col="doc_id", seed=self.cfg.split_seed)
        # the split write observes the final budget plus one size per
        # split label (stats() reports the non-empty ones)
        sizes = tuple(
            F.count_if(F.col("split") == name).alias(f"final_{name}")
            for name, _ in DEFAULT_FRACTIONS
        )
        return self._observed_out(
            out,
            "final_split",
            partition_by=["split"],
            metrics=_budget_metrics() + sizes,
        )

    # -- mixing-recipe report (optional) -------------------------------
    def write_mix_report(self, docs: DataFrame) -> DataFrame:
        """Per-source temperature recipe over the final corpus — the
        bounded per-source table the training loader samples from."""
        from prod2vec_spark.operators.mixing import temperature_mix

        rep = temperature_mix(
            docs, alpha=self.cfg.mix_alpha, budget_tokens=self.cfg.mix_budget
        )
        write_parquet(rep, f"{self.cfg.work_dir}/mix_report")
        return rep

    # -- incremental crawl update ---------------------------------------
    def incremental_update(self, new_sf_dir: str) -> DataFrame:
        """Process crawl N+1 against crawl N's committed ``work_dir``:
        only added/changed documents run the expensive per-document
        machinery (digesting, shingling, minhashing); the archive
        contributes its PERSISTED artifacts — the exact-dedup survivor
        store, the frozen quality threshold, the 32-byte band table,
        and the near-dup cluster spanning edges.  Updated stage
        checkpoints land under ``work_dir/incr``; returns the updated
        curated corpus.

        Contract (pytest-locked): for append-style ingestion
        (monotonically-growing ids, no removals) with the group cap
        disabled, the updated curated set EQUALS a from-scratch run
        over crawl N+1 under the same frozen threshold.  Documented
        approximations outside that envelope, standard for
        incremental dedup systems:

        * thresholds are FROZEN between full rebuilds (recomputing
          them would re-gate the whole archive every crawl);
        * a removed/changed doc's exact-dup group members are not
          resurrected, and removing a near-dup cluster's bridge node
          does not split the cluster — departures accumulate until
          the periodic full rebuild (run() on the new snapshot);
        * the LSH group cap applies per-ingest (a group crossing the
          cap threshold mid-stream keeps its pre-cap pairs).

        Row-local scans of the prior stores (digest, quality score)
        do run — those are cheap; what never re-runs is the
        shingle/minhash/pair machinery for unchanged documents.  A
        config running a stage marked ``incremental=False``, or an
        option this replay does not model, is rejected before any
        Spark work.
        """
        cfg = self.cfg
        unsupported = [st.name for st in self._enabled() if not st.incremental]
        unsupported += [
            name
            for name, on in [
                ("canonical_policy!=min_id", cfg.canonical_policy != "min_id"),
                ("quality_scope!=global", cfg.quality_scope != "global"),
                ("editdist_verify", cfg.editdist_verify),
                ("compression_gate", cfg.compression_gate),
                ("pack_budget", cfg.pack_budget > 0),
            ]
            if on
        ]
        if unsupported:
            raise ValueError(
                "incremental_update supports the default stage set; "
                f"unsupported options active: {unsupported}"
            )
        from prod2vec_spark.operators.graph import dedup_clusters

        spark = self.spark
        incr = f"{cfg.work_dir}/incr"
        exact, quality, near = (
            _STAGE[n] for n in ("exact_dedup", "quality_filter", "near_dedup")
        )
        old = self._scrubbed(cfg.sf_dir)
        new = self._scrubbed(new_sf_dir)
        diff = DD.snapshot_diff(old, new)
        delta_ids = diff.where(
            F.col("status").isin("added", "changed")
        ).select("doc_id")
        gone_ids = diff.where(
            F.col("status").isin("removed", "changed")
        ).select("doc_id")

        # exact plane: prior survivors minus departures, plus the
        # delta's min-id-per-digest survivors whose digest is unseen
        prior_exact = spark.read.parquet(f"{cfg.work_dir}/{exact.out}")
        kept_prior = prior_exact.join(F.broadcast(gone_ids), "doc_id", "left_anti")
        delta = new.join(F.broadcast(delta_ids), "doc_id", "left_semi")
        dsurv = delta.join(
            DD.exact_dup_groups(delta).select(
                F.col("keep_doc_id").alias("doc_id")
            ),
            "doc_id",
            "left_semi",
        )
        prior_digests = kept_prior.select(
            DD.text_digest(F.col("text")).alias("_h")
        ).distinct()
        dsurv = (
            dsurv.withColumn("_h", DD.text_digest(F.col("text")))
            .join(prior_digests, "_h", "left_anti")
            .drop("_h")
        )
        if cfg.repetition_gate:
            # row-local and parameter-frozen, so the gate is exactly
            # incremental: prior survivors already passed it in the
            # batch run (their texts are unchanged); only the delta
            # needs the predicate
            from prod2vec_spark.operators.repetition import repetition_keep

            dsurv = dsurv.where(repetition_keep(F.col("text")))
        exact2 = checkpoint(kept_prior.unionByName(dsurv), f"{incr}/{exact.out}")

        # quality plane: the FROZEN batch threshold, applied row-locally
        thr = spark.read.parquet(f"{cfg.work_dir}/quality_thr")
        kept2 = (
            exact2.withColumn("q", TX.quality_score(F.col("text")))
            .crossJoin(F.broadcast(thr))
            .where(F.col("q") >= F.col("q_thr"))
            .drop("q_thr", "q")
        )
        kept2 = checkpoint(kept2, f"{incr}/{quality.out}")

        # near-dup plane: stored bands for the surviving archive, the
        # delta banded fresh inside incremental_lsh_candidates; prior
        # connectivity re-enters as cluster spanning edges
        prior_bands = spark.read.parquet(f"{cfg.work_dir}/bands").join(
            F.broadcast(gone_ids), "doc_id", "left_anti"
        )
        delta_nd = kept2.join(F.broadcast(delta_ids), "doc_id", "left_semi")
        pairs_delta = DD.incremental_lsh_candidates(
            prior_bands,
            delta_nd,
            shingle_k=cfg.shingle_k,
            max_group=cfg.lsh_max_group,
        )
        prior_edges = (
            spark.read.parquet(f"{cfg.work_dir}/near_dup_clusters")
            .where(F.col("doc_id") != F.col("cluster_id"))
            .select(F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("doc_b"))
        )
        gone_a = gone_ids.select(F.col("doc_id").alias("doc_a"))
        gone_b = gone_ids.select(F.col("doc_id").alias("doc_b"))
        prior_edges = prior_edges.join(F.broadcast(gone_a), "doc_a", "left_anti").join(
            F.broadcast(gone_b), "doc_b", "left_anti"
        )
        edges = prior_edges.unionByName(pairs_delta)
        clusters = dedup_clusters(edges)
        write_parquet(clusters, f"{incr}/near_dup_clusters")
        drop = clusters.where(F.col("is_canonical") == 0).select("doc_id")
        curated2 = kept2.join(F.broadcast(drop), "doc_id", "left_anti")
        return checkpoint(
            curated2, f"{incr}/{near.out}", partition_by=list(near.partition_by)
        )
