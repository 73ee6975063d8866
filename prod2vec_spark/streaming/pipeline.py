"""Streaming curation pipeline (ENGINE scope, VERDICT r5 stretch #7):
the incremental counterpart of pipeline_llm.py's batch stages over the
documents plane, composed from the already-parity-tested streaming
operators and the checkpointed parquet sink.

``StreamingCorpusPipeline`` runs its exact dedup on the checkpointed
parquet file sink (``write_stream_parquet``); every later stage — LM
gate, segment CMS, token stats, decon, the near-dedup gate — is a
batch operator handed to the one micro-batch door,
``sources/io.start_batch_stage``, which writes idempotent
``batch_id=N`` partials.  Every read of those partials
(``curated()``, ``drop_ledger()``, ``token_stats()``) passes the
stage's checkpoint, so a partial dir lost after a commit raises
instead of reading as empty.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from prod2vec_spark.sources.artifacts import make_dirs
from prod2vec_spark.sources.io import read_partials, start_batch_stage
from prod2vec_spark.streaming.events import write_stream_parquet
from prod2vec_spark.streaming.first_presenter import read_decisions


def _read_output(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Batch-read a streaming stage's output directory, which does not
    EXIST until the stage commits its first batch (an empty landing
    dir, or an append-mode agg whose first drain finalizes nothing, is
    a normal state — not an error).  The declared schema makes the
    empty case a typed empty DataFrame instead of a schema-inference
    failure."""
    make_dirs(spark, path)
    return spark.read.schema(schema).parquet(path)


# ---------------------------------------------------------------------
# Streaming CORPUS curation: pipeline_llm.py's batch stages as
# incremental streaming queries.
# ---------------------------------------------------------------------

_DOCS_SCHEMA = "doc_id long, text string, lang string"
_EXACT_SCHEMA = _DOCS_SCHEMA + ", text_hash string"


@dataclass
class StreamCorpusConfig:
    landing_dir: str
    work_dir: str
    shingle_k: int = 3
    num_hashes: int = 8
    band_size: int = 4
    # row-local quality gate applied before dedup; 0.0 disables.  The
    # batch pipeline derives its threshold as a corpus percentile
    # (pipeline_llm.quality_filter) — a stream has no finished corpus
    # to take a percentile over, so the streaming gate takes the
    # threshold as config (typically the percentile computed offline
    # on the archived corpus, refreshed per deployment).
    quality_min: float = 0.0
    # Gopher repetition gate (operators/repetition.py) — row-local and
    # stateless like the quality gate, so it is stream-safe with NO
    # semantic gap vs batch: a doc's verdict never depends on other
    # docs.  Runs before dedup so looped spam never occupies state.
    repetition_gate: bool = False
    # streaming boilerplate gate (round-7 twin of the batch segment
    # dedup): a count-min sketch over per-doc DISTINCT window hashes
    # is maintained incrementally (one operators/sketches.cms_sketch
    # partial per micro-batch) over the exact-dedup output, so each
    # distinct content counts once; at curated() time, docs whose
    # fraction of ≥seg_min_docs-estimated windows exceeds
    # seg_max_frac are dropped.  CMS only OVERestimates, so the gate
    # errs toward dropping (one-sided, like every sketch gate here).
    # A stream cannot re-edit already-committed text, so the streaming
    # semantic is drop-the-doc, not rewrite-the-doc (the batch
    # operator's reassembly remains the lossless variant).
    segment_gate: bool = False
    seg_width: int = 10
    seg_min_docs: int = 2
    seg_max_frac: float = 0.5
    # round-9b: C4 line filter (operators/linefilters.py) — row-local
    # and stateless like the quality gate, applied FIRST so junk
    # lines never reach the digest (a doc whose only difference is
    # cut boilerplate then exact-dedups against its clean twin).
    # Shares apply_line_filter with the batch DAG: one code path,
    # zero batch/stream semantic gap.
    line_filter: bool = False
    lf_mode: str = "window"  # "newline" for real web documents
    lf_width: int = 10
    lf_min_words: int = 3
    lf_blocklist: tuple[str, ...] = ("lorem ipsum", "javascript")
    # round-15: the batch DAG's doc-level badwords screen (C4 §2.2,
    # operators/badwords.py) in the streaming gate chain — row-local
    # and per-row deterministic, so stream-safe with no semantic gap;
    # None/empty disables (the batch default).
    badwords_cats: "dict[str, tuple[str, ...]] | None" = None
    badwords_max_frac: float = 0.0
    # round-16: per-language lists (operators/badwords.badwords_by_lang),
    # mutually exclusive with badwords_cats — same dispatch as the
    # batch DAG via the shared badwords_screen gate
    badwords_lang_lists: "dict[str, dict[str, tuple[str, ...]]] | None" = None
    badwords_default_lang: "str | None" = None
    # round-14 (VERDICT r13 ask #6): the batch lm_gate's streaming
    # twin.  A BATCH-TRAINED model persisted at lm_model_dir (fit on
    # the vetted archive — BigramLM.save or KNnModel.save at any
    # order) scores each micro-batch of the exact-dedup output with
    # the batch scorer (operators/lm.score_docs / score_docs_knn);
    # docs whose ppl exceeds lm_max_ppl — or that are too short to
    # score, the batch gate's semi-join semantic — drop at curated()
    # time.  The threshold is FROZEN config (the percentile computed
    # offline on the archived corpus, the quality_min convention): a
    # stream has no finished corpus to take a percentile over.
    # round-14 stretch (VERDICT r13 ask #9): streaming TOKEN STATS —
    # a running (n_docs, n_tokens) total over the exact-dedup output,
    # maintained as idempotent per-batch partials (the LM-scorer
    # pattern: a replayed batch overwrites its own partition, so
    # totals are exactly-once across restarts).  ``stats_count_fn``
    # is the tokenizer seam: any text-Column → count closure
    # (bpe_counter / unigram_counter / wordpiece_counter — trained
    # BATCH-side on the vetted archive); None = whitespace tokens.
    token_stats: bool = False
    stats_count_fn: "object | None" = None
    lm_gate: bool = False
    lm_model_dir: str | None = None
    # 'stupid_backoff' (BigramLM) | 'kneser_ney' (KNnModel, at the
    # order its saved meta records)
    lm_smoothing: str = "kneser_ney"
    lm_max_ppl: float = float("inf")
    lm_discount: float | None = None  # None = operators/lm.DEFAULT_DISCOUNT
    # optional per-level modified-KN (D1, D2, D3+) triples, levels
    # 2..order — replaces the single lm_discount when set
    lm_discounts_n: "dict[int, tuple] | None" = None
    # round-15 (VERDICT r14 ask #8): streaming benchmark
    # decontamination — the batch decontaminate stage's streaming
    # twin.  The BENCH SIDE IS STATIC config (a parquet of eval
    # documents at decon_bench_dir, prepared batch-side — eval suites
    # are a few MB and don't arrive on the stream), so each
    # micro-batch runs a stream-static broadcast screen: the exact
    # word-n-gram collision rule (operators/decontam.
    # contamination_report) plus, when decon_fuzzy, the MinHash-banded
    # + exact-Jaccard fuzzy screen (fuzzy_contamination_report) —
    # catching the paraphrased overlap the exact rule misses, the same
    # union-of-drops the batch DAG applies.  Decisions land as
    # idempotent batch_id partials (the LM-gate pattern), so replays
    # are exactly-once.  A bench doc_id colliding with a stream
    # doc_id is harmless by construction: the bench side contributes
    # only its distinct gram/shingle sets, never ids, to the screen.
    decon_gate: bool = False
    decon_bench_dir: str | None = None
    decon_n: int = 5
    decon_min_frac: float = 0.2
    decon_fuzzy: bool = False
    decon_fuzzy_jaccard: float = 0.3
    decon_fuzzy_hashes: int = 16
    decon_fuzzy_band: int = 2
    decon_shingle_k: int = 3

    @property
    def exact_dir(self) -> str:
        return f"{self.work_dir}/exact_deduped"

    @property
    def lmscores_dir(self) -> str:
        return f"{self.work_dir}/lm_scores"

    @property
    def lmkept_dir(self) -> str:
        return f"{self.work_dir}/lm_kept"

    @property
    def tokenstats_dir(self) -> str:
        return f"{self.work_dir}/token_stats"

    @property
    def decisions_dir(self) -> str:
        return f"{self.work_dir}/neardup_decisions"

    @property
    def segcms_dir(self) -> str:
        return f"{self.work_dir}/segment_cms"

    @property
    def decon_dir(self) -> str:
        return f"{self.work_dir}/decon_decisions"


class StreamingCorpusPipeline:
    """landing docs ──stream──> exact dedup ──parquet+ckpt──>
    near-dedup gate ──decisions──> curated corpus.

      * stage 1 — exact dedup: the content digest (dedup.text_digest,
        row-local) keys a streaming ``dropDuplicates``; the first
        arrival per digest survives, replayed/duplicated documents are
        dropped across restarts by the checkpointed state store.  The
        batch counterpart keeps min doc_id per digest
        (exact_dup_groups); a stream has arrival order instead — both
        keep exactly one doc per distinct content.
      * stage 2 — near-dedup: the first-presenter MinHash/LSH gate
        (streaming/neardup.py) over stage 1's committed output.
      * curated corpus — stage-1 survivors minus gate-dropped docs
        (docs too short to shingle have no decision row and are kept),
        materialized on read: both inputs are parquet tables, so the
        subtraction is a plain batch join at read time rather than a
        third stateful stage.
      * optional decon gate (round 15) — benchmark decontamination
        decisions per micro-batch against a STATIC bench parquet
        (exact n-gram + optional fuzzy MinHash/Jaccard screens, the
        batch decontaminate stage's operators); contaminated docs
        leave at curated() time, preserving the batch DAG's
        decon-after-near-dedup ordering.

    Every stage after exact dedup goes through
    ``sources/io.start_batch_stage``; ``curated()`` and
    ``drop_ledger()`` fold one boundary chain (``_boundaries``).

    Scale notes: digest state is one row per distinct content (the
    same cardinality the batch digest shuffle carries), bounded in
    unbounded deployments by dropDuplicatesWithinWatermark at the
    documented completeness cost; the band registry holds one row per
    distinct band signature (streaming/first_presenter.py)."""

    def __init__(self, spark: SparkSession, cfg: StreamCorpusConfig):
        self.spark = spark
        self.cfg = cfg

    def _ckpt(self, stage: str) -> str:
        """The checkpoint of ``stage`` — written by its stream, read by
        every guarded read of the stage's partials."""
        return f"{self.cfg.work_dir}/ckpt_{stage}"

    def _spread_stream(self, df: DataFrame, path: str) -> DataFrame:
        """Input-parallelism floor for a drain's micro-batches — the
        streaming twin of sources/io.spread_scan (guide §2.5 "input
        skew"): when the committed input directory holds fewer parquet
        files than the session's core count, the row-local heavy chain
        above the first stateful shuffle (line-filter gates, MinHash
        banding) runs on that few tasks while the rest of the machine
        idles.  A round-robin repartition to defaultParallelism
        restores the floor; the condition is checked once at stream
        construction, so a production drain whose landing has
        thousands of files (or a long-lived stream started before its
        input exists, n == 0) keeps the shuffle-free plan — no extra
        exchange ships at scale, and the floor derives from the
        session core count, never a constant.  Files are listed through
        the Hadoop FS API, so a ``file://`` (or ``s3a://``) landing
        counts like a local path."""
        from prod2vec_spark.sources.artifacts import _fs_path

        fs, pattern = _fs_path(self.spark, f"{path}/*.parquet")
        n = len(fs.globStatus(pattern) or [])
        floor = self.spark.sparkContext.defaultParallelism
        if 0 < n < floor:
            return df.repartition(floor)
        return df

    def _row_gates(self, docs: DataFrame, stages: list | None = None) -> DataFrame:
        """The pre-dedup ROW-LOCAL gate chain (line filter → badwords
        → quality → repetition), shared by the streaming stage and the
        batch drop-ledger replay — one code path, zero batch/stream
        drift (the apply_line_filter precedent).  ``stages``: optional
        list the caller hands in to receive (stage_name, survivors)
        pairs — the ledger's attribution boundaries."""
        from pyspark.sql import functions as F

        from prod2vec_spark.operators.text import quality_score

        if self.cfg.line_filter:
            from prod2vec_spark.operators.linefilters import apply_line_filter

            docs = apply_line_filter(
                docs,
                mode=self.cfg.lf_mode,
                width=self.cfg.lf_width,
                min_words=self.cfg.lf_min_words,
                blocklist=self.cfg.lf_blocklist,
            )
            if stages is not None:
                stages.append(("line_filter", docs))
        if self.cfg.badwords_cats or self.cfg.badwords_lang_lists:
            # round-15 (per-language round-16): the batch DAG's C4
            # §2.2 doc-level badwords screen joins the streaming gate
            # chain — row-local and per-row deterministic like
            # line_filter, so it is stream-safe with ZERO batch/stream
            # semantic gap; same position (after line_filter: the gate
            # judges surviving text), same shared badwords_screen
            # gate, same drop-ledger replay
            from prod2vec_spark.operators.badwords import badwords_screen

            docs = badwords_screen(
                docs,
                cats=self.cfg.badwords_cats,
                lang_lists=self.cfg.badwords_lang_lists,
                max_frac=self.cfg.badwords_max_frac,
                default_lang=self.cfg.badwords_default_lang,
            )
            if stages is not None:
                stages.append(("badwords_gate", docs))
        # quality gate first (row-local, stateless) so low-quality docs
        # never occupy digest state
        if self.cfg.quality_min > 0.0:
            docs = docs.where(
                quality_score(F.col("text")) >= self.cfg.quality_min
            )
            if stages is not None:
                stages.append(("quality_gate", docs))
        if self.cfg.repetition_gate:
            from prod2vec_spark.operators.repetition import repetition_keep

            # single-evaluation let-bound form (see pipeline_llm's
            # quality stage note) — identical survivors, ~10× cheaper
            docs = docs.where(repetition_keep(F.col("text")))
            if stages is not None:
                stages.append(("repetition_gate", docs))
        return docs

    def exact_stage(self) -> None:
        from prod2vec_spark.operators.dedup import text_digest

        docs = self._row_gates(
            self._spread_stream(
                self.spark.readStream.schema(_DOCS_SCHEMA).parquet(
                    self.cfg.landing_dir
                ),
                self.cfg.landing_dir,
            )
        )
        deduped = docs.withColumn(
            "text_hash", text_digest(docs["text"])
        ).dropDuplicates(["text_hash"])
        q = write_stream_parquet(deduped, self.cfg.exact_dir, self._ckpt("exact"))
        q.awaitTermination()

    def neardup_stage(self) -> None:
        self._start_neardup().awaitTermination()

    def _start_neardup(self):
        from prod2vec_spark.streaming.neardup import start_near_dedup_registry

        # with the LM gate on, first-presenter ownership is decided
        # among GATE SURVIVORS (the batch lm_gate → near_dedup order);
        # otherwise over the exact-dedup output as before
        src = self.cfg.lmkept_dir if self.cfg.lm_gate else self.cfg.exact_dir
        make_dirs(self.spark, src)
        survivors = self._spread_stream(
            self.spark.readStream.schema(_EXACT_SCHEMA).parquet(src), src
        )
        return start_near_dedup_registry(
            survivors,
            f"{self.cfg.work_dir}/band_registry",
            self.cfg.decisions_dir,
            self._ckpt("neardup"),
            shingle_k=self.cfg.shingle_k,
            num_hashes=self.cfg.num_hashes,
            band_size=self.cfg.band_size,
        )

    def segment_cms_stage(self) -> None:
        self._start_segment_cms().awaitTermination()

    def _start_segment_cms(self):
        """Maintain the boilerplate-window CMS over the exact-dedup
        output (so each distinct content contributes once): stream the
        committed stage-1 parquet, project per-doc DISTINCT window
        hashes row-locally, land one ``cms_sketch`` partial per batch
        (summed on read by ``operators/sketches.read_cms``)."""
        from prod2vec_spark.operators.linedup import (
            doc_distinct_segment_hashes,
        )
        from prod2vec_spark.operators.sketches import cms_sketch

        docs = self.spark.readStream.schema(_EXACT_SCHEMA).parquet(
            self.cfg.exact_dir
        )
        return start_batch_stage(
            doc_distinct_segment_hashes(docs, self.cfg.seg_width),
            lambda batch, _: (cms_sketch(batch, col="seg_h"),),
            (self.cfg.segcms_dir,),
            self._ckpt("segcms"),
        )

    def _lm_scorer(self):
        """(score_fn, model): the batch scorer matching cfg.lm_smoothing
        against the loaded persisted model — one definition shared by
        the stage and any introspection."""
        if self.cfg.lm_model_dir is None:
            raise ValueError("lm_gate needs lm_model_dir (a persisted model)")
        from prod2vec_spark.operators import lm as LM

        d = (
            LM.DEFAULT_DISCOUNT
            if self.cfg.lm_discount is None
            else self.cfg.lm_discount
        )
        if self.cfg.lm_smoothing == "kneser_ney":
            model = LM.KNnModel.load(self.spark, self.cfg.lm_model_dir)
            return (
                lambda df: LM.score_docs_knn(
                    df, model, discount=d, discounts=self.cfg.lm_discounts_n
                ),
                model,
            )
        if self.cfg.lm_smoothing == "stupid_backoff":
            model = LM.BigramLM.load(self.spark, self.cfg.lm_model_dir)
            return (lambda df: LM.score_docs(df, model), model)
        raise ValueError(
            f"unknown lm_smoothing {self.cfg.lm_smoothing!r} (expected "
            "'stupid_backoff' or 'kneser_ney')"
        )

    def lm_stage(self) -> None:
        """Score the exact-dedup output against the batch-trained LM
        and MATERIALIZE the kept rows: per micro-batch, the scores
        land at lmscores_dir/batch_id=N and the gate's survivors
        (ppl <= lm_max_ppl via semi join — unscored/too-short docs
        drop, the batch semantic) land at lmkept_dir/batch_id=N, both
        idempotent by path across restarts.  The near-dedup stage then
        streams the SURVIVORS, so first-presenter ownership is decided
        among gate-passing docs only — matching the batch DAG's
        lm_gate → near_dedup ordering (code-review r14: with the gate
        applied after pre-gate decisions, a cluster whose canonical
        failed the gate would vanish entirely instead of re-electing
        a surviving member)."""
        self._start_lm().awaitTermination()

    def _start_lm(self):
        from pyspark.sql import functions as F

        score_fn, _ = self._lm_scorer()
        make_dirs(self.spark, self.cfg.exact_dir)
        thr = self.cfg.lm_max_ppl

        def per_batch(batch_df: DataFrame, _):
            # the kept rows derive from the scores: lazy lineage break
            # so each batch is scored once for both partials
            scores = score_fn(batch_df).localCheckpoint(eager=False)
            keep = scores.where(F.col("ppl") <= F.lit(thr)).select("doc_id")
            return scores, batch_df.join(keep, "doc_id", "left_semi")

        return start_batch_stage(
            self.spark.readStream.schema(_EXACT_SCHEMA).parquet(
                self.cfg.exact_dir
            ),
            per_batch,
            (self.cfg.lmscores_dir, self.cfg.lmkept_dir),
            self._ckpt("lm"),
        )

    def decon_stage(self) -> None:
        """Benchmark-decontamination decisions over the exact-dedup
        output (round 15 — the batch decontaminate stage's streaming
        twin): per micro-batch, tag the arriving docs is_bench=False,
        union the STATIC bench parquet tagged is_bench=True, and run
        the SAME operators the batch DAG runs — the exact n-gram
        collision report, plus the fuzzy MinHash/exact-Jaccard screen
        when decon_fuzzy — then land (doc_id, keep) decisions
        idempotently at decon_dir/batch_id=N.  The bench side is a
        few MB (broadcast inside both reports), so every micro-batch
        is a stream-static broadcast screen; the corpus side streams
        once.  Contaminated docs drop at curated() time — the batch
        ordering (decontamination after near-dedup) preserved."""
        self._start_decon().awaitTermination()

    def _start_decon(self):
        from pyspark.sql import functions as F

        from prod2vec_spark.operators.decontam import (
            contamination_report,
            fuzzy_contamination_report,
        )

        if not self.cfg.decon_bench_dir:
            raise ValueError("decon_gate needs decon_bench_dir set")
        bench = (
            self.spark.read.schema(_DOCS_SCHEMA)
            .parquet(self.cfg.decon_bench_dir)
            .select("doc_id", "text")
            .withColumn("is_bench", F.lit(True))
        )
        make_dirs(self.spark, self.cfg.exact_dir)
        cfg = self.cfg

        def per_batch(batch_df: DataFrame, _):
            tagged = batch_df.select("doc_id", "text").withColumn(
                "is_bench", F.lit(False)
            ).unionByName(bench)
            bad = (
                contamination_report(
                    tagged,
                    n=cfg.decon_n,
                    contaminated_min_frac=cfg.decon_min_frac,
                    tagged=tagged,
                )
                .where(F.col("contaminated"))
                .select("doc_id")
            )
            if cfg.decon_fuzzy:
                fuzzy_bad = (
                    fuzzy_contamination_report(
                        tagged,
                        shingle_k=cfg.decon_shingle_k,
                        num_hashes=cfg.decon_fuzzy_hashes,
                        band_size=cfg.decon_fuzzy_band,
                        min_jaccard=cfg.decon_fuzzy_jaccard,
                        tagged=tagged,
                    )
                    .where(F.col("contaminated"))
                    .select("doc_id")
                )
                bad = bad.unionByName(fuzzy_bad).distinct()
            return (
                batch_df.select("doc_id").join(
                    F.broadcast(bad.withColumn("_bad", F.lit(1))),
                    "doc_id",
                    "left",
                ).select(
                    "doc_id",
                    F.when(F.col("_bad").isNull(), F.lit(1))
                    .otherwise(F.lit(0))
                    .alias("keep"),
                ),
            )

        return start_batch_stage(
            self.spark.readStream.schema(_EXACT_SCHEMA).parquet(cfg.exact_dir),
            per_batch,
            (cfg.decon_dir,),
            self._ckpt("decon"),
        )

    def _drops(self, decisions_dir: str, stage: str) -> DataFrame:
        """doc_ids a decision stage (``neardup`` or ``decon``) dropped,
        over its committed partials; empty before the first commit,
        ``RuntimeError`` once the partials are lost after one."""
        from pyspark.sql import functions as F

        return (
            read_decisions(
                self.spark, decisions_dir, checkpoint=self._ckpt(stage)
            )
            .where(F.col("keep") == 0)
            .select("doc_id")
        )

    def token_stats_stage(self) -> None:
        """Maintain per-batch (n_docs, n_tokens) partials over the
        exact-dedup output under the configured tokenizer counter —
        each partial lands idempotently at tokenstats_dir/batch_id=N
        (a replayed batch overwrites its own partition), so the
        summed totals are exactly-once across restarts."""
        self._start_token_stats().awaitTermination()

    def _start_token_stats(self):
        from pyspark.sql import functions as F

        from prod2vec_spark.operators.text import tokens as _ws_tokens

        cf = self.cfg.stats_count_fn or (
            lambda c: F.size(_ws_tokens(c)).cast("long")
        )
        make_dirs(self.spark, self.cfg.exact_dir)
        return start_batch_stage(
            self.spark.readStream.schema(_EXACT_SCHEMA).parquet(
                self.cfg.exact_dir
            ),
            lambda batch, _: (
                batch.select(cf(F.col("text")).cast("long").alias("_n")).agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.coalesce(F.sum("_n"), F.lit(0)).alias("n_tokens"),
                ),
            ),
            (self.cfg.tokenstats_dir,),
            self._ckpt("tokenstats"),
        )

    def token_stats(self) -> "tuple[int, int]":
        """(n_docs, n_tokens) summed over the committed partials —
        0/0 before the first commit; ``RuntimeError`` once the
        partials are lost after one."""
        from pyspark.sql import functions as F

        schema = "n_docs long, n_tokens long"
        row = (
            read_partials(
                self.spark,
                self.cfg.tokenstats_dir,
                schema,
                self._ckpt("tokenstats"),
            )
            .agg(F.sum("n_docs").alias("d"), F.sum("n_tokens").alias("t"))
            .first()
        )
        return (int(row["d"] or 0), int(row["t"] or 0))

    def _lm_kept(self) -> DataFrame:
        """The LM gate's committed survivor rows (full _EXACT_SCHEMA
        columns) — the materialized output the near-dedup stage
        streams.  Empty typed frame before the first commit."""
        return read_partials(
            self.spark, self.cfg.lmkept_dir, _EXACT_SCHEMA, self._ckpt("lm")
        ).drop("batch_id")

    def _segment_gate_drop(self, docs: DataFrame) -> DataFrame:
        """doc_ids whose fraction of boilerplate-estimated windows
        exceeds seg_max_frac under the CURRENT committed sketch.  The
        probe set is the distinct window universe of the gated docs;
        estimates come from one broadcast join against the bounded
        (≤ depth × width rows) sketch."""
        from pyspark.sql import functions as F

        from prod2vec_spark.operators.linedup import (
            doc_distinct_segment_hashes,
        )
        from prod2vec_spark.operators.sketches import cms_estimate, read_cms

        sketch = read_cms(
            self.spark, self.cfg.segcms_dir, checkpoint=self._ckpt("segcms")
        )
        segs = doc_distinct_segment_hashes(docs, self.cfg.seg_width)
        boiler = (
            cms_estimate(sketch, segs.select("seg_h").distinct(), col="seg_h")
            .where(F.col("cms_est") >= self.cfg.seg_min_docs)
            .select("seg_h")
        )
        frac = (
            segs.join(F.broadcast(boiler).withColumn("_b", F.lit(1)),
                      "seg_h", "left")
            .groupBy("doc_id")
            .agg(
                (
                    F.sum(F.coalesce(F.col("_b"), F.lit(0)))
                    / F.count(F.lit(1))
                ).alias("boiler_frac")
            )
        )
        return frac.where(
            F.col("boiler_frac") > F.lit(self.cfg.seg_max_frac)
        ).select("doc_id")

    def _boundaries(self) -> "list[tuple[str, DataFrame]]":
        """The stateful stage chain over the committed outputs, in the
        batch DAG's order: (stage, survivors) for exact dedup → LM gate
        → segment gate → near-dedup → decon, each entry ⊆ the one
        before.  The LM gate's materialized survivors replace the exact
        output (near-dup decisions were computed over that same set);
        each drop set — the near-dup or contaminated fraction, usually
        small — is broadcast into a left-anti join, so the corpus side
        never shuffles (pipeline_llm.near_dedup's final subtraction);
        docs with no decision row (too short to shingle) are kept."""
        from pyspark.sql import functions as F

        chain = [
            (
                "exact_dedup",
                _read_output(self.spark, self.cfg.exact_dir, _EXACT_SCHEMA),
            )
        ]
        if self.cfg.lm_gate:
            chain.append(("lm_gate", self._lm_kept()))

        def minus(stage: str, drop: DataFrame) -> None:
            kept = chain[-1][1].join(F.broadcast(drop), "doc_id", "left_anti")
            chain.append((stage, kept))

        if self.cfg.segment_gate:
            minus("segment_gate", self._segment_gate_drop(chain[-1][1]))
        minus("near_dedup", self._drops(self.cfg.decisions_dir, "neardup"))
        if self.cfg.decon_gate:
            minus("decon_gate", self._drops(self.cfg.decon_dir, "decon"))
        return chain

    def curated(self) -> DataFrame:
        """The curated corpus: the last boundary's survivors."""
        return self._boundaries()[-1][1]

    def drop_ledger(self) -> DataFrame:
        """Per-document provenance over the stream's COMMITTED outputs
        (VERDICT r9 ask #7 — the streaming twin of
        pipeline_llm.drop_ledger): one row (doc_id, dropped_at) for
        every landed document that is not in ``curated()``, naming the
        stage that removed it.

        Partition contract (pytest-locked, mirroring the batch ledger
        test): landing ids = curated ids ∪ ledger ids, disjoint — each
        drop is attributed to exactly one stage.  Monotonicity is by
        construction: the row-local gates are replayed batch-side over
        the landing dir through the SAME ``_row_gates`` code path the
        stream ran (deterministic, so replay survivors ⊇ exact-dedup
        survivors), and the stateful stages are ``curated()``'s own
        boundary chain over their committed artifacts.

        Scale shape: id-only left-anti joins per boundary, probe side
        shrinking monotonically — the batch ledger's own fold."""
        from prod2vec_spark.pipeline_llm import fold_drop_ledger

        landing = self.spark.read.schema(_DOCS_SCHEMA).parquet(
            self.cfg.landing_dir
        )
        chain: list[tuple[str, DataFrame]] = []
        self._row_gates(landing, stages=chain)
        chain += self._boundaries()
        return fold_drop_ledger(landing, chain)

    def run(self) -> DataFrame:
        """Drain everything available, overlapping the independent
        post-exact stages (guide §2.6 — actions are only sequential
        when the driver calls them sequentially): the segment-CMS,
        LM-score, token-stats and decon streams all read stage 1's
        COMMITTED output and write disjoint artifacts, so they run
        CONCURRENTLY; only near-dedup orders after the LM gate (it
        streams the gate's survivors).  Each query keeps its own
        checkpoint — restart/idempotency semantics are unchanged, the
        drain is just no longer serialized on per-stream startup.  When
        a later stage refuses to start, the queries already started are
        stopped before the error propagates."""
        self.exact_stage()
        qs = []
        try:
            if self.cfg.segment_gate:
                qs.append(self._start_segment_cms())
            if self.cfg.token_stats:
                qs.append(self._start_token_stats())
            if self.cfg.decon_gate:
                qs.append(self._start_decon())
            if self.cfg.lm_gate:
                # near-dedup consumes the gate's survivors: await the LM
                # stream (it overlaps the independent gates above) before
                # starting the dependent stage
                self._start_lm().awaitTermination()
            qs.append(self._start_neardup())
        except BaseException:
            # a later door refused to start (or the LM drain failed):
            # stop the queries already running before re-raising; an
            # interrupted batch has no commit and replays on the next run
            for q in qs:
                q.stop()
            raise
        for q in qs:
            q.awaitTermination()
        return self.curated()
