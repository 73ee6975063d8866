"""Streaming curation pipeline: the incremental counterpart of
pipeline_llm.py's batch stages over the documents plane.

The stage order is written once, in ``STREAM_STAGES``.  The row-local
stages fuse into the exact stage's input scan (the line filter and the
badwords gate are the batch DAG's own ``STAGES`` entries and code);
exact dedup runs on the checkpointed parquet file sink
(``sources/io.write_stream_parquet``); every later stage is a batch
operator handed to the one micro-batch door,
``sources/io.start_batch_stage``, which writes idempotent
``batch_id=N`` partials.  ``exact_stage()``,
``run()``, ``curated()`` and ``drop_ledger()`` all read the table.
Every read of the partials passes the stage's checkpoint, so a partial
dir lost after a commit raises instead of reading as empty.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prod2vec_spark.pipeline_llm import (
    _STAGE,
    CurationConfig,
    RowStages,
    Stage,
    fold_drop_ledger,
)
from prod2vec_spark.sources.artifacts import make_dirs
from prod2vec_spark.sources.io import (
    read_partials,
    start_batch_stage,
    write_stream_parquet,
)
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


_DOCS_SCHEMA = "doc_id long, text string, lang string"
_EXACT_SCHEMA = _DOCS_SCHEMA + ", text_hash string"


@dataclass(kw_only=True)
class StreamCorpusConfig(CurationConfig):
    """The stream's own fields; the ones it shares with the batch DAG
    come from ``CurationConfig``.  A stream has no finished corpus to
    take a percentile over, so its thresholds are frozen config
    (typically the percentile computed offline on the archived
    corpus): ``quality_min`` for the quality gate and ``lm_max_ppl``
    for the LM gate, whose model is trained batch-side and persisted
    at ``lm_model_dir``.  The decontamination bench side is a static
    parquet of eval documents at ``decon_bench_dir``."""

    landing_dir: str
    num_hashes: int = 8
    band_size: int = 4
    quality_min: float = 0.0  # 0.0 = off
    repetition_gate: bool = False
    segment_gate: bool = False
    # drop a doc when more than this fraction of its windows is
    # boilerplate under the committed count-min sketch
    seg_max_frac: float = 0.5
    token_stats: bool = False
    # text Column -> token count (bpe_counter / unigram_counter /
    # wordpiece_counter, trained batch-side); None = whitespace tokens
    stats_count_fn: "object | None" = None
    lm_model_dir: str | None = None
    # 'stupid_backoff' (BigramLM) | 'kneser_ney' (KNnModel, at the
    # order its saved meta records)
    lm_smoothing: str = "kneser_ney"
    lm_max_ppl: float = float("inf")
    lm_discount: float | None = None  # None = operators/lm.DEFAULT_DISCOUNT
    # per-level modified-KN (D1, D2, D3+) triples, levels 2..order —
    # replaces the single lm_discount when set
    lm_discounts_n: "dict[int, tuple] | None" = None
    decon_gate: bool = False
    decon_bench_dir: str | None = None
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


@dataclass(frozen=True)
class StreamStage:
    """One entry of the stream's stage table.  ``stage`` gives the
    ledger label, the config predicate and whether the stage can drop
    documents; the pipeline method of that name maps the previous
    stage's survivors to this one's.  ``how`` says where it runs:

      * ``scan`` — fused into the exact stage's input scan;
      * ``sink`` — the exact stage's checkpointed file sink;
      * ``door`` — a per-batch operator through ``start_batch_stage``,
        started by ``_<label>_door`` over the committed output of the
        stage named by ``reads`` (a disabled one is read through to
        its own input).

    ``out`` names the config dir holding the stage's committed
    survivor rows, for the doors that read them."""

    stage: Stage
    how: str = "scan"
    reads: str | None = None
    out: str | None = None


STREAM_STAGES: tuple[StreamStage, ...] = (
    StreamStage(_STAGE["line_filter"]),
    StreamStage(_STAGE["badwords_gate"]),
    # low-quality docs and looped spam never occupy digest state
    StreamStage(Stage("quality_gate", lambda c: c.quality_min > 0.0)),
    StreamStage(Stage("repetition_gate", lambda c: c.repetition_gate)),
    StreamStage(Stage("exact_dedup"), "sink", out="exact_dir"),
    StreamStage(
        Stage("token_stats", lambda c: c.token_stats, drops=False),
        "door",
        "exact_dedup",
    ),
    StreamStage(
        Stage("lm_gate", lambda c: c.lm_gate), "door", "exact_dedup", "lmkept_dir"
    ),
    StreamStage(Stage("segment_gate", lambda c: c.segment_gate), "door", "exact_dedup"),
    # first-presenter ownership is decided among the LM gate's
    # survivors: the batch DAG's lm_gate → near_dedup order
    StreamStage(Stage("near_dedup"), "door", "lm_gate"),
    StreamStage(Stage("decon_gate", lambda c: c.decon_gate), "door", "exact_dedup"),
)
_STREAM = {e.stage.name: e for e in STREAM_STAGES}


class StreamingCorpusPipeline(RowStages):
    """landing docs ──stream──> row-local gates → exact dedup
    ──parquet+ckpt──> door stages ──partials──> curated corpus.

      * exact dedup: the content digest (dedup.text_digest, row-local)
        keys a streaming ``dropDuplicates``; the first arrival per
        digest survives, replayed/duplicated documents are dropped
        across restarts by the checkpointed state store.  The batch
        counterpart keeps min doc_id per digest (exact_dup_groups); a
        stream has arrival order instead — both keep exactly one doc
        per distinct content.
      * near-dedup: the first-presenter MinHash/LSH gate
        (streaming/neardup.py) over the committed survivors.
      * curated corpus: each dropping stage's survivors in table
        order, materialized on read from the committed outputs — a
        plain batch join at read time rather than another stateful
        stage.  Contaminated docs leave after near-dedup, the batch
        DAG's order.

    Scale notes: digest state is one row per distinct content (the
    same cardinality the batch digest shuffle carries), bounded in
    unbounded deployments by dropDuplicatesWithinWatermark at the
    documented completeness cost; the band registry holds one row per
    distinct band signature (streaming/first_presenter.py)."""

    def __init__(self, spark: SparkSession, cfg: StreamCorpusConfig):
        self.spark = spark
        self.cfg = cfg

    def _enabled(self) -> list[StreamStage]:
        """The table's stages this config runs, in order."""
        return [e for e in STREAM_STAGES if e.stage.on(self.cfg)]

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

    def _stream(self, path: str) -> DataFrame:
        """A stream over a stage's committed output dir."""
        make_dirs(self.spark, path)
        return self.spark.readStream.schema(_EXACT_SCHEMA).parquet(path)

    def _source(self, e: StreamStage) -> StreamStage:
        """The enabled stage whose committed survivors door ``e``
        streams."""
        src = _STREAM[e.reads]
        while not src.stage.on(self.cfg):
            src = _STREAM[src.reads]
        return src

    def _fold(
        self, docs: DataFrame | None, hows: tuple[str, ...] = ("scan",)
    ) -> "tuple[DataFrame, list[tuple[str, DataFrame]]]":
        """``docs`` through every enabled stage run ``hows``, in table
        order: the last survivors, and (label, survivors) per dropping
        stage — the ledger's boundaries.  A door that drops nothing
        (token stats) leaves the survivors as they are."""
        chain = []
        for e in self._enabled():
            if e.how in hows and (e.how == "scan" or e.stage.drops):
                docs = getattr(self, e.stage.name)(docs)
                if e.stage.drops:
                    chain.append((e.stage.name, docs))
        return docs, chain

    # -- scan stages (line_filter and badwords_gate: RowStages) ---------
    def quality_gate(self, docs: DataFrame) -> DataFrame:
        from prod2vec_spark.operators.text import quality_score

        return docs.where(quality_score(F.col("text")) >= self.cfg.quality_min)

    def repetition_gate(self, docs: DataFrame) -> DataFrame:
        from prod2vec_spark.operators.repetition import repetition_keep

        return docs.where(repetition_keep(F.col("text")))

    # -- the sink ---------------------------------------------------------
    def exact_stage(self) -> None:
        """The scan stages over the landing stream, then exact dedup
        through the checkpointed parquet file sink."""
        from prod2vec_spark.operators.dedup import text_digest

        landing = self.cfg.landing_dir
        docs, _ = self._fold(
            self._spread_stream(
                self.spark.readStream.schema(_DOCS_SCHEMA).parquet(landing), landing
            )
        )
        deduped = docs.withColumn(
            "text_hash", text_digest(docs["text"])
        ).dropDuplicates(["text_hash"])
        q = write_stream_parquet(deduped, self.cfg.exact_dir, self._ckpt("exact"))
        q.awaitTermination()

    # -- doors: each starts its drain over a committed dir ---------------
    def _token_stats_door(self, src: str):
        """Per-batch (n_docs, n_tokens) partials under the configured
        counter; ``token_stats()`` sums them."""
        from prod2vec_spark.operators.text import tokens

        cf = self.cfg.stats_count_fn or (lambda c: F.size(tokens(c)).cast("long"))
        return start_batch_stage(
            self._stream(src),
            lambda batch, _: (
                batch.select(cf(F.col("text")).cast("long").alias("_n")).agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    F.coalesce(F.sum("_n"), F.lit(0)).alias("n_tokens"),
                ),
            ),
            (self.cfg.tokenstats_dir,),
            self._ckpt("tokenstats"),
        )

    def _lm_gate_door(self, src: str):
        """Score each micro-batch with the batch scorer matching
        cfg.lm_smoothing against the persisted model and materialize
        the kept rows: scores land at lmscores_dir/batch_id=N, the
        survivors (ppl <= lm_max_ppl via semi join — unscored and
        too-short docs drop, the batch semantic) at
        lmkept_dir/batch_id=N."""
        from prod2vec_spark.operators import lm as LM

        cfg = self.cfg
        if cfg.lm_model_dir is None:
            raise ValueError("lm_gate needs lm_model_dir (a persisted model)")
        if cfg.lm_smoothing == "kneser_ney":
            model = LM.KNnModel.load(self.spark, cfg.lm_model_dir)
            d = LM.DEFAULT_DISCOUNT if cfg.lm_discount is None else cfg.lm_discount

            def score(df):
                return LM.score_docs_knn(
                    df, model, discount=d, discounts=cfg.lm_discounts_n
                )

        elif cfg.lm_smoothing == "stupid_backoff":
            model = LM.BigramLM.load(self.spark, cfg.lm_model_dir)

            def score(df):
                return LM.score_docs(df, model)

        else:
            raise ValueError(
                f"unknown lm_smoothing {cfg.lm_smoothing!r} (expected "
                "'stupid_backoff' or 'kneser_ney')"
            )

        def per_batch(batch_df: DataFrame, _):
            # the kept rows derive from the scores: lazy lineage break
            # so each batch is scored once for both partials
            scores = score(batch_df).localCheckpoint(eager=False)
            keep = scores.where(F.col("ppl") <= F.lit(cfg.lm_max_ppl)).select("doc_id")
            return scores, batch_df.join(keep, "doc_id", "left_semi")

        return start_batch_stage(
            self._stream(src),
            per_batch,
            (cfg.lmscores_dir, cfg.lmkept_dir),
            self._ckpt("lm"),
        )

    def _segment_gate_door(self, src: str):
        """The boilerplate-window CMS over the exact-dedup output (each
        distinct content counts once): per-doc DISTINCT window hashes,
        one ``cms_sketch`` partial per batch (summed on read by
        ``operators/sketches.read_cms``)."""
        from prod2vec_spark.operators.linedup import doc_distinct_segment_hashes
        from prod2vec_spark.operators.sketches import cms_sketch

        return start_batch_stage(
            doc_distinct_segment_hashes(self._stream(src), self.cfg.seg_width),
            lambda batch, _: (cms_sketch(batch, col="seg_h"),),
            (self.cfg.segcms_dir,),
            self._ckpt("segcms"),
        )

    def _near_dedup_door(self, src: str):
        from prod2vec_spark.streaming.neardup import start_near_dedup_registry

        return start_near_dedup_registry(
            self._spread_stream(self._stream(src), src),
            f"{self.cfg.work_dir}/band_registry",
            self.cfg.decisions_dir,
            self._ckpt("neardup"),
            shingle_k=self.cfg.shingle_k,
            num_hashes=self.cfg.num_hashes,
            band_size=self.cfg.band_size,
        )

    def _decon_gate_door(self, src: str):
        """Benchmark-decontamination decisions: per micro-batch, the
        arriving docs (is_bench=False) unioned with the STATIC bench
        parquet (is_bench=True) run the batch decontaminate stage's
        operators — the exact n-gram collision report, plus the fuzzy
        MinHash/exact-Jaccard screen when decon_fuzzy — and (doc_id,
        keep) decisions land at decon_dir/batch_id=N.  The bench side
        is a few MB, broadcast inside both reports; it contributes
        only its gram/shingle sets, never ids, so a bench doc_id
        colliding with a stream doc_id is harmless."""
        from prod2vec_spark.operators.decontam import (
            contamination_report,
            fuzzy_contamination_report,
        )

        cfg = self.cfg
        if not cfg.decon_bench_dir:
            raise ValueError("decon_gate needs decon_bench_dir set")
        bench = (
            self.spark.read.schema(_DOCS_SCHEMA)
            .parquet(cfg.decon_bench_dir)
            .select("doc_id", "text")
            .withColumn("is_bench", F.lit(True))
        )

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
            self._stream(src), per_batch, (cfg.decon_dir,), self._ckpt("decon")
        )

    # -- survivors over the committed outputs ----------------------------
    def exact_dedup(self, docs: DataFrame | None) -> DataFrame:
        """The exact stage's committed rows (``docs`` is the input scan
        the sink already consumed)."""
        return _read_output(self.spark, self.cfg.exact_dir, _EXACT_SCHEMA)

    def lm_gate(self, docs: DataFrame) -> DataFrame:
        """The LM gate's committed survivor rows; they replace
        ``docs``, the set near-dup decisions were computed over."""
        return read_partials(
            self.spark, self.cfg.lmkept_dir, _EXACT_SCHEMA, self._ckpt("lm")
        ).drop("batch_id")

    def segment_gate(self, docs: DataFrame) -> DataFrame:
        """``docs`` minus those whose fraction of boilerplate-estimated
        windows exceeds seg_max_frac under the CURRENT committed
        sketch.  The probe set is the distinct window universe of
        ``docs``; estimates come from one broadcast join against the
        bounded (≤ depth × width rows) sketch.  CMS only
        overestimates, so the gate errs toward dropping; a stream
        cannot re-edit committed text, so it drops the doc where the
        batch segment dedup rewrites it."""
        from prod2vec_spark.operators.linedup import doc_distinct_segment_hashes
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
        drop = frac.where(
            F.col("boiler_frac") > F.lit(self.cfg.seg_max_frac)
        ).select("doc_id")
        return docs.join(F.broadcast(drop), "doc_id", "left_anti")

    def near_dedup(self, docs: DataFrame) -> DataFrame:
        return self._decided(docs, self.cfg.decisions_dir, "neardup")

    def decon_gate(self, docs: DataFrame) -> DataFrame:
        return self._decided(docs, self.cfg.decon_dir, "decon")

    def _decided(self, docs: DataFrame, decisions_dir: str, stage: str) -> DataFrame:
        """``docs`` minus the ids a decision stage dropped (keep == 0)
        over its committed partials.  The drop set — usually a small
        fraction — is broadcast into a left-anti join, so the corpus
        side never shuffles; docs with no decision row (too short to
        shingle) are kept."""
        drop = (
            read_decisions(self.spark, decisions_dir, checkpoint=self._ckpt(stage))
            .where(F.col("keep") == 0)
            .select("doc_id")
        )
        return docs.join(F.broadcast(drop), "doc_id", "left_anti")

    def token_stats(self) -> "tuple[int, int]":
        """(n_docs, n_tokens) summed over the committed partials —
        0/0 before the first commit; ``RuntimeError`` once the
        partials are lost after one."""
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

    def curated(self) -> DataFrame:
        """The curated corpus: the last stage's survivors over the
        committed outputs."""
        return self._fold(None, ("sink", "door"))[0]

    def drop_ledger(self) -> DataFrame:
        """Per-document provenance over the stream's COMMITTED outputs
        (the streaming twin of pipeline_llm.drop_ledger): one row
        (doc_id, dropped_at) for every landed document that is not in
        ``curated()``, naming the stage that removed it.

        Partition contract: landing ids = curated ids ∪ ledger ids,
        disjoint.  The scan stages are replayed batch-side over the
        landing dir (deterministic, so replay survivors ⊇ exact-dedup
        survivors), and the later stages are ``curated()``'s own
        survivors over their committed outputs."""
        landing = self.spark.read.schema(_DOCS_SCHEMA).parquet(
            self.cfg.landing_dir
        )
        _, chain = self._fold(landing, ("scan", "sink", "door"))
        return fold_drop_ledger(landing, chain)

    def run(self) -> DataFrame:
        """Drain everything available: the exact stage, then every
        enabled door.  The doors over the exact output run
        concurrently (guide §2.6 — actions are only sequential when
        the driver calls them sequentially); a door over another
        door's output starts when that drain ends.  When a door
        refuses to start or a drain fails, the queries already started
        are stopped before the error propagates; an interrupted batch
        has no commit and replays on the next run."""
        self.exact_stage()
        doors = [e for e in self._enabled() if e.how == "door"]
        running = {}
        try:
            # the doors over the exact output start first, so a door
            # that waits on another's drain never delays them
            for e in sorted(doors, key=lambda e: self._source(e).how == "door"):
                src = self._source(e)
                if src.how == "door":
                    running.pop(src.stage.name).awaitTermination()
                door = getattr(self, f"_{e.stage.name}_door")
                running[e.stage.name] = door(getattr(self.cfg, src.out))
        except BaseException:
            for q in running.values():
                q.stop()
            raise
        for q in running.values():
            q.awaitTermination()
        return self.curated()
