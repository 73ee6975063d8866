"""Benchmark harness (driver contract): times every catalog query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced with a noop-format write (every output column is
fully computed and serialized on the executors, nothing returns to the
driver) — a count() would let Catalyst prune unreferenced projection
columns, under-timing expression-heavy queries like simhash/text_stats.

Each query runs $SPARK_GRAFT_BENCH_RUNS times (default 3): the
headline per-query number is the BEST run (a robust steady-state
estimate — any real per-byte cost appears in every run, while one-off
driver costs, GC hiccups and ambient host-noise spikes hit only
some), with the first-run total reported as cold_value.  The first
execution of a fresh plan pays one-time driver costs — Catalyst
analysis, Janino whole-stage-codegen compilation, C2 JIT warm-up —
measured at 2-4x data time for the codegen-heaviest queries at sf0.1.
Those costs are constant per plan, not per byte: at the 100 TB design
point they amortize to nothing, so steady-state is the number that
predicts cluster behavior, while cold_value keeps the one-time
overhead visible.

Session hygiene (round-3 fix): a single long-lived local[32] JVM
degrades HOF-heavy execution 3-10x as it ages across the full
42-query x 2-run catalog (round-2 adjudication: every flagged query
was ~1.0-1.3x of baseline in a fresh JVM but 3-10x inside the long
session).  PySpark reuses the py4j gateway JVM across spark.stop(),
so in-process session recycling cannot reset JVM state; instead the
parent process splits the catalog into chunks of
$SPARK_GRAFT_BENCH_CHUNK (default 6) queries and runs each chunk in a
fresh subprocess = fresh JVM.  JVM/session startup is outside the
timed region (each chunk warms up with a parquet count before timing),
so per-query numbers are comparable across chunk positions.  On a real
cluster this maps to routine executor rotation / GC tuning, not plan
changes — the plans themselves are clean (plan-shape tests lock
broadcast/shuffle/pushdown per operator).

Noise adjudication pass (round-6, automating BASELINE.md's manual
protocol): the host VM occasionally enters multi-minute noise episodes
(every query 2-16x slow; round-3 measurement: a chunk that benched
8.75x baseline inside such an episode reproduced baseline exactly when
re-run minutes later).  After the chunked run, any query >1.2x its
BASELINE.json entry is re-run ISOLATED — alone in a fresh JVM,
best-of-3 — and the artifact records BOTH numbers plus a verdict
under "adjudications": transient noise vanishes in isolation
("noise"), a genuine plan regression stays slow ("regression") and is
still flagged in vs_baseline.  The headline timing keeps the min of
the two, consistent with the best-run steady-state methodology.

Absolute-time floor (round-11, VERDICT r9/r10 ask #3): a zero-commit
round measured the protocol's own noise band at +-0.1-0.5 s on
sub-2 s entries (bm25_topk flagged 1.30x in r9, self-resolved to
1.08x in r10 on identical code; bloom_blocklist the reverse), so
ratio-only adjudication mislabels machine-level variance on short
queries.  A query is now only a suspect — and "regression" is only
reachable — when the delta over baseline ALSO exceeds
ADJ_ABS_FLOOR_SEC; sub-floor deltas are recorded nowhere (they are
the measurement's resolution, not a signal).

The full output object is also written to BENCH_LOCAL.json next to
this file before the single stdout JSON line is printed — the
stdout line runs ~4 KB at sf0.1 and the driver's capture has
truncated it (BENCH_r10 "parsed": null), so the file is the
truncation-proof copy of the same object.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


FLAGSHIP = "__flagship__"
CURATION10X = "__curation10x__"
CURATION_FULL = "__curation_full__"
CURATION_ALL = "__curation_all__"
STREAMING = "__streaming_corpus__"
CANARY = "__canary__"
CANARY_IO = "__canary_io__"
MACROS = (CURATION10X, CURATION_FULL, CURATION_ALL, STREAMING)
BASELINE_SF = 0.1  # scale factor the BASELINE.json timings were recorded at
ADJ_ABS_FLOOR_SEC = 0.5  # sub-floor deltas are bench-noise resolution, not signal


def adjudicate(
    isolated: float, baseline: float, canary_factor: float
) -> "tuple[str, float]":
    """(verdict, canary_normalized_ratio) for one isolated re-run —
    the round-14 protocol (BASELINE.md): sub-floor or sub-1.2x RAW
    deltas are measurement resolution ("noise"); above that, the
    verdict reads the CANARY-NORMALIZED ratio, so a query that moved
    WITH the VM is ambient drift ("noise_ambient"), and only a query
    elevated beyond the ambient factor is a "regression".
    ``canary_factor`` must already be clamped >= 1.0 (a
    faster-than-baseline VM must never hide a real regression)."""
    norm_ratio = isolated / baseline / canary_factor
    raw_ok = (
        isolated / baseline <= 1.2
        or isolated - baseline <= ADJ_ABS_FLOOR_SEC
    )
    if raw_ok:
        return ("noise", norm_ratio)
    return (
        ("noise_ambient", norm_ratio)
        if norm_ratio <= 1.2
        else ("regression", norm_ratio)
    )


def _canary(spark, sf_dir):
    """Throughput canary (VERDICT r12 ask #8): a FIXED synthetic
    pure-Spark busy query — md5 over a 24M-row range, no I/O, no
    shuffle beyond the final 1-row agg — timed every bench run so
    ambient VM throughput decay (the uniform ~1.3-1.5x drift the
    r11→r12 sub-second entries showed) is measured directly and
    normalized out, instead of re-litigated per entry.  The work is
    sf-independent by construction; its ratio vs BASELINE.json's
    ``canary_sec`` rides the artifact as ``canary.vs_baseline``."""
    from pyspark.sql import functions as F

    return (
        spark.range(0, 24_000_000, 1, 32)
        .select(
            F.md5(F.concat_ws("|", F.col("id"), F.lit("canary"))).alias("h")
        )
        .agg(
            F.count(F.when(F.col("h").like("00%"), True)).alias("n00"),
            F.max("h").alias("hmax"),
        )
    )


def _canary_io(spark, sf_dir):
    """I/O canary (VERDICT r15 ask #5): a FIXED-size parquet
    write+read probe so ambient *I/O* regimes are measured directly —
    the CPU canary above is blind to them by design (the r14/r15
    episode signature: every macro inflates 25-70% while the CPU
    canary reads clean).  One fresh-JVM probe per bench run: write a
    deterministic 2M-row / ~90 MB-on-disk frame to a temp dir, read
    it back and count, delete.  sf-independent by construction; its
    ratio vs BASELINE.json's ``canary_io_sec`` rides the artifact as
    ``canary_io.vs_baseline``, turning the episode signature into one
    recorded number instead of a manual control-probe recipe.

    Runs as a macro-style entry (does its own I/O, returns a 1-row
    report) so the shared run loop never noop-writes it."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    work = tempfile.mkdtemp(prefix="bench_canary_io_")
    try:
        out = f"{work}/probe"
        (
            spark.range(0, 2_000_000, 1, 32)
            .select(
                "id",
                F.md5(F.concat_ws("|", F.col("id"), F.lit("io"))).alias("h1"),
                F.sha2(
                    F.concat_ws("|", F.col("id"), F.lit("io2")), 256
                ).alias("h2"),
            )
            .write.mode("overwrite")
            .parquet(out)
        )
        n = spark.read.parquet(out).count()
        return spark.createDataFrame([(n,)], "n long")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _flagship(spark, sf_dir):
    """The reference's E1+E2 shape (SURVEY.md §3) at the bench scale
    factor: baskets → vocab → Word2Vec fit on the FULL corpus → top-5
    cosine neighbors for the 3 seeded probes, names joined — the same
    pipeline entry() runs at sf0.001, timed per-round so estimator-path
    regressions surface (VERDICT r4 stretch #8)."""
    from pyspark.sql import functions as F

    from prod2vec_spark.ml.prod2vec import (
        Prod2VecParams,
        embedding_table,
        enrich_embeddings,
        fit_prod2vec,
        top_k_similar,
    )
    from prod2vec_spark.operators.baskets import assemble_baskets, build_vocab
    from prod2vec_spark.operators.relational import seeded_sample
    from prod2vec_spark.sources.io import read_table

    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    baskets = assemble_baskets(li, max_len=50)
    vocab = build_vocab(li, num_prods=201)
    model = fit_prod2vec(
        baskets, Prod2VecParams(vector_size=32, max_iter=1, num_partitions=4)
    )
    vectors = embedding_table(model)
    probes = [
        r["product_id"]
        for r in seeded_sample(
            vocab.filter(F.col("idx").between(1, 20)), 3, ["product_id"], seed=42
        ).collect()
    ]
    topk = top_k_similar(vectors, probes, k=5)
    return enrich_embeddings(topk.withColumnRenamed("neighbor_id", "product_id"), part)


def _curation10x(spark, sf_dir):
    """10x-amplified exact-dedup → LSH → connected-components chain
    (queries/dedup.py curation_stress) timed per-round so the curation
    path's behavior at a ~10x denser candidate graph is a recorded
    number, not a claim (VERDICT r5 ask #6).  Runs ONCE per bench (a
    macro-benchmark: the CC loop's eager checkpoints dominate, and
    one run is representative)."""
    from prod2vec_spark.queries.dedup import curation_stress

    return curation_stress(spark, sf_dir, factor=10)


def _curation_full(spark, sf_dir):
    """The FULL production-shape curation DAG (pipeline_llm.run:
    gates → PII scrub → exact dedup → quality+repetition filter →
    LSH+CC near dedup → decontaminate → chunk → stats) timed
    end-to-end at the bench scale factor into a throwaway work dir —
    the composed pipeline's wall clock is a recorded number, not the
    sum of its stages' micro-times.  Macro entry: runs once per bench
    (checkpoint writes dominate; one run is representative)."""
    import shutil
    import tempfile

    from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline

    work = tempfile.mkdtemp(prefix="bench_curation_full_")
    try:
        # run() executes every stage (writes + counts); the returned
        # report is driver-local rows, safe to hand back after cleanup
        return CorpusCurationPipeline(
            spark, CorpusConfig(sf_dir=sf_dir, work_dir=work)
        ).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _render_media(spark, sf_dir: str, media_path: str) -> None:
    """Synthesize mixed PNG/WebP/WAV/AVI attachments per document
    (planted duplicate families — a mapInPandas render with the same
    shape as a real blob scan, so its cost is included in the macro's
    time).  Round-15: ODD members of each image family encode as
    LOSSLESS WEBP instead of PNG, so the macro's media-dedup stage
    exercises the VP8L decoder per run and its family pairs are
    CROSS-CODEC — the dominant modern web image format's cost is a
    measured number in the flagship macro, not just a pytest."""
    import hashlib
    import struct as _struct
    from typing import Iterator

    import pandas as pd

    from prod2vec_spark.operators.multimodal import (
        encode_avi_gray8,
        encode_png_gray8,
        encode_wav_pcm16,
    )
    from prod2vec_spark.operators.webp import encode_webp_lossless_gray8
    from prod2vec_spark.sources.io import read_table

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                fam, member, modality = d % 50, d // 50, d % 3
                if modality == 0:  # image
                    raw = bytearray(
                        b"".join(
                            hashlib.md5(f"bimg{fam}|{k}".encode()).digest()
                            for k in range(16)
                        )
                    )
                    if member:
                        raw[(member * 37) % 256] = (raw[(member * 37) % 256] + 1) % 256
                    if member % 2:  # round-15: cross-codec families
                        blobs.append(
                            encode_webp_lossless_gray8(bytes(raw), 16, 16)
                        )
                    else:
                        blobs.append(encode_png_gray8(bytes(raw), 16, 16))
                elif modality == 1:  # audio
                    raw = b"".join(
                        hashlib.md5(f"bwav{fam}|{k}".encode()).digest()
                        for k in range(130)
                    )
                    samples = [s // 8 for s in _struct.unpack("<1040h", raw)]
                    if member:
                        samples[(member * 97) % 1040] += 200
                    blobs.append(encode_wav_pcm16(samples))
                else:  # video
                    frames = [
                        bytearray(
                            b"".join(
                                hashlib.md5(f"bvid{fam}|{t}|{k}".encode()).digest()
                                for k in range(16)
                            )
                        )
                        for t in range(4)
                    ]
                    if member:
                        f = frames[member % 4]
                        f[(member * 41) % 256] = (f[(member * 41) % 256] + 1) % 256
                    blobs.append(
                        encode_avi_gray8([bytes(f) for f in frames], 16, 16)
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    (
        read_table(spark, sf_dir, "documents")
        .select("doc_id")
        .mapInPandas(render, schema="doc_id long, blob binary")
        .write.parquet(media_path)
    )


def _curation_all(spark, sf_dir):
    """EVERY optional curation stage ON in one composed DAG run —
    the round-14 macro consolidation (VERDICT r13 ask #8): the five
    historical per-round macros (r7/r7b/r9/r9b/r12) overlapped heavily
    and cost ~135 s of the 220 s bench; this single all-stages-on
    composition keeps every stage's timed coverage via the per-stage
    ``t_ms_*`` attribution rows the stats report emits (recorded in
    the artifact under ``stage_ms``), while the default-config
    ``__curation_full__`` macro keeps its baseline comparable across
    rounds.  Where a stage has alternative legs (segment-dedup
    policy, LM smoothing, tokenizer family), ONE leg is timed here —
    keep_first / Kneser-Ney / wordpiece, the newest of each — since
    the legs share the stage's dataflow shape."""
    import shutil
    import tempfile

    from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline

    work = tempfile.mkdtemp(prefix="bench_curation_all_")
    try:
        media_path = f"{work}/media"
        _render_media(spark, sf_dir, media_path)
        return CorpusCurationPipeline(
            spark,
            CorpusConfig(
                sf_dir=sf_dir,
                work_dir=work,
                # r7: normalization, segment dedup, LM gate, survivor
                # (r14: the gate runs the ORDER-3 chain with per-level
                # discounts derived from counts-of-counts)
                normalize=True,
                segment_dedup=True,
                seg_policy="keep_first",
                lm_gate=True,
                lm_smoothing="kneser_ney",
                lm_order=3,
                lm_derive_discount=True,
                canonical_policy="quality",
                # r14: doc-level badwords gate + media format audit
                badwords_cats={"latency": ("slow",), "scale": ("big big",)},
                badwords_max_frac=0.2,
                media_format_audit=True,
                # r7b: scrub/compress/verify/split/mix/shards
                scrub_cc=True,
                compression_gate=True,
                editdist_verify=True,
                holdout_split=True,
                split_group_col="source",
                mix_report=True,
                epoch_shards=8,
                # r9: media near-dup (the URL stages need a url column
                # the sf documents table doesn't carry — they keep
                # their oracle/pytest coverage via url_canonical_groups)
                media_path=media_path,
                # r9b: line filters + adaptive blocklist
                line_filter=True,
                adaptive_block_k=1,
                adaptive_min_count=100,
                # r11/r12: semantic dedup + partial-media spans
                semantic_dedup=True,
                media_span_dedup=True,
                # r14: fuzzy decontamination rides the DAG leg
                decon_fuzzy=True,
                # r12/r13: tokenizer family + packed training shards
                tokenizer="wordpiece",
                wordpiece_merges=50,
                pack_budget=256,
                pack_shards=2,
            ),
        ).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _streaming_corpus(spark, sf_dir):
    """End-to-end STREAMING corpus curation at the bench scale factor
    (round 14 — the streaming plane's first timed coverage): the sf
    documents land as one wave; the pipeline drains exact dedup →
    C4 line filter → token stats → banded near-dup gate through its
    real checkpointed streams, and the returned report carries the
    curated/landed counts.  Macro entry: runs once per bench
    (checkpoint + state-store writes dominate)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from prod2vec_spark.sources.io import read_table
    from prod2vec_spark.streaming.pipeline import (
        StreamCorpusConfig,
        StreamingCorpusPipeline,
    )

    work = tempfile.mkdtemp(prefix="bench_streaming_")
    try:
        landing = f"{work}/landing"
        (
            read_table(spark, sf_dir, "documents", spread=False)
            .select("doc_id", "text", "lang")
            .coalesce(4)
            .write.parquet(landing)
        )
        cfg = StreamCorpusConfig(
            landing_dir=landing,
            work_dir=f"{work}/w",
            line_filter=True,
            token_stats=True,
        )
        pipe = StreamingCorpusPipeline(spark, cfg)
        curated = pipe.run()
        n_docs, n_tokens = pipe.token_stats()
        # driver-local 1-row report (collected before work dir cleanup)
        return spark.createDataFrame(
            [(curated.count(), n_docs, n_tokens)],
            "n_curated long, n_stats_docs long, n_stats_tokens long",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_chunk(
    names: list[str], sf_dir: str
) -> tuple[dict[str, float], dict[str, float], dict[str, dict]]:
    """Child entry: time the named queries in THIS process's fresh JVM.
    Macro (DAG) entries also surface their per-stage ``t_ms_*``
    attribution rows from the stats report — the regression signal the
    consolidated all-stages-on macro carries for every stage."""
    from prod2vec_spark.queries import QUERIES
    from prod2vec_spark.session import get_spark

    spark = get_spark("prod2vec-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so timings measure the plans
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    import gc

    runs = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    stage_ms: dict[str, dict] = {}
    special = {
        CANARY: _canary,
        CANARY_IO: _canary_io,
        FLAGSHIP: _flagship,
        CURATION10X: _curation10x,
        CURATION_FULL: _curation_full,
        CURATION_ALL: _curation_all,
        STREAMING: _streaming_corpus,
    }
    # macro entries run once in the main pass (the CC loop's eager
    # checkpoints dominate; one run is representative) — but an
    # adjudication re-run restores the best-of-N protocol by setting
    # SPARK_GRAFT_MACRO_RUNS so its verdict never rests on one sample
    macro_runs = int(os.environ.get("SPARK_GRAFT_MACRO_RUNS", "1"))
    for name in names:
        fn = special.get(name) or QUERIES[name]
        # the I/O canary performs its own write/read side effects and
        # returns a 1-row report — macro execution shape, but its runs
        # count rides SPARK_GRAFT_BENCH_RUNS like the CPU canary
        is_macro = name in MACROS or name == CANARY_IO
        if name == CANARY_IO:
            macro_runs_here = runs
        else:
            macro_runs_here = macro_runs
        n_runs = macro_runs_here if is_macro else runs
        times = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            if is_macro:
                # the DAG executes inside fn (checkpoint writes); the
                # report is a handful of driver rows — collect it and
                # keep the t_ms_* stage attribution for the artifact
                # (macros whose report carries no stage column, e.g.
                # the 10x stress chain, just skip the extraction)
                rep = fn(spark, sf_dir)
                rows = rep.collect()
                times.append(round(time.perf_counter() - t0, 3))
                if {"stage", "n"} <= set(rep.columns):
                    stage_ms[name] = {
                        r["stage"]: int(r["n"])
                        for r in rows
                        if str(r["stage"]).startswith("t_ms_")
                    }
                continue
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        # sub-second queries: absolute jitter (scheduler, one slow task)
        # dominates the ratio, so buy extra samples — they cost <1s each
        while not is_macro and min(times) < 1.0 and len(times) < n_runs + 3:
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        cold[name] = times[0]
        timings[name] = min(times)
        gc.collect()  # release py4j refs so ContextCleaner can drop broadcasts
    spark.stop()
    return timings, cold, stage_ms


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from prod2vec_spark.queries import QUERIES

    # the flagship estimator pipeline and the DAG macros are timed
    # too, appended last so their heavy driver-side work never
    # precedes (and so ages the JVM of) the catalog queries sharing
    # their chunk
    names = list(QUERIES) + [FLAGSHIP, CURATION10X, CURATION_FULL, CURATION_ALL, STREAMING]
    chunk_size = int(os.environ.get("SPARK_GRAFT_BENCH_CHUNK", "6"))
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    stage_ms: dict[str, dict] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for i in range(0, len(names), chunk_size):
        chunk = names[i : i + chunk_size]
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--chunk", ",".join(chunk)],
            capture_output=True,
            text=True,
            cwd=here,
        )
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise RuntimeError(f"bench chunk failed: {chunk}")
        # the child prints exactly one JSON line on its last stdout line
        part = json.loads(proc.stdout.strip().splitlines()[-1])
        timings.update(part["queries"])
        cold.update(part["cold"])
        stage_ms.update(part.get("stage_ms", {}))

    # the canary is a VM-throughput probe, not a catalog query: it
    # runs ISOLATED in its own fresh JVM (an aged chunk JVM's GC
    # pressure would contaminate the ambient measurement — observed
    # 10x when it shared the macro chunk) with extra samples, and
    # stays out of the total, the vs_baseline geomean, and the
    # suspect list.  It runs BEFORE the adjudication pass (round-14,
    # VERDICT r13 ask #1) because adjudication verdicts are now
    # computed on the CANARY-NORMALIZED ratio — uniform ambient VM
    # drift (the measured 1.47x decay of r13) must not label an
    # unchanged plan "regression".  The parse is crash-proof: stray
    # stdout lines from the child (JVM/log4j leakage) degrade to
    # canary_sec=None (raw-ratio verdicts), never a lost bench run.
    canary_sec = None
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--chunk", CANARY],
        capture_output=True,
        text=True,
        cwd=here,
        env={**os.environ, "SPARK_GRAFT_BENCH_RUNS": "6"},
    )
    if proc.returncode == 0:
        try:
            canary_sec = json.loads(proc.stdout.strip().splitlines()[-1])[
                "queries"
            ][CANARY]
        except (ValueError, KeyError, IndexError):
            canary_sec = None

    # I/O canary (VERDICT r15 ask #5): same isolation discipline as the
    # CPU canary — own fresh JVM, best-of-N — but the probe is a fixed
    # parquet write+read, so ambient I/O regimes (invisible to the
    # CPU-bound probe; the r14/r15 episode signature) read directly off
    # the artifact as canary_io.vs_baseline.
    canary_io_sec = None
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--chunk", CANARY_IO],
        capture_output=True,
        text=True,
        cwd=here,
        env={**os.environ, "SPARK_GRAFT_BENCH_RUNS": "5"},
    )
    if proc.returncode == 0:
        try:
            canary_io_sec = json.loads(
                proc.stdout.strip().splitlines()[-1]
            )["queries"][CANARY_IO]
        except (ValueError, KeyError, IndexError):
            canary_io_sec = None

    # Noise adjudication pass (automates BASELINE.md's round-5 manual
    # protocol, VERDICT r5 ask #4): any query landing >1.2x its
    # recorded baseline is re-run ISOLATED — alone in a fresh JVM,
    # best-of-3 — and the artifact records original + isolated + the
    # verdict.  Ambient host-noise episodes (whole multi-minute windows
    # where every query runs 2-16x slow) vanish in isolation; a real
    # plan regression reproduces and stays flagged.
    # baselines were recorded at sf0.1 (BASELINE.json queries_note);
    # cross-SF ratios are meaningless (fixed per-plan overheads don't
    # scale down), so both the adjudication pass and vs_baseline only
    # engage at the baseline's scale factor
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    baseline = _per_query_baseline() if sf == BASELINE_SF else {}
    # canary normalization factor: how much slower THIS VM runs the
    # fixed synthetic probe vs when baselines were recorded.  Clamped
    # at >= 1.0 — a faster-than-baseline VM must never hide a real
    # regression behind the divide.
    cb = _baseline_data().get("canary_sec")
    canary_factor = (
        max(1.0, canary_sec / cb) if canary_sec and cb else 1.0
    )
    adjudications: dict[str, dict] = {}
    # per-entry recording protocol (VERDICT r15 ask #9): a baseline is
    # only adjudicable when we know which protocol recorded it — an
    # entry with no protocols row gets a structural "no_protocol"
    # verdict instead of a numeric comparison a human would have to
    # refuse by reading BASELINE.md
    protocols = _baseline_data().get("protocols", {})
    suspects = [
        q
        for q in names
        if q in baseline
        and baseline[q] > 0
        and timings[q] / baseline[q] > 1.2
        and timings[q] - baseline[q] > ADJ_ABS_FLOOR_SEC
    ]
    for q in suspects:
        if q not in protocols:
            adjudications[q] = {
                "original": timings[q],
                "baseline": baseline[q],
                "verdict": "no_protocol",
                "note": (
                    "baseline has no BASELINE.json protocols entry — "
                    "cross-protocol comparison refused; record a fresh "
                    "baseline under the standing isolated protocol"
                ),
            }
            continue
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--chunk", q],
            capture_output=True,
            text=True,
            cwd=here,
            env={**os.environ, "SPARK_GRAFT_MACRO_RUNS": "3"},
        )
        if proc.returncode != 0:
            adjudications[q] = {
                "original": timings[q],
                "isolated": None,
                "baseline": baseline[q],
                "verdict": "rerun_failed",
            }
            continue  # keep the original number; never mask a crash
        part = json.loads(proc.stdout.strip().splitlines()[-1])
        isolated = part["queries"][q]
        verdict, norm_ratio = adjudicate(
            isolated, baseline[q], canary_factor
        )
        adjudications[q] = {
            "original": timings[q],
            "isolated": isolated,
            "baseline": baseline[q],
            "ratio_raw": round(isolated / baseline[q], 2),
            "ratio_canary_normalized": round(norm_ratio, 2),
            "canary_factor": round(canary_factor, 2),
            "baseline_protocol": protocols[q],
            "verdict": verdict,
        }
        timings[q] = min(timings[q], isolated)
    n_reg = sum(
        1 for a in adjudications.values() if a["verdict"] == "regression"
    )
    episode_note = None
    if n_reg >= 3:
        # measured r14: a multi-minute ambient I/O episode can persist
        # through the in-run isolated retries (4 untouched queries
        # adjudicated 'regression' at once, all 0.9-1.4x when
        # re-probed minutes later) while the CPU canary reads near
        # baseline — co-occurring regressions on unrelated plans are
        # the episode signature, not four simultaneous plan bugs
        episode_note = (
            f"{n_reg} 'regression' verdicts co-occurred in one run — "
            "the ambient-episode signature (BASELINE.md round 14); "
            "re-probe isolated minutes later before re-baselining"
        )
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cold_value": round(sum(cold.values()), 3),
    }
    if stage_ms:
        out["stage_ms"] = stage_ms
    if canary_sec is not None:
        out["canary"] = {
            "sec": canary_sec,
            "vs_baseline": round(canary_sec / cb, 2) if cb else None,
        }
    if canary_io_sec is not None:
        cib = _baseline_data().get("canary_io_sec")
        out["canary_io"] = {
            "sec": canary_io_sec,
            "vs_baseline": (
                round(canary_io_sec / cib, 2) if cib else None
            ),
        }
    if adjudications:
        out["adjudications"] = adjudications
    if episode_note:
        out["adjudication_note"] = episode_note
    if baseline:
        ratios = {
            q: round(timings[q] / baseline[q], 2)
            for q in timings
            if q in baseline and baseline[q] > 0
        }
        if ratios:
            import math

            out["vs_baseline"] = {
                "per_query_ratio": ratios,
                "geomean_ratio": round(
                    math.exp(
                        sum(math.log(r) for r in ratios.values() if r > 0)
                        / max(1, sum(1 for r in ratios.values() if r > 0))
                    ),
                    3,
                ),
                "max_ratio": max(ratios.values()),
                "regressed_over_2x": sorted(
                    q for q, r in ratios.items() if r > 2.0
                ),
            }
    # truncation-proof copy: the driver's stdout capture has clipped
    # this line before — persist the COMPLETE object to a file, and
    # keep the stdout line itself under the observed ~2 KB capture
    # window (BENCH_r10 "parsed": null) by slimming vs_baseline to the
    # flagged subset and using compact separators.  The contract keys
    # (metric/value/unit/queries/sf) are never slimmed.
    with open(os.path.join(here, "BENCH_LOCAL.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    slim = dict(out)
    if "stage_ms" in slim:
        slim["stage_ms"] = "BENCH_LOCAL.json"  # keep stdout line small
    if "vs_baseline" in out:
        vb = dict(out["vs_baseline"])
        per_q = vb.pop("per_query_ratio")
        vb["over_1_2x"] = {q: r for q, r in sorted(per_q.items()) if r > 1.2}
        vb["per_query_detail"] = "BENCH_LOCAL.json"
        slim["vs_baseline"] = vb
    print(json.dumps(slim, separators=(",", ":")))


def _per_query_baseline() -> dict[str, float]:
    """Per-query reference timings (BASELINE.json 'queries' key if
    present) so the 2× gate is machine-checkable per query, not just
    on the catalog total."""
    q = _baseline_data().get("queries", {})
    return {k: float(v) for k, v in q.items()}


def _baseline_data() -> dict:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BASELINE.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    if len(sys.argv) >= 3 and sys.argv[1] == "--chunk":
        sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        t, c, sm = run_chunk(sys.argv[2].split(","), sf)
        print(json.dumps({"queries": t, "cold": c, "stage_ms": sm}))
    else:
        main()
