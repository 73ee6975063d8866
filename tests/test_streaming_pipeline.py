"""Streaming end-to-end curation smoke (VERDICT r5 stretch #7): the
two-stage dedup → sessionize streaming pipeline drained, crashed
mid-pipeline, restarted, and fed replayed input — with exactly-once
invariants asserted against batch ground truth at every step.
"""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # e2e/replay file: driver-budget suite skips it (conftest hook)
from pyspark.sql import Window
from pyspark.sql import functions as F

from prod2vec_spark.sources.io import read_table
from prod2vec_spark.streaming.pipeline import (
    StreamCurationConfig,
    StreamingCurationPipeline,
)
from tests.conftest import SF_SMOKE

GAP_MIN = 30


def _batch_sessions(events):
    """Batch ground truth with session_window semantics: session =
    maximal run with < gap between consecutive events; start = first
    event, end = last event + gap (Spark's session_window end)."""
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_ms = GAP_MIN * 60 * 1000
    # ts may arrive as TIMESTAMP_NTZ; unix_millis needs TIMESTAMP and
    # the session is pinned UTC so the cast is exact (queries_ext.py)
    ms = lambda c: F.unix_millis(c.cast("timestamp"))  # noqa: E731
    marked = events.select("user_id", "ts").withColumn(
        "new_s",
        (ms(F.col("ts")) - ms(F.lag("ts").over(w)) >= gap_ms)
        .cast("int")
        .cast("long"),
    )
    sess = marked.withColumn(
        "sid", F.sum(F.coalesce("new_s", F.lit(0))).over(w)
    )
    return sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        (F.max("ts") + F.expr(f"INTERVAL {GAP_MIN} MINUTES")).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("sid")


@pytest.fixture(scope="module")
def split_events(spark, tmp_path_factory):
    """Time-split the events fixture: batch A = earliest 60% of rows,
    batch B = the remainder PLUS a replay of A's latest rows (the
    duplicate-delivery case a streaming dedup exists for)."""
    d = tmp_path_factory.mktemp("landing_split")
    ev = read_table(spark, SF_SMOKE, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    cut = ev.select(F.percentile(ms, F.lit(0.6)).alias("p")).first()["p"]
    a = ev.where(ms <= cut)
    b = ev.where(ms > cut)
    replay = a.orderBy(F.desc("ts")).limit(20)
    a.coalesce(1).write.mode("overwrite").parquet(str(d / "batch_a"))
    b.unionByName(replay).coalesce(1).write.mode("overwrite").parquet(
        str(d / "batch_b")
    )
    return d, ev


def test_streaming_curation_exactly_once_across_restarts(
    spark, tmp_path, split_events
):
    import shutil

    staged, ev_all = split_events
    landing = tmp_path / "landing"
    landing.mkdir()
    work = str(tmp_path / "work")
    cfg = StreamCurationConfig(landing_dir=str(landing), work_dir=work)
    pipe = StreamingCurationPipeline(spark, cfg)

    def land(batch_dir):
        for i, f in enumerate(sorted(batch_dir.glob("*.parquet"))):
            shutil.copy(f, landing / f"{batch_dir.name}-{i}.parquet")

    # ---- drain 1: batch A only --------------------------------------
    land(staged / "batch_a")
    pipe.run()
    dedup1 = spark.read.parquet(cfg.deduped_dir)
    n_a = dedup1.count()
    assert n_a == dedup1.select("event_id").distinct().count()

    # ---- mid-pipeline crash simulation: batch B lands, stage 1 runs,
    # the process "dies" before stage 2 ------------------------------
    land(staged / "batch_b")
    pipe.dedup_stage()

    dedup2 = spark.read.parquet(cfg.deduped_dir)
    # exactly-once + cross-restart dedup state: the replayed A rows
    # must NOT reappear — total committed rows == distinct event ids
    # of everything landed
    assert dedup2.count() == ev_all.select("event_id").distinct().count()
    assert (
        dedup2.groupBy("event_id").count().filter(F.col("count") > 1).count()
        == 0
    )

    # ---- restart: run() resumes stage 1 (nothing new) and catches
    # stage 2 up over B ----------------------------------------------
    sessions = pipe.run()
    assert spark.read.parquet(cfg.deduped_dir).count() == dedup2.count()

    # ---- session output vs batch ground truth -----------------------
    want = _batch_sessions(ev_all)
    got = sessions.select("user_id", "session_start", "session_end", "n_events")

    got_keys = {tuple(r) for r in got.collect()}
    want_keys = {tuple(r) for r in want.collect()}
    # append mode emits only watermark-finalized sessions: everything
    # emitted must be exactly a batch session...
    assert got_keys <= want_keys
    assert len(got_keys) > 0
    # ...and anything withheld must be a trailing session the final
    # watermark (max ts - session_watermark) hadn't passed yet
    max_ts = ev_all.agg(F.max("ts")).first()[0]
    import datetime

    horizon = max_ts - datetime.timedelta(minutes=1)
    for row in want_keys - got_keys:
        session_end = row[2]
        assert session_end >= horizon, (
            f"finalized session missing from stream output: {row}"
        )

    # ---- no-new-input restart writes nothing -------------------------
    pipe.run()
    assert sessions.count() == spark.read.parquet(cfg.sessions_dir).count()


def test_pipeline_runs_on_initially_empty_landing_dir(spark, tmp_path):
    """An initially-empty landing directory is a normal streaming
    bootstrap state: both stages must start, drain nothing, and the
    final read must return a typed EMPTY frame — not a
    schema-inference failure (code-review r6 finding)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    cfg = StreamCurationConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        ts_is_nanos=False,
    )
    sessions = StreamingCurationPipeline(spark, cfg).run()
    assert sessions.count() == 0
    assert set(sessions.columns) == {
        "user_id", "session_start", "session_end", "n_events",
    }


def test_streaming_corpus_lm_gate_matches_batch_across_restart(
    spark, tmp_path
):
    """Round-14 (VERDICT r13 ask #6): the streaming corpus pipeline's
    order-3 KN LM gate — a batch-trained model + frozen threshold — keeps
    EXACTLY the docs the batch gate semantics keep (ppl <= thr via
    semi join, so unscored/too-short docs drop on both sides), stays
    correct across a restart with a second landing wave, and the drop
    ledger attributes LM drops to 'lm_gate'."""
    import shutil

    from prod2vec_spark.operators.lm import (
        KNnModel,
        fit_knn,
        score_docs_knn,
    )
    from prod2vec_spark.streaming.pipeline import (
        StreamCorpusConfig,
        StreamingCorpusPipeline,
    )

    # synthetic dedup-proof corpus (unique texts, negligible shingle
    # overlap) so exact/near dedup never fires and curated() isolates
    # the LM gate's verdicts
    import hashlib

    def words(i):
        return " ".join(
            f"w{int(hashlib.md5(f'{i}|{j}'.encode()).hexdigest()[:6], 16) % 30}"
            for j in range(20)
        )

    rows = [(i, words(i), "en") for i in range(60)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    # one doc too short for trigrams: must drop via the semi join
    short = spark.createDataFrame(
        [(990, "tiny doc", "en")], "doc_id long, text string, lang string"
    )
    docs = docs.unionByName(short)

    # batch-trained model (the vetted-archive fit) persisted to disk
    model = fit_knn(docs.where(F.col("doc_id") % 2 == 0), order=3)
    model_dir = str(tmp_path / "kn3_model")
    model.save(model_dir)
    model = KNnModel.load(spark, model_dir, order=3)

    # the frozen threshold = the batch percentile computed offline
    scored = score_docs_knn(docs, model)
    thr = scored.agg(
        F.percentile("ppl", F.lit(0.8)).alias("t")
    ).first()["t"]
    batch_keep = {
        r["doc_id"]
        for r in scored.where(F.col("ppl") <= F.lit(thr)).collect()
    }
    assert 990 not in batch_keep  # too short: no score row

    wave_a = docs.where(F.col("doc_id") < 30).unionByName(short)
    wave_b = docs.where((F.col("doc_id") >= 30) & (F.col("doc_id") < 990))
    landing = tmp_path / "landing"
    landing.mkdir()
    wave_a.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "wa"))
    wave_b.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "wb"))
    shutil.copy(
        sorted((tmp_path / "wa").glob("*.parquet"))[0], landing / "a.parquet"
    )

    cfg = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        lm_gate=True,
        lm_model_dir=model_dir,
        lm_smoothing="kneser_ney",
        lm_max_ppl=float(thr),
    )
    cur_a = StreamingCorpusPipeline(spark, cfg).run()
    got_a = {r["doc_id"] for r in cur_a.select("doc_id").collect()}
    want_a = batch_keep & ({r["doc_id"] for r in wave_a.collect()})
    assert got_a == want_a

    # restart with wave B landed: a NEW pipeline object resumes from
    # the checkpoints; the final curated set = batch keep over BOTH
    shutil.copy(
        sorted((tmp_path / "wb").glob("*.parquet"))[0], landing / "b.parquet"
    )
    pipe2 = StreamingCorpusPipeline(spark, cfg)
    cur_all = pipe2.run()
    got = {r["doc_id"] for r in cur_all.select("doc_id").collect()}
    assert got == batch_keep
    ledger = {
        r["doc_id"]: r["dropped_at"] for r in pipe2.drop_ledger().collect()
    }
    all_ids = {r["doc_id"] for r in docs.collect()}
    assert set(ledger) == all_ids - batch_keep
    assert set(ledger.values()) == {"lm_gate"}
    assert ledger[990] == "lm_gate"


def test_streaming_token_stats_match_batch_counter(spark, tmp_path):
    """Round-14 stretch (VERDICT r13 ask #9): the streaming token
    stats thread a batch-trained tokenizer's counter through
    idempotent per-batch partials — totals equal the batch counter
    applied to the same committed docs, under BOTH the whitespace
    default and a trained WordPiece counter; a no-new-input drain
    changes nothing (exactly-once), and a second wave extends."""
    import shutil

    from prod2vec_spark.operators.text import tokens as ws_tokens
    from prod2vec_spark.operators.wordpiece import (
        train_wordpiece,
        wordpiece_counter,
    )
    from prod2vec_spark.streaming.pipeline import (
        StreamCorpusConfig,
        StreamingCorpusPipeline,
    )

    docs = (
        read_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "lang")
        .where(F.col("doc_id") < 40)
    )
    vocab = train_wordpiece(docs, n_merges=20)

    wave_a = docs.where(F.col("doc_id") < 20)
    wave_b = docs.where(F.col("doc_id") >= 20)
    landing = tmp_path / "landing"
    landing.mkdir()
    wave_a.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "wa"))
    wave_b.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "wb"))
    shutil.copy(
        sorted((tmp_path / "wa").glob("*.parquet"))[0], landing / "a.parquet"
    )

    cfg = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        token_stats=True,
        stats_count_fn=wordpiece_counter(vocab),
    )
    pipe = StreamingCorpusPipeline(spark, cfg)
    pipe.run()

    def batch_totals(df):
        r = df.select(
            wordpiece_counter(vocab)(F.col("text")).alias("n")
        ).agg(F.count(F.lit(1)), F.sum("n")).first()
        return (r[0], r[1])

    exact = spark.read.parquet(cfg.exact_dir)
    got_a = pipe.token_stats()
    assert got_a == batch_totals(exact) and got_a[0] > 0

    pipe.token_stats_stage()  # no new input: exactly-once
    assert pipe.token_stats() == got_a

    shutil.copy(
        sorted((tmp_path / "wb").glob("*.parquet"))[0], landing / "b.parquet"
    )
    pipe2 = StreamingCorpusPipeline(spark, cfg)
    pipe2.run()
    exact2 = spark.read.parquet(cfg.exact_dir)
    assert pipe2.token_stats() == batch_totals(exact2)
    assert pipe2.token_stats()[0] > got_a[0]

    # the whitespace default: same machinery, F.size(tokens) counts
    cfg_ws = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work_ws"),
        token_stats=True,
    )
    pipe_ws = StreamingCorpusPipeline(spark, cfg_ws)
    pipe_ws.run()
    exact_ws = spark.read.parquet(cfg_ws.exact_dir)
    want = exact_ws.select(
        F.size(ws_tokens(F.col("text"))).cast("long").alias("n")
    ).agg(F.count(F.lit(1)), F.sum("n")).first()
    assert pipe_ws.token_stats() == (want[0], want[1])


def test_streaming_corpus_lm_gate_order_n(spark, tmp_path):
    """The streaming LM gate under the generic ORDER-N scorer
    (kneser_ney, order 4, per-level modified discounts): curated()
    equals the batch keep set under the same persisted model and
    frozen threshold; ledger attributes 'lm_gate'."""
    import hashlib
    import shutil

    from prod2vec_spark.operators.lm import KNnModel, fit_knn, score_docs_knn
    from prod2vec_spark.streaming.pipeline import (
        StreamCorpusConfig,
        StreamingCorpusPipeline,
    )

    def words(i):
        return " ".join(
            f"v{int(hashlib.md5(f'n{i}|{j}'.encode()).hexdigest()[:6], 16) % 25}"
            for j in range(18)
        )

    docs = spark.createDataFrame(
        [(i, words(i), "en") for i in range(40)],
        "doc_id long, text string, lang string",
    )
    model = fit_knn(docs.where(F.col("doc_id") % 2 == 0), order=4)
    model_dir = str(tmp_path / "kn4_model")
    model.save(model_dir)
    model = KNnModel.load(spark, model_dir, order=4)
    D = {k: (0.4, 0.9, 1.3) for k in (2, 3, 4)}

    scored = score_docs_knn(docs, model, discounts=D)
    thr = scored.agg(F.percentile("ppl", F.lit(0.75)).alias("t")).first()["t"]
    batch_keep = {
        r["doc_id"]
        for r in scored.where(F.col("ppl") <= F.lit(thr)).collect()
    }

    landing = tmp_path / "landing"
    landing.mkdir()
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w0"))
    shutil.copy(
        sorted((tmp_path / "w0").glob("*.parquet"))[0], landing / "a.parquet"
    )
    cfg = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        lm_gate=True,
        lm_model_dir=model_dir,
        lm_smoothing="kneser_ney",
        lm_discounts_n=D,
        lm_max_ppl=float(thr),
    )
    pipe = StreamingCorpusPipeline(spark, cfg)
    cur = pipe.run()
    got = {r["doc_id"] for r in cur.select("doc_id").collect()}
    assert got == batch_keep and got
    ledger = {
        r["doc_id"]: r["dropped_at"] for r in pipe.drop_ledger().collect()
    }
    assert set(ledger.values()) <= {"lm_gate"}
    assert set(ledger) == {r["doc_id"] for r in docs.collect()} - batch_keep


def test_streaming_lm_gate_runs_before_near_dedup(spark, tmp_path):
    """Code-review r14: when a near-dup cluster's would-be first
    presenter fails the LM gate, the surviving member must be
    re-elected — the batch DAG's lm_gate → near_dedup order.  (Under
    the pre-fix composition the gate subtracted AFTER pre-gate
    decisions: A dropped at the gate AND B as A's near-dup loser, the
    whole cluster vanishing.)"""
    import shutil

    from prod2vec_spark.operators import dedup as DD
    from prod2vec_spark.operators.lm import KNnModel, fit_knn, score_docs_knn
    from prod2vec_spark.streaming.pipeline import (
        StreamCorpusConfig,
        StreamingCorpusPipeline,
    )

    prefix = " ".join(f"u{i}" for i in range(60))
    a_text = prefix + " " + " ".join(f"zzq0x{j}" for j in range(4))  # OOV tail
    b_text = prefix + " p1 p2 p3 p4"  # in-vocab tail
    # precondition: the pair genuinely band-collides (J ≈ 0.85 over
    # 3-shingles — deterministic given the fixed strings)
    bands = DD.minhash_bands(
        spark.createDataFrame(
            [(1, a_text), (2, b_text)], "doc_id long, text string"
        )
    ).collect()
    sig = {}
    collide = False
    for r in bands:
        key = (r["band_id"], r["band_sig"])
        collide = collide or (key in sig and sig[key] != r["doc_id"])
        sig[key] = r["doc_id"]
    assert collide, "fixture pair must be an LSH candidate"

    # model trained on the prefix + fluent vocabulary; A's OOV tail
    # scores strictly worse
    train = spark.createDataFrame(
        [(100 + i, prefix + " p1 p2 p3 p4") for i in range(3)],
        "doc_id long, text string",
    )
    model = fit_knn(train, order=3)
    model_dir = str(tmp_path / "m")
    model.save(model_dir)
    model = KNnModel.load(spark, model_dir, order=3)
    both = spark.createDataFrame(
        [(1, a_text, "en"), (2, b_text, "en")],
        "doc_id long, text string, lang string",
    )
    ppl = {
        r["doc_id"]: r["ppl"]
        for r in score_docs_knn(both.drop("lang"), model).collect()
    }
    assert ppl[1] > ppl[2]
    thr = (ppl[1] + ppl[2]) / 2

    landing = tmp_path / "landing"
    landing.mkdir()
    both.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "w"))
    shutil.copy(
        sorted((tmp_path / "w").glob("*.parquet"))[0], landing / "a.parquet"
    )
    cfg = StreamCorpusConfig(
        landing_dir=str(landing),
        work_dir=str(tmp_path / "work"),
        lm_gate=True,
        lm_model_dir=model_dir,
        lm_smoothing="kneser_ney",
        lm_max_ppl=float(thr),
    )
    pipe = StreamingCorpusPipeline(spark, cfg)
    cur = pipe.run()
    kept = {r["doc_id"] for r in cur.select("doc_id").collect()}
    assert kept == {2}, kept  # B re-elected, not vanished
    ledger = {
        r["doc_id"]: r["dropped_at"] for r in pipe.drop_ledger().collect()
    }
    assert ledger == {1: "lm_gate"}
