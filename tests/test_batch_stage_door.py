"""Default-suite locks on the one micro-batch stage door
(``sources/io.start_batch_stage``): a replayed batch overwrites its own
partial, a partial dir lost after a commit refuses both the restart and
every guarded read, a scorer run through the door equals the batch
scorer, and the door is the only ``foreachBatch`` in the program."""

from __future__ import annotations

import ast
import re
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from prod2vec_spark.sources.io import read_partials, start_batch_stage
from prod2vec_spark.streaming.first_presenter import read_decisions
from prod2vec_spark.streaming.pipeline import (
    StreamCorpusConfig,
    StreamingCorpusPipeline,
)

ROOT = Path(__file__).resolve().parent.parent
DOCS = "doc_id long, text string, lang string"
DELETED = (
    "start_lm_score_stream",
    "read_lm_scores",
    "start_knn_score_stream",
    "read_knn_scores",
    "start_lang_score_stream",
    "read_lang_scores",
    "start_quality_score_stream",
    "read_quality_scores",
    "start_cms_stream",
    "start_bottomk_stream",
    "start_incremental_lsh_stream",
)


def _land(spark, rows, landing, name):
    """Write ``rows`` as one parquet file ``landing/name.parquet``."""
    stage = landing.parent / f"stage_{name}"
    spark.createDataFrame(rows, DOCS).coalesce(1).write.parquet(str(stage))
    landing.mkdir(exist_ok=True)
    for f in stage.glob("*.parquet"):
        shutil.move(str(f), landing / f"{name}.parquet")
    shutil.rmtree(stage)


def _wave(lo: int, n: int) -> list[tuple[int, str, str]]:
    """``n`` docs from id ``lo``: distinct texts plus one exact copy
    and one near copy of the first, so the gate drops something."""
    rows = [
        (lo + i, " ".join(f"d{lo + i}w{j}" for j in range(20 + i)), "en")
        for i in range(n)
    ]
    first = rows[0][1].split()
    rows.append((lo + n, rows[0][1], "en"))
    rows.append((lo + n + 1, " ".join(first[:10] + ["x"] + first[11:]), "en"))
    return rows


def _pipeline(spark, tmp_path, name="w"):
    cfg = StreamCorpusConfig(
        landing_dir=str(tmp_path / "landing"),
        work_dir=str(tmp_path / name),
        token_stats=True,
    )
    return StreamingCorpusPipeline(spark, cfg)


def _batch_totals(spark, pipe):
    from prod2vec_spark.operators.text import tokens

    exact = spark.read.parquet(pipe.cfg.exact_dir)
    row = exact.agg(
        F.count(F.lit(1)).alias("d"),
        F.sum(F.size(tokens(F.col("text")))).alias("t"),
    ).first()
    return (row["d"], row["t"])


def _partials(path: str) -> list[str]:
    return sorted(p.name for p in Path(path).glob("batch_id=*"))


def _files(path: str) -> set[str]:
    return {p.name for p in Path(path).glob("batch_id=*/*.parquet")}


def test_replayed_batch_overwrites_its_partial(spark, tmp_path):
    """Dropping a stage's last commit replays that batch on restart:
    it rewrites its own ``batch_id=N`` partial, so the token totals
    and the near-dup decisions stay exactly-once."""
    _land(spark, _wave(0, 8), tmp_path / "landing", "a")
    pipe = _pipeline(spark, tmp_path)
    pipe.run()
    totals = pipe.token_stats()
    assert totals == _batch_totals(spark, pipe) and totals[0] == 9
    decisions = read_decisions(spark, pipe.cfg.decisions_dir).collect()
    files = _files(pipe.cfg.tokenstats_dir)

    for stage in ("tokenstats", "neardup"):
        commits = tmp_path / "w" / f"ckpt_{stage}" / "commits"
        for f in ("0", ".0.crc"):
            (commits / f).unlink()
    pipe.run()
    assert _files(pipe.cfg.tokenstats_dir).isdisjoint(files)  # rewritten
    assert pipe.token_stats() == totals
    assert _partials(pipe.cfg.tokenstats_dir) == ["batch_id=0"]
    assert sorted(read_decisions(spark, pipe.cfg.decisions_dir).collect()) == (
        sorted(decisions)
    )

    _land(spark, _wave(100, 5), tmp_path / "landing", "b")
    pipe.run()
    assert pipe.token_stats() == _batch_totals(spark, pipe)
    assert _partials(pipe.cfg.tokenstats_dir) == ["batch_id=0", "batch_id=1"]


def test_lost_partials_raise_on_restart_and_read(spark, tmp_path):
    """A decision or token-stats dir deleted after its stage committed
    makes the restart and every read of it raise instead of reading as
    empty (which would keep every near-duplicate and count 0 tokens);
    a fresh work dir still reads as empty."""
    _land(spark, _wave(0, 8), tmp_path / "landing", "a")
    fresh = _pipeline(spark, tmp_path, "fresh")
    assert fresh.token_stats() == (0, 0)
    assert fresh.curated().count() == 0

    pipe = _pipeline(spark, tmp_path)
    pipe.run()
    n_curated = pipe.curated().count()
    assert 0 < n_curated < 10

    shutil.rmtree(pipe.cfg.decisions_dir)
    ckpt = str(tmp_path / "w" / "ckpt_neardup")
    with pytest.raises(RuntimeError, match="holds no batch_id"):
        read_decisions(spark, pipe.cfg.decisions_dir, checkpoint=ckpt)
    with pytest.raises(RuntimeError, match="holds no batch_id"):
        pipe.curated()
    with pytest.raises(RuntimeError, match="holds no batch_id"):
        pipe.drop_ledger()
    try:
        with pytest.raises(RuntimeError, match="holds no batch_id"):
            pipe.run()
        # the queries started before the refusing door were stopped
        assert not spark.streams.active
    finally:
        for q in spark.streams.active:
            q.awaitTermination()

    shutil.rmtree(pipe.cfg.tokenstats_dir)
    with pytest.raises(RuntimeError, match="holds no batch_id"):
        pipe.token_stats()


def test_one_lost_batch_partial_raises(spark, tmp_path):
    """Losing the partial of ONE committed batch of two refuses the
    restart and every guarded read: the other batch's partial must not
    let the dir read as whole (it undercounted the token totals)."""
    pipe = _pipeline(spark, tmp_path)
    for lo, name in ((0, "a"), (100, "b")):
        _land(spark, _wave(lo, 8), tmp_path / "landing", name)
        pipe.run()
    assert _partials(pipe.cfg.tokenstats_dir) == ["batch_id=0", "batch_id=1"]
    assert pipe.token_stats() == _batch_totals(spark, pipe)

    shutil.rmtree(f"{pipe.cfg.decisions_dir}/batch_id=0")
    with pytest.raises(RuntimeError, match=r"committed batches \[0\]"):
        pipe.curated()
    shutil.rmtree(f"{pipe.cfg.tokenstats_dir}/batch_id=0")
    with pytest.raises(RuntimeError, match="holds no batch_id"):
        pipe.token_stats()
    try:
        with pytest.raises(RuntimeError, match="holds no batch_id"):
            pipe.run()
        assert not spark.streams.active
    finally:
        for q in spark.streams.active:
            q.awaitTermination()


def test_partials_read_with_their_declared_schema(spark, tmp_path):
    """A partial dir reads with the caller's schema plus ``batch_id
    int`` — the schema Spark infers for it — without a Spark job, and a
    partial that lacks a declared column raises."""
    _land(spark, _wave(0, 8), tmp_path / "landing", "a")
    pipe = _pipeline(spark, tmp_path)
    pipe.run()
    d = pipe.cfg.tokenstats_dir
    sc = spark.sparkContext
    group = f"partials-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        got = read_partials(spark, d, "n_docs long, n_tokens long")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert got.schema == spark.read.option("basePath", d).parquet(d).schema
    with pytest.raises(ValueError, match="n_words missing"):
        read_partials(spark, d, "n_docs long, n_words long")


def test_partials_schema_is_the_same_before_and_after_first_commit(spark, tmp_path):
    """A stage dir read before its first commit has the schema it has
    once a ``batch_id=N`` partial exists: ``batch_id`` is ``int`` on
    both sides, so a caller's schema never changes after the first
    batch."""
    schema = "n_docs long, n_tokens long"
    d = str(tmp_path / "partials")
    empty = read_partials(spark, d, schema)
    assert empty.count() == 0
    spark.createDataFrame([(3, 17)], schema).write.parquet(f"{d}/batch_id=0")
    committed = read_partials(spark, d, schema)
    assert [tuple(r) for r in committed.collect()] == [(3, 17, 0)]
    assert empty.schema == committed.schema
    assert dict(empty.dtypes)["batch_id"] == "int"


def test_score_docs_through_the_door_matches_batch(spark, tmp_path):
    """``score_docs`` as a door's ``per_batch`` writes exactly the
    batch scores; a no-input restart leaves them unchanged."""
    from prod2vec_spark.operators.lm import fit_lm, score_docs
    from prod2vec_spark.sources.io import read_table
    from tests.conftest import SF_SMOKE

    docs = read_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    model = fit_lm(docs.where(F.col("doc_id") % 2 == 0))
    probe = docs.where(F.col("doc_id") < 40)
    landing = tmp_path / "landing"
    _land(
        spark,
        [(r["doc_id"], r["text"], "en") for r in probe.collect()],
        landing,
        "a",
    )
    out, ckpt = str(tmp_path / "scores"), str(tmp_path / "ckpt")
    schema = (
        "doc_id long, n_pairs long, n_backoff long, avg_nll double, ppl double"
    )

    def drain():
        stream = spark.readStream.schema(DOCS).parquet(str(landing))
        start_batch_stage(
            stream, lambda b, _: (score_docs(b, model),), (out,), ckpt
        ).awaitTermination()

    def scores():
        return read_partials(spark, out, schema, ckpt).drop("batch_id")

    assert scores().count() == 0
    drain()
    want = score_docs(probe, model)
    got = scores()
    assert got.count() == 40
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    drain()
    assert sorted(scores().collect()) == sorted(got.collect())


# ------------------------------------------ the stream's stage table
LF = dict(
    lf_mode="newline",
    lf_width=7,
    lf_min_words=2,
    lf_blocklist=("spam phrase",),
    lf_require_punct=True,
    lf_drop_braces=True,
    lf_max_dropped_frac=0.5,
)


def test_stream_line_filter_matches_the_batch_stage(spark, tmp_path):
    """With all seven line-filter fields off their defaults, the
    stream's exact stage keeps the docs, and the texts, that the batch
    ``line_filter`` stage keeps."""
    from prod2vec_spark.operators.linefilters import apply_line_filter
    from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline

    rows = [
        (1, "The first line has words.\nsecond line lacks punct\nThird one ends.", "en"),
        (2, "function f() { return 1; }\nA clean sentence is here.", "en"),
        (3, "no punct one\nno punct two\nGood line at the end.", "en"),
        (4, "Short.\nThis line names a spam phrase here.\nAnother good line.", "en"),
        (5, "All good lines are here.\nYes they really are.", "en"),
        (6, "javascript is only a default blocklist word.\nIt stays.", "en"),
    ]
    _land(spark, rows, tmp_path / "landing", "a")
    cfg = StreamCorpusConfig(
        landing_dir=str(tmp_path / "landing"),
        work_dir=str(tmp_path / "w"),
        line_filter=True,
        **LF,
    )
    StreamingCorpusPipeline(spark, cfg).exact_stage()
    docs = spark.createDataFrame(rows, DOCS)
    batch = CorpusCurationPipeline(
        spark, CorpusConfig(sf_dir="unused", work_dir="unused", line_filter=True, **LF)
    ).line_filter(docs)

    def texts(df):
        return {r["doc_id"]: r["text"] for r in df.collect()}

    got = texts(spark.read.parquet(cfg.exact_dir))
    assert got == texts(batch)
    # the three knobs a four-knob stream dropped change the outcome
    four = apply_line_filter(
        docs, mode="newline", width=7, min_words=2, blocklist=("spam phrase",)
    )
    assert got != texts(four)


def test_stream_drop_ledger_partitions_two_waves(spark, tmp_path):
    """Two waves through the stream — a scan gate, exact dedup (within
    and across waves), near-dedup and a door that drops nothing:
    landing ids = curated ids ∪ ledger ids, disjoint, one ledger row
    per id, each naming a stage of the table."""
    from prod2vec_spark.streaming.pipeline import STREAM_STAGES

    wave_a = _wave(0, 8)
    wave_b = _wave(100, 5) + [
        (200, "this page says forbidden " + " ".join(f"p{j}" for j in range(20)), "en"),
        (201, wave_a[1][1], "en"),  # an exact copy of a committed doc
    ]
    cfg = StreamCorpusConfig(
        landing_dir=str(tmp_path / "landing"),
        work_dir=str(tmp_path / "w"),
        line_filter=True,
        token_stats=True,
        badwords_cats={"x": ("forbidden",)},
    )
    pipe = StreamingCorpusPipeline(spark, cfg)
    for rows, name in ((wave_a, "a"), (wave_b, "b")):
        _land(spark, rows, tmp_path / "landing", name)
        pipe.run()

    curated = {r["doc_id"] for r in pipe.curated().select("doc_id").collect()}
    ledger = {}
    for r in pipe.drop_ledger().collect():
        assert r["doc_id"] not in ledger
        ledger[r["doc_id"]] = r["dropped_at"]
    assert set(ledger) | curated == {r[0] for r in wave_a + wave_b}
    assert not set(ledger) & curated
    assert ledger[200] == "badwords_gate" and ledger[201] == "exact_dedup"
    assert {"exact_dedup", "near_dedup"} <= set(ledger.values())
    assert set(ledger.values()) <= {e.stage.name for e in STREAM_STAGES}


# ------------------------------------------------------ structure lock
def _program_files() -> list[Path]:
    return [
        *sorted((ROOT / "prod2vec_spark").rglob("*.py")),
        *sorted((ROOT / "tools").rglob("*.py")),
        ROOT / "bench.py",
    ]


def test_foreach_batch_lives_only_in_the_door():
    io = ROOT / "prod2vec_spark" / "sources" / "io.py"
    door = next(
        n
        for n in ast.walk(ast.parse(io.read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "start_batch_stage"
    )
    hits = [
        (path.relative_to(ROOT), i)
        for path in sorted((ROOT / "prod2vec_spark").rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "foreachBatch" in line
        and not (path == io and door.lineno <= i <= door.end_lineno)
    ]
    assert not hits


def test_stream_twins_are_gone():
    pattern = re.compile(r"\b(" + "|".join(DELETED) + r")\b")
    hits = [
        f"{path.relative_to(ROOT)}:{i}: {m.group(1)}"
        for path in _program_files()
        for i, line in enumerate(path.read_text().splitlines(), 1)
        for m in pattern.finditer(line)
    ]
    assert not hits
