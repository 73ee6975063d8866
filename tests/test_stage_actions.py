"""Default-suite locks on the Spark actions behind each stage hand-off.

* ``sources/io.checkpoint`` reads back with the schema a parquet scan
  would infer, and opening that read-back runs no job;
* the curation report's counts and aggregates, observed on the
  checkpoint writes, equal a fresh count of each checkpoint;
* connected components keeps its labels and rounds, with one SQL
  execution per round;
* the SQL-execution totals of ``CorpusCurationPipeline.run()`` and
  ``Prod2VecPipeline.run()`` are pinned, and no job runs outside a SQL
  execution except MLlib's own RDD jobs (input tables are read with
  their declared schemas, so opening one runs no footer job).

Executions and their jobs are read from Spark's SQL status store after
the listener bus drains; jobs come from ``statusTracker`` by job group.
"""

from __future__ import annotations

import pytest
from pyspark.ml.linalg import Vectors
from pyspark.sql import functions as F

from prod2vec_spark.operators import text as TX
from prod2vec_spark.operators.graph import (
    connected_components_star,
    connected_components_with_rounds,
)
from prod2vec_spark.pipeline import PipelineConfig, Prod2VecPipeline
from prod2vec_spark.pipeline_llm import CorpusConfig, CorpusCurationPipeline
from prod2vec_spark.sources.io import checkpoint
from tests.conftest import SF_SMOKE


class Ledger:
    """SQL executions and jobs of a ``with`` block: ``executions`` (the
    count), ``jobs`` (all jobs the block ran) and ``outside`` (jobs that
    ran in no SQL execution)."""

    def __init__(self, spark, group: str):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.group = group

    def _drain(self):
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60000)

    def _since(self, first_id: int) -> list:
        # the store keeps the newest executions in id order; walk back
        # from the tail until an id at or below ``first_id``
        out, off = [], self.store.executionsCount()
        while off > 0:
            off = max(0, off - 64)
            page = self.store.executionsList(off, 64)
            rows = [page.apply(i) for i in range(page.size())]
            new = [e for e in rows if e.executionId() > first_id]
            out = new + out
            if len(new) < len(rows):
                break
        return out

    def __enter__(self):
        self._drain()
        n = self.store.executionsCount()
        self.first = (
            self.store.executionsList(n - 1, 1).head().executionId() if n else -1
        )
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._drain()
        execs = self._since(self.first)
        self.executions = len(execs)
        self.jobs = len(self.sc.statusTracker().getJobIdsForGroup(self.group))
        self.outside = self.jobs - sum(e.jobs().size() for e in execs)


# -- checkpoint(): the read-back schema, no job to open it ---------------
def _written(spark, tmp_path, name, df, partition_by=None):
    path = str(tmp_path / name)
    with Ledger(spark, f"ckpt-{name}-{tmp_path.name}") as led:
        out, m = checkpoint(
            df, path, partition_by, observe=[F.count(F.lit(1)).alias("n")]
        )
    # the write is the one SQL execution; opening the read-back and
    # the observed count add none, and no job runs outside it
    assert led.executions == 1 and led.outside == 0
    assert m["n"] == df.count()
    return path, out


@pytest.mark.parametrize("partition_by", [None, ["lang"]])
def test_checkpoint_reads_back_inferred_schema_without_a_job(
    spark, tmp_path, partition_by
):
    df = spark.createDataFrame(
        [(1, "a", "en", [1, 2]), (2, None, "de", []), (3, "c", "en", None)],
        "id long not null, t string, lang string, xs array<int>",
    ).withColumn("one", F.lit(1))  # non-nullable, as written
    path, out = _written(spark, tmp_path, "plain", df, partition_by)
    assert out.schema == spark.read.parquet(path).schema
    if partition_by:
        assert out.columns[-1] == "lang"
    key = lambda r: r["id"]  # noqa: E731
    assert sorted(out.collect(), key=key) == sorted(
        spark.read.parquet(path).collect(), key=key
    )


def test_checkpoint_keeps_array_and_vector_columns(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, Vectors.dense([1.0, 2.0]), [0.5]), (2, Vectors.dense([0.0, 3.0]), [])],
        ["id", "vec", "w"],
    ).withColumn("w", F.col("w").cast("array<float>"))
    path, out = _written(spark, tmp_path, "vec", df)
    assert out.schema == spark.read.parquet(path).schema
    assert {r["id"]: r["vec"] for r in out.collect()} == {
        1: Vectors.dense([1.0, 2.0]),
        2: Vectors.dense([0.0, 3.0]),
    }


def test_checkpoint_empty_partitioned_write(spark, tmp_path):
    """No row, so no partition directory and no data file: a plain
    ``spark.read.parquet`` cannot infer a schema, the read-back still
    has the written one (partition column last) and is empty."""
    df = spark.createDataFrame([], "id long, lang string, t string")
    path, out = _written(spark, tmp_path, "empty", df, ["lang"])
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        spark.read.parquet(path).schema
    assert out.columns == ["id", "t", "lang"]
    assert out.count() == 0


# -- curation report == fresh counts of the checkpoints -------------------
@pytest.fixture(scope="module")
def default_curation(spark, tmp_path_factory):
    cfg = CorpusConfig(
        sf_dir=SF_SMOKE, work_dir=str(tmp_path_factory.mktemp("cur_default"))
    )
    with Ledger(spark, "curation-default") as led:
        report = CorpusCurationPipeline(spark, cfg).run()
    return cfg, {r["stage"]: r["n"] for r in report.collect()}, led


def _assert_report_matches_checkpoints(spark, cfg, by_stage):
    wd = cfg.work_dir
    fresh = lambda name: spark.read.parquet(f"{wd}/{name}")  # noqa: E731
    final = fresh("final_split" if cfg.holdout_split else "decontaminated")
    budget = final.agg(
        F.count(F.lit(1)).alias("final"),
        F.sum(F.size(TX.tokens(F.col("text")))).alias("final_ws_tokens"),
        F.sum(TX.bpe_ish_token_count(F.col("text"))).alias("final_bpe_tokens"),
    ).first()
    chunks = fresh("chunks").agg(
        F.count(F.lit(1)).alias("final_chunks"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("final_chunk_tokens"),
    ).first()
    want = {
        "input": spark.read.parquet(f"{SF_SMOKE}/documents.parquet").count(),
        "after_exact_dedup": fresh("exact_deduped").count(),
        "after_quality_filter": fresh(
            "lm_kept" if cfg.lm_gate else "quality_kept"
        ).count(),
        "after_near_dedup": fresh(
            "semantic_deduped" if cfg.semantic_dedup else "curated"
        ).count(),
        **budget.asDict(),
        **chunks.asDict(),
    }
    if cfg.holdout_split:
        want.update(
            (f"final_{r['split']}", r["n"])
            for r in final.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
        )
    got = {k: v for k, v in by_stage.items() if not k.startswith("t_ms_")}
    assert got == want


def test_curation_report_equals_fresh_checkpoint_counts(spark, default_curation):
    cfg, by_stage, _ = default_curation
    _assert_report_matches_checkpoints(spark, cfg, by_stage)
    # the input stage keeps its own count and wall-time row
    assert by_stage["t_ms_input"] > 0


def test_curation_report_equals_fresh_counts_with_optional_stages(spark, tmp_path):
    cfg = CorpusConfig(
        sf_dir=SF_SMOKE,
        work_dir=str(tmp_path / "cur_opt"),
        holdout_split=True,
        lm_gate=True,
        semantic_dedup=True,
    )
    report = CorpusCurationPipeline(spark, cfg).run()
    by_stage = {r["stage"]: r["n"] for r in report.collect()}
    assert {"final_train", "t_ms_lm_gate", "t_ms_semantic_dedup"} <= set(by_stage)
    _assert_report_matches_checkpoints(spark, cfg, by_stage)


# -- connected components: one SQL execution per round --------------------
def _oracle_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


# a 10-node chain (diameter 9), a triangle, a pair and a self-loop
CC_EDGES = (
    [(i, i + 1) for i in range(9)] + [(20, 21), (21, 22), (22, 20), (30, 31), (40, 40)]
)


@pytest.mark.parametrize(
    "cc, rounds, setup",
    # setup: the one SQL execution outside the rounds, the edge-list break
    [(connected_components_with_rounds, 10, 1), (connected_components_star, 5, 1)],
    ids=["propagation", "star"],
)
@pytest.mark.parametrize("reliable", [False, True], ids=["local", "reliable"])
def test_cc_labels_rounds_and_one_execution_per_round(
    spark, tmp_path, cc, rounds, setup, reliable
):
    edges = spark.createDataFrame(CC_EDGES, "src long, dst long")
    ckpt = str(tmp_path / "ckpt") if reliable else None
    with Ledger(spark, f"cc-{tmp_path.name}") as led:
        labels, got_rounds = cc(edges, checkpoint_dir=ckpt)
    assert got_rounds == rounds
    assert led.executions == rounds + setup
    assert {r["node"]: r["comp"] for r in labels.collect()} == _oracle_components(
        CC_EDGES
    )


# -- the action budget of the two pipelines --------------------------------
def test_curation_run_action_budget(default_curation):
    """15 SQL executions: the gates, the input count, ten checkpoint
    writes (exact_deduped, quality_gated, quality_thr, quality_kept,
    bands, near_dup_clusters, curated, decontaminated, chunks, the
    report), the CC edge-list break and one per CC round (2 here).  No
    job runs outside a SQL execution: ``documents`` is read with its
    declared schema."""
    _, _, led = default_curation
    assert (led.executions, led.outside) == (15, 0)


def test_prod2vec_run_action_budget(spark, tmp_path):
    """11 SQL executions.  Jobs outside a SQL execution: MLlib's own 3
    RDD jobs to fit and save the model; the input tables (read with
    their declared schemas) and every stage read-back add none."""
    cfg = PipelineConfig(sf_dir=SF_SMOKE, work_dir=str(tmp_path / "p2v"))
    with Ledger(spark, f"p2v-{tmp_path.name}") as led:
        Prod2VecPipeline(spark, cfg).run()
    assert (led.executions, led.outside) == (11, 3)
