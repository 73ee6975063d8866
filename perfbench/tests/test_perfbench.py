"""Tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
from metrics import END_TO_END, per_layer_specs  # noqa: E402
from tracing import fold_event_log, fold_progress, parse_key, span_key  # noqa: E402
from worker import MIN_WARM, run_loop  # noqa: E402

T0 = 1_700_000_000.0  # span clock, epoch seconds


def _job(job, stages, t, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job, "Stage IDs": stages,
                       "Submission Time": int(t * 1000), "Properties": props})


def _task(stage, cpu_ns=0, gc_ms=0, shuffle=0, spill=0, out=0):
    return json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms, "Memory Bytes Spilled": spill,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        "Output Metrics": {"Bytes Written": out}}})


MB = 1024 * 1024
SPANS = [("pipeline.preprocess@1", T0, T0 + 2), ("streaming.drain@1", T0 + 3, T0 + 5)]


def test_fold_event_log_hand_written():
    lines = [
        json.dumps({"Event": "SparkListenerApplicationStart"}),
        _job(0, [0, 1], T0 + 0.5, group="pipeline.preprocess@1"),
        _task(0, cpu_ns=2_000_000_000, gc_ms=500, shuffle=MB),
        _task(1, cpu_ns=1_000_000_000, spill=2 * MB, out=3 * MB),
        # a streaming job carries the query's run id: attributed by time
        _job(1, [2], T0 + 4, group="5b1f0c3e-query-run-id"),
        _task(2, cpu_ns=500_000_000, out=MB),
        # a later job that reuses stage 0 does not move it
        _job(2, [0, 3], T0 + 4.5),
        _task(3, gc_ms=250),
        # outside every span: not attributed
        _job(3, [4], T0 + 10),
        _task(4, cpu_ns=9_000_000_000),
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Me',  # half-written tail
    ]
    got = fold_event_log(lines, SPANS)
    assert set(got) == {"pipeline.preprocess@1", "streaming.drain@1"}
    pre = got["pipeline.preprocess@1"]
    assert pre["jobs"] == 1
    assert pre["task_cpu_s"] == pytest.approx(3.0)
    assert pre["gc_s"] == pytest.approx(0.5)
    assert pre["shuffle_write_mb"] == pytest.approx(1.0)
    assert pre["spill_mb"] == pytest.approx(2.0)
    assert pre["output_mb"] == pytest.approx(3.0)
    drain = got["streaming.drain@1"]
    assert drain["jobs"] == 2
    assert drain["task_cpu_s"] == pytest.approx(0.5)
    assert drain["gc_s"] == pytest.approx(0.25)
    assert drain["output_mb"] == pytest.approx(1.0)


def test_fold_progress_sums_per_drain_and_keeps_last_state():
    rows = [
        ("q1", 0, T0 + 3.1, {"addBatch": 100, "walCommit": 10, "commitOffsets": 5, "queryPlanning": 7}, 10, MB),
        ("q1", 1, T0 + 3.5, {"addBatch": 50, "walCommit": 10}, 12, 2 * MB),
        ("q2", 4, T0 + 3.2, {"addBatch": 20}, 3, MB),
        ("q1", 2, T0 + 9.0, {"addBatch": 999}, 99, 9 * MB),  # outside every span
    ]
    got = fold_progress(rows, SPANS)
    assert list(got) == ["streaming.drain@1"]
    d = got["streaming.drain@1"]
    assert d["triggers"] == 3
    assert d["add_batch_ms"] == 170
    assert d["wal_commit_ms"] == 20
    assert d["commit_offsets_ms"] == 5
    assert d["query_planning_ms"] == 7
    assert d["state_rows"] == 15  # q1's last batch (12) + q2's (3)
    assert d["state_mem_mb"] == pytest.approx(3.0)


def test_span_keys_round_trip():
    assert parse_key(span_key("queries.build", 3, "dedup_clusters")) == ("queries.build", "dedup_clusters", 3)
    assert parse_key(span_key("ml.train_or_tune", 0)) == ("ml.train_or_tune", None, 0)
    assert parse_key("5b1f0c3e-query-run-id") is None


def _ids(path, col):
    return pd.read_parquet(path)[col].tolist()


def test_generator_is_deterministic(tmp_path):
    a = inputs.make_inputs("pipelines", str(tmp_path / "a"), 3)
    b = inputs.make_inputs("pipelines", str(tmp_path / "b"), 3)
    c = inputs.make_inputs("pipelines", str(tmp_path / "c"), 4)
    li = [_ids(os.path.join(x["train"]["sf_dir"], "lineitem.parquet"), "l_orderkey") for x in (a, b, c)]
    docs = [_ids(os.path.join(x["curation"]["sf_dir"], "documents.parquet"), "doc_id") for x in (a, b, c)]
    waves = [[w["ids"] for w in x["stream"]["waves"]] for x in (a, b, c)]
    assert li[0] == li[1] and docs[0] == docs[1] and waves[0] == waves[1]
    assert li[0] != li[2] and docs[0] != docs[2] and waves[0] != waves[2]
    # ~90% samples; waves partition every document exactly once
    n_docs = len(_ids(os.path.join(inputs.DATA_DIR, "documents.parquet"), "doc_id"))
    assert 0.8 * n_docs < len(docs[0]) < n_docs
    assert sorted(i for w in waves[0] for i in w) == sorted(_ids(
        os.path.join(inputs.DATA_DIR, "documents.parquet"), "doc_id"))
    assert inputs.catalog_order(["a", "b", "c", "d"], 3) == inputs.catalog_order(["a", "b", "c", "d"], 3)


def _neighbors(rank_of_last=10, cosine=0.5):
    rows = [{"query_id": q, "neighbor_id": 100 + r, "rank": r, "cosine_sim": cosine}
            for q in (1, 2) for r in range(1, 11)]
    rows[-1]["rank"] = rank_of_last
    return rows


class FakeTrain:
    """Passes return neighbor rows; the pass listed in ``bad`` returns a
    wrong one, the pass listed in ``boom`` raises."""

    ops_per_pass = 1
    max_passes = 4

    def __init__(self, bad=(), boom=()):
        self.bad, self.boom = bad, boom

    def before_pass(self, i):
        pass

    def run_pass(self, i):
        if i in self.boom:
            raise RuntimeError("injected failure")
        return _neighbors(rank_of_last=11) if i in self.bad else _neighbors()

    def check(self, i, rows):
        checks.check_neighbors(rows, set(range(101, 111)), {1, 2}, probes=2, top_k=10)
        return 0

    def finish(self, rows):
        return 0


def test_loop_stops_after_min_warm_passes_once_seconds_are_spent():
    times, attempted, failed, _ = run_loop(FakeTrain(), seconds=0, log=lambda m: None)
    assert (len(times), attempted, failed) == (1 + MIN_WARM, 1 + MIN_WARM, 0)


def test_correct_output_passes():
    times, attempted, failed, _ = run_loop(FakeTrain(), seconds=1e9, log=lambda m: None)
    assert (len(times), attempted, failed) == (4, 4, 0)


def test_injected_wrong_output_counts_as_failed_operation():
    logged = []
    times, attempted, failed, _ = run_loop(FakeTrain(bad={1}, boom={2}), seconds=1e9, log=logged.append)
    assert (len(times), attempted, failed) == (4, 4, 2)
    assert any("ranks" in m for m in logged) and any("injected failure" in m for m in logged)


@pytest.mark.parametrize("fn, args", [
    (checks.check_neighbors, (_neighbors(cosine=1.5), set(range(101, 111)), {1, 2}, 2, 10)),
    (checks.check_neighbors, (_neighbors(), set(range(101, 110)), {1, 2}, 2, 10)),
    (checks.check_curation, ({"input": 10, "after_exact_dedup": 9, "after_quality_filter": 9,
                              "after_near_dedup": 10, "final": 8}, 10)),
    (checks.check_curation, ({"input": 10, "after_exact_dedup": 9, "after_quality_filter": 8,
                              "after_near_dedup": 7, "final": 6}, 10, {"final": 5})),
    (checks.check_stream_drain, (12, 13, 40)),
    (checks.check_stream_final, ([1, 2, 2], {1, 2}, 3)),
    (checks.check_stream_final, ([1, 2], {1, 2}, 3)),
    (checks.compare_frames, (pd.DataFrame({"a": [1, 2]}), pd.DataFrame({"a": [1, 3]}))),
    (checks.compare_frames, (pd.DataFrame({"a": [1, 2]}), pd.DataFrame({"b": [1, 2]}))),
])
def test_checks_reject_wrong_outputs(fn, args):
    with pytest.raises(checks.CheckError):
        fn(*args)


def test_checks_accept_right_outputs():
    checks.check_curation({"input": 10, "after_exact_dedup": 9, "after_quality_filter": 8,
                           "after_near_dedup": 7, "final": 6}, 10, {"final": 6})
    checks.check_stream_final([2, 1], {1, 2, 3}, 2)
    checks.compare_frames(pd.DataFrame({"a": [2, 1], "b": ["y", "x"]}),
                          pd.DataFrame({"b": ["x", "y"], "a": [1, 2]}))


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == per_layer_specs()
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] <= setup["bound"] <= 0.25 for m in bench["end_to_end"])
