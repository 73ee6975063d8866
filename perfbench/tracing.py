"""Traced-mode instrumentation, all from outside the program.

* ``Tracer.span`` times a call into a module's public function and runs
  it under its own Spark job group, ``<layer>.<call>[/<entry>]@<pass>``.
* ``fold_event_log`` folds the session's own event log (uncompressed,
  non-rolling) into per-span job counts and executor task metrics.
  Jobs carry the span's job group; jobs that run on Spark's streaming
  threads carry the query's run id instead and are attributed to the
  span whose wall-clock window holds their submission time.
* ``ProgressRecorder`` is a ``StreamingQueryListener`` that keeps every
  ``StreamingQueryProgress``; ``fold_progress`` sums them per span.

With tracing off the workloads get ``NullTracer``: no job groups, no
event log, no listener.
"""

from __future__ import annotations

import contextlib
import json
import time
from datetime import datetime

MB = 1024.0 * 1024.0
EXECUTOR_FIELDS = ("task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "output_mb")


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def span_key(name: str, i: int, entry: str | None = None) -> str:
    return f"{name}/{entry}@{i}" if entry else f"{name}@{i}"


def parse_key(key: str):
    """``name[/entry]@i`` -> (name, entry, i), or None for foreign groups."""
    head, sep, idx = key.rpartition("@")
    if not sep or not idx.isdigit():
        return None
    name, _, entry = head.partition("/")
    return name, entry or None, int(idx)


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, i: int, entry: str | None = None):
        yield


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[tuple[str, float, float]] = []  # (key, t0, t1), epoch s

    @contextlib.contextmanager
    def span(self, name: str, i: int, entry: str | None = None):
        key = span_key(name, i, entry)
        self.sc.setJobGroup(key, key)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append((key, t0, time.time()))
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wall(self) -> dict[str, float]:
        """Seconds per span key (a key repeated in one pass is summed)."""
        out: dict[str, float] = {}
        for key, t0, t1 in self.spans:
            out[key] = out.get(key, 0.0) + (t1 - t0)
        return out


def _span_at(spans, t: float):
    for key, t0, t1 in spans:
        if t0 <= t <= t1:
            return key
    return None


def fold_event_log(lines, spans) -> dict[str, dict[str, float]]:
    """Per span key: ``jobs`` plus the executor fields, summed over the
    TaskEnd events of the stages its jobs ran.  ``spans`` is a list of
    (key, t0, t1) used for jobs whose group is not a span key."""
    stage_key: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(key):
        return out.setdefault(key, {"jobs": 0, **{f: 0.0 for f in EXECUTOR_FIELDS}})

    for line in lines:
        line = line.strip()
        if not line:
            continue
        try:
            ev = json.loads(line)
        except ValueError:  # a half-written last line of a live log
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            key = group if parse_key(group) else _span_at(spans, ev.get("Submission Time", 0) / 1000.0)
            if key is None:
                continue
            bucket(key)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev.get("Stage ID"))
            m = ev.get("Task Metrics")
            if key is None or not m:
                continue
            b = bucket(key)
            b["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            b["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            b["spill_mb"] += m.get("Memory Bytes Spilled", 0) / MB
            b["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
    return out


class ProgressRecorder:
    """Collects (query id, batch id, trigger time, durationMs, state rows,
    state bytes) for every micro-batch of every streaming query."""

    def __init__(self):
        self.rows: list[tuple] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        rows = self.rows

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                rows.append((
                    str(p.id), p.batchId, _epoch(p.timestamp), dict(p.durationMs or {}),
                    sum(o.numRowsTotal for o in ops), sum(o.memoryUsedBytes for o in ops),
                ))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def settle(self, quiet_s: float = 0.5, max_s: float = 5.0) -> None:
        """Wait until listener delivery has gone quiet (events arrive
        asynchronously on the listener bus)."""
        deadline = time.time() + max_s
        n = -1
        while n != len(self.rows) and time.time() < deadline:
            n = len(self.rows)
            time.sleep(quiet_s)


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def fold_progress(rows, spans) -> dict[str, dict[str, float]]:
    """Per span key: summed durationMs parts, the trigger count, and the
    state rows / bytes of each query's last batch in the span, summed
    over queries."""
    out: dict[str, dict[str, float]] = {}
    last: dict[tuple, tuple] = {}
    for qid, batch, t, dur, srows, sbytes in rows:
        key = _span_at(spans, t)
        if key is None:
            continue
        b = out.setdefault(key, {"triggers": 0, "add_batch_ms": 0.0, "wal_commit_ms": 0.0,
                                 "commit_offsets_ms": 0.0, "query_planning_ms": 0.0})
        b["triggers"] += 1
        b["add_batch_ms"] += dur.get("addBatch", 0)
        b["wal_commit_ms"] += dur.get("walCommit", 0)
        b["commit_offsets_ms"] += dur.get("commitOffsets", 0)
        b["query_planning_ms"] += dur.get("queryPlanning", 0)
        if (key, qid) not in last or last[(key, qid)][0] <= batch:
            last[(key, qid)] = (batch, srows, sbytes)
    for (key, _), (_, srows, sbytes) in last.items():
        b = out[key]
        b["state_rows"] = b.get("state_rows", 0) + srows
        b["state_mem_mb"] = b.get("state_mem_mb", 0.0) + sbytes / MB
    return out
