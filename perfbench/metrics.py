"""Metric names and units, and the fold from per-pass records into the
reported values.  Every traced run reports every per-layer name; a layer
the workload never calls reads 0."""

from __future__ import annotations

import statistics

from tracing import EXECUTOR_FIELDS, fold_event_log, fold_progress, parse_key
from workloads import PER_ENTRY

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s")]

TIMED_CALLS = [  # span name -> reported as <name>_s and <name>_jobs
    "pipeline.preprocess",
    "pipeline.quality_gates",
    "ml.train_or_tune",
    "pipeline.postprocess",
    "pipeline_llm.run",
    "queries.build",
    "queries.exec",
    "streaming.drain",
    "streaming.curated",
]
LLM_STAGES = ["gates", "input", "exact_dedup", "quality_filter", "near_dedup", "decontaminate", "chunk"]
STREAM_PROGRESS = [
    ("add_batch_ms", "ms"),
    ("wal_commit_ms", "ms"),
    ("commit_offsets_ms", "ms"),
    ("query_planning_ms", "ms"),
    ("triggers", "count"),
    ("state_rows", "count"),
    ("state_mem_mb", "MB"),
]
EXECUTOR_UNITS = {"task_cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB", "output_mb": "MB"}


def per_layer_specs() -> list[tuple[str, str]]:
    specs = [("traced.cold_s", "s"), ("traced.warm_s", "s"), ("peak_rss_mb", "MB")]
    for call in TIMED_CALLS:
        specs += [(f"{call}_s", "s"), (f"{call}_jobs", "count")]
    specs += [(f"pipeline_llm.{s}_ms", "ms") for s in LLM_STAGES]
    for entry in PER_ENTRY:
        specs += [(f"queries.{entry}.build_s", "s"), (f"queries.{entry}.build_jobs", "count")]
    specs += [(f"streaming.{n}", u) for n, u in STREAM_PROGRESS]
    for call in TIMED_CALLS:
        specs += [(f"{call}.{f}", EXECUTOR_UNITS[f]) for f in EXECUTOR_FIELDS]
    return specs


def warm_median(per_pass: dict[int, float], n_passes: int) -> float:
    """Median over the warm passes (all passes after the first); the
    cold pass alone when it is the only one."""
    warm = [per_pass.get(i, 0.0) for i in range(1, n_passes)] or [per_pass.get(0, 0.0)]
    return float(statistics.median(warm))


def per_layer_values(tracer, event_lines, progress_rows, stage_ms, times, peak_rss_mb) -> dict[str, float]:
    """Fold spans, the event log, streaming progress and the curation
    report's t_ms_* rows into one value per per-layer name."""
    n_passes = len(times)
    per: dict[str, dict[int, float]] = {}

    def add(name, i, v):
        d = per.setdefault(name, {})
        d[i] = d.get(i, 0.0) + v

    for key, secs in tracer.wall().items():
        name, entry, i = parse_key(key)
        add(f"{name}_s", i, secs)
        if entry in PER_ENTRY and name == "queries.build":
            add(f"queries.{entry}.build_s", i, secs)
    for key, b in fold_event_log(event_lines, tracer.spans).items():
        name, entry, i = parse_key(key)
        add(f"{name}_jobs", i, b["jobs"])
        if entry in PER_ENTRY and name == "queries.build":
            add(f"queries.{entry}.build_jobs", i, b["jobs"])
        for f in EXECUTOR_FIELDS:
            add(f"{name}.{f}", i, b[f])
    for key, b in fold_progress(progress_rows, tracer.spans).items():
        name, _, i = parse_key(key)
        for f, v in b.items():
            add(f"streaming.{f}", i, v)
    for i, stages in stage_ms.items():
        for s, ms in stages.items():
            add(f"pipeline_llm.{s}_ms", i, ms)

    out = {name: warm_median(per.get(name, {}), n_passes) for name, _ in per_layer_specs()}
    out["traced.cold_s"] = times[0]
    out["traced.warm_s"] = warm_median(dict(enumerate(times)), n_passes)
    out["peak_rss_mb"] = peak_rss_mb
    return out
