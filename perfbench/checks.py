"""Output checks.  Each takes plain Python values collected from a pass
(outside the timed region) and raises ``CheckError`` naming the first
violation; the pass loop counts a raise as a failed operation."""

from __future__ import annotations

import math

CURATION_STAGES = (
    "input",
    "after_exact_dedup",
    "after_quality_filter",
    "after_near_dedup",
    "final",
)


class CheckError(AssertionError):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckError(msg)


def check_neighbors(rows: list[dict], model_ids: set, probe_ids: set, probes: int, top_k: int) -> None:
    """train: ``probes`` x ``top_k`` neighbor rows, ranks 1..top_k per
    probe, every probe in the staged vocab, every neighbor in the
    model's vocab, cosine within [-1, 1]."""
    require(len(rows) == probes * top_k, f"{len(rows)} neighbor rows, want {probes * top_k}")
    by_query: dict = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r["rank"])
        require(r["query_id"] in probe_ids, f"probe {r['query_id']} not in the staged vocab")
        require(r["neighbor_id"] in model_ids, f"neighbor {r['neighbor_id']} not in the model vocab")
        require(r["neighbor_id"] != r["query_id"], f"probe {r['query_id']} is its own neighbor")
        c = r["cosine_sim"]
        require(c is not None and not math.isnan(c) and -1.0 <= c <= 1.0, f"cosine {c} out of [-1, 1]")
    require(len(by_query) == probes, f"{len(by_query)} probes, want {probes}")
    for q, ranks in by_query.items():
        require(sorted(ranks) == list(range(1, top_k + 1)), f"probe {q} ranks {sorted(ranks)}")


def check_curation(counts: dict, n_input: int, expected: dict | None = None) -> None:
    """curation: stage counts never grow, the input count is the sample
    size, and (for the recorded seed) every count matches exactly."""
    got = [counts.get(s) for s in CURATION_STAGES]
    require(None not in got, f"missing stage counts: {counts}")
    require(got[0] == n_input, f"input count {got[0]}, sampled {n_input}")
    require(all(a >= b for a, b in zip(got, got[1:])), f"stage counts grow: {got}")
    require(got[-1] > 0, "curation kept no documents")
    if expected:
        for stage, n in expected.items():
            require(counts.get(stage) == n, f"{stage}={counts.get(stage)}, recorded {n}")


def check_stream_drain(n_curated: int, prev: int, n_landed: int) -> None:
    """stream, per drain: the curated count never shrinks and never
    exceeds what has landed."""
    require(prev <= n_curated <= n_landed, f"curated {n_curated} after {prev}, landed {n_landed}")


def check_stream_final(curated_ids: list, landed_ids: set, one_wave_count: int) -> None:
    """stream, after the last drain: ids unique and landed, and the
    count equals a one-wave drain of the same documents."""
    require(len(curated_ids) == len(set(curated_ids)), "duplicate curated ids")
    require(set(curated_ids) <= landed_ids, "curated ids that never landed")
    require(len(curated_ids) == one_wave_count,
            f"{len(curated_ids)} curated across waves, {one_wave_count} in one wave")


def compare_frames(spark_df, oracle_df) -> None:
    """catalog: rows, schema and order-insensitive values against the
    DuckDB oracle (the tools/oracle_check.py comparison)."""
    import pandas as pd

    scols, ocols = sorted(spark_df.columns), sorted(oracle_df.columns)
    require(scols == ocols, f"schema {scols} vs oracle {ocols}")
    require(len(spark_df) == len(oracle_df), f"rows {len(spark_df)} vs oracle {len(oracle_df)}")
    a = spark_df[scols].sort_values(by=scols).reset_index(drop=True)
    b = oracle_df[scols].sort_values(by=scols).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-9)
    except AssertionError as e:
        raise CheckError(f"values differ from oracle: {str(e)[:200]}") from None
