"""Structure lock for code that no production path ran and that was
deleted with its tests: the feature-row media decode fork (a second
magic-byte table beside ``multimodal.sniff_format``), its one query
(``webp_header_audit``), nine library paths only tests called, and the
events-stream footer sniff.  None of these names may come back in the
program files.  No Spark session needed."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

DELETED = (
    # the feature-row decode fork of operators/multimodal.py
    "decode_media", "decode_png", "decode_wav", "decode_avi",
    "decode_jpeg", "decode_gif", "decode_webp", "_decode_stub",
    "arrow_batch_scope", "extract_features", "FEATURE_SCHEMA",
    "webp_header_audit",
    # library paths with test-only callers
    "streaming_user_totals", "streaming_conversions",
    "StreamingCurationPipeline", "StreamCurationConfig",
    "brute_force_topk_arrow", "write_zordered", "kmeans_semdedup",
    "kmeans_pq_codebooks", "compact_parquet", "connected_components_star",
    # the events-stream footer sniff and its override
    "_events_ts_is_nanos_long", "ts_is_nanos",
)


def _program_files() -> list[Path]:
    return [
        *sorted((ROOT / "prod2vec_spark").rglob("*.py")),
        *sorted((ROOT / "tools").rglob("*.py")),
        *sorted((ROOT / "perfbench").rglob("*.py")),
        ROOT / "bench.py",
    ]


def test_deleted_names_stay_gone():
    pattern = re.compile(r"\b(" + "|".join(DELETED) + r")\b")
    hits = [
        f"{path.relative_to(ROOT)}:{i}: {m.group(1)}"
        for path in _program_files()
        for i, line in enumerate(path.read_text().splitlines(), 1)
        for m in pattern.finditer(line)
    ]
    assert not hits


def test_deleted_modules_stay_gone():
    for rel in ("prod2vec_spark/operators/layout.py",
                "prod2vec_spark/functions/vector_arrow.py"):
        assert not (ROOT / rel).exists(), rel
