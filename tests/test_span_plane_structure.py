"""Structure lock for the media span plane: ``SpanPlane`` and the
composite unit-id base are defined once, in operators/phash.py; the
per-modality span functions it replaced stay deleted everywhere the
program lives; the span-audit queries define no id base of their own.
Source-only (ast + text), no Spark."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PHASH = ROOT / "prod2vec_spark" / "operators" / "phash.py"

DELETED = (
    "video_span_pairs",
    "image_span_pairs",
    "image_span_pairs_from_tiles",
    "audio_span_pairs",
    "audio_span_pairs_from_windows",
    "frame_band_table",
    "tile_band_table",
    "audio_band_table",
    "media_band_table",
    "incremental_video_span_pairs",
    "incremental_image_span_pairs",
    "incremental_audio_span_pairs",
    "hamming_candidates",
    "_FRAME_ID_BASE",
    "_TILE_ID_BASE",
    "_WIN_ID_BASE",
)


def _program_files() -> list[Path]:
    return [
        *sorted((ROOT / "prod2vec_spark").rglob("*.py")),
        *sorted((ROOT / "tools").rglob("*.py")),
        ROOT / "bench.py",
    ]


def _definitions(path: Path) -> list[str]:
    """Names of the classes and of the ``*ID_BASE`` constants the file
    defines at any level."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ClassDef):
            out.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [
                t.id
                for t in targets
                if isinstance(t, ast.Name) and t.id.endswith("ID_BASE")
            ]
    return out


def test_span_plane_and_id_base_live_only_in_phash():
    where = sorted(
        (name, str(path.relative_to(ROOT)))
        for path in _program_files()
        for name in _definitions(path)
        if name == "SpanPlane" or name.endswith("ID_BASE")
    )
    assert where == [
        ("SpanPlane", "prod2vec_spark/operators/phash.py"),
        ("UNIT_ID_BASE", "prod2vec_spark/operators/phash.py"),
    ]


def test_per_modality_span_names_are_gone():
    pattern = re.compile(r"\b(" + "|".join(DELETED) + r")\b")
    hits = [
        f"{path.relative_to(ROOT)}:{i}: {m.group(1)}"
        for path in _program_files()
        for i, line in enumerate(path.read_text().splitlines(), 1)
        for m in pattern.finditer(line)
    ]
    assert not hits


def test_span_audit_queries_define_no_id_base():
    media = ROOT / "prod2vec_spark" / "queries" / "media.py"
    assert not [n for n in _definitions(media) if n.endswith("ID_BASE")]
    assert "from prod2vec_spark.operators.phash import UNIT_ID_BASE" in (
        media.read_text()
    )
