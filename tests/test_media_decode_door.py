"""The media decode door (operators/multimodal.decode_blob): every
media operator sniffs and decodes a blob through it, so the container
magic table lives in one module, the per-format hash wrappers and
single-modality hash passes stay deleted, and no pass decodes a
payload it throws away.  Source checks (ast + text) and counted codec
calls; no Spark."""

from __future__ import annotations

import ast
import importlib
import re
from pathlib import Path

import numpy as np
import pytest

from prod2vec_spark.operators import gif, jpeg, multimodal, phash, webp

ROOT = Path(__file__).resolve().parent.parent
PHASH = ROOT / "prod2vec_spark" / "operators" / "phash.py"
MEDIA_QUERIES = ROOT / "prod2vec_spark" / "queries" / "media.py"

MAGIC = (
    multimodal.PNG_SIG,
    b"\xff\xd8",
    b"GIF87a",
    b"GIF89a",
    b"RIFF",
    b"WEBP",
    b"WAVE",
    b"AVI ",
)
DELETED = (
    "classify_media",
    "dhash_png",
    "dhash_jpeg",
    "dhash_gif",
    "dhash_webp",
    "ahash_wav",
    "vhash_avi",
    "phash_images",
    "phash_audio",
    "phash_videos",
)


def _program_files() -> list[Path]:
    return [
        *sorted((ROOT / "prod2vec_spark").rglob("*.py")),
        *sorted((ROOT / "tools").rglob("*.py")),
        ROOT / "bench.py",
    ]


# ------------------------------------------------------ structure lock
def test_container_magic_lives_only_in_the_decode_door():
    hits = []
    for path in (PHASH, MEDIA_QUERIES):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant) and isinstance(node.value, bytes):
                if any(m in node.value for m in MAGIC):
                    hits.append((path.name, node.lineno, node.value))
            elif isinstance(node, ast.Name) and node.id == "PNG_SIG":
                hits.append((path.name, node.lineno, node.id))
            elif isinstance(node, ast.alias) and node.name == "PNG_SIG":
                hits.append((path.name, 0, node.name))
    assert not hits


def test_per_format_hash_wrappers_and_passes_are_gone():
    pattern = re.compile(r"\b(" + "|".join(DELETED) + r")\b")
    hits = [
        f"{path.relative_to(ROOT)}:{i}: {m.group(1)}"
        for path in _program_files()
        for i, line in enumerate(path.read_text().splitlines(), 1)
        for m in pattern.finditer(line)
    ]
    assert not hits


def test_media_queries_keep_no_tile_row_constant():
    assigned = [
        t.id
        for node in ast.walk(ast.parse(MEDIA_QUERIES.read_text()))
        if isinstance(node, ast.Assign)
        for t in node.targets
        if isinstance(t, ast.Name)
    ]
    assert "_TILE_COLS" not in assigned


def test_tool_imports_from_the_media_modules_resolve():
    missing = []
    for path in sorted((ROOT / "tools").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.module in (
                "prod2vec_spark.operators.phash",
                "prod2vec_spark.operators.multimodal",
            ):
                mod = importlib.import_module(node.module)
                missing += [
                    f"{path.name}: {node.module}.{a.name}"
                    for a in node.names
                    if not hasattr(mod, a.name)
                ]
    assert not missing


# ------------------------------------------------------ decode counts
def _blobs() -> dict[str, bytes]:
    rng = np.random.default_rng(5)
    px = bytes(rng.integers(0, 256, 24 * 32, dtype=np.uint8))
    frames = [bytes(rng.integers(0, 256, 256, dtype=np.uint8)) for _ in range(4)]
    pcm = rng.integers(-3000, 3000, 4000).tolist()
    return {
        "png": multimodal.encode_png_gray8(px, 32, 24),
        "jpeg": jpeg.encode_jpeg_gray(px, 32, 24, quality=90),
        "gif": gif.encode_gif_gray8(px, 32, 24),
        "webp": webp.encode_webp_lossless_gray8(px, 32, 24),
        "wav": multimodal.encode_wav_pcm16(pcm, 4000),
        "adpcm": multimodal.encode_wav_adpcm(pcm, 4000),
        "avi": multimodal.encode_avi_gray8(frames, 16, 16),
    }


@pytest.fixture
def decodes(monkeypatch) -> list[str]:
    """Every payload-codec call made while the test runs, by name."""
    calls: list[str] = []
    for mod, name in (
        (multimodal, "png_pixels"),
        (multimodal, "wav_samples"),
        (multimodal, "avi_frames"),
        (jpeg, "decode_jpeg_gray"),
        (gif, "gif_pixels"),
        (webp, "webp_pixels"),
    ):
        real = getattr(mod, name)

        def counted(*args, _real=real, _name=name, **kwargs):
            calls.append(_name)
            return _real(*args, **kwargs)

        monkeypatch.setattr(mod, name, counted)
    return calls


def test_single_modality_doors_decode_no_other_modality(decodes):
    blobs = _blobs()
    for fmt in ("wav", "adpcm", "avi"):
        assert phash.image_gray(blobs[fmt]) is None
    for fmt in ("png", "jpeg", "gif", "webp", "avi"):
        assert phash.audio_mono(blobs[fmt]) is None
    assert decodes == []
    # the doors still decode their own modality, once
    assert phash.image_gray(blobs["png"]) is not None
    assert phash.audio_mono(blobs["wav"]) is not None
    assert decodes == ["png_pixels", "wav_samples"]


def test_media_hash_decodes_each_blob_once(decodes):
    for fmt, blob in _blobs().items():
        decodes.clear()
        modality, h = phash.media_hash(blob)
        assert h is not None, fmt
        assert len(decodes) == 1, (fmt, decodes)


def test_media_features_row_decodes_each_blob_once(decodes):
    for fmt, blob in _blobs().items():
        decodes.clear()
        row = phash._feature_row(7, blob, 16, 8, 250, 125)
        assert row[3] is not None and (row[4] or row[5] or fmt == "avi"), fmt
        assert len(decodes) == 1, (fmt, decodes)
