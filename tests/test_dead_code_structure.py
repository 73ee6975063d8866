"""Structure lock for code that no production path ran and that was
deleted with its tests: the feature-row media decode fork (a second
magic-byte table beside ``multimodal.sniff_format``), its one query
(``webp_header_audit``), nine library paths only tests called, and the
events-stream footer sniff.  None of these names may come back in the
program files.  Also: the batch curation DAG's stage order is written
once, in ``pipeline_llm.STAGES``, and so is the tokenizer family
switch.  No Spark session needed."""

from __future__ import annotations

import ast
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


# -- pipeline_llm: one stage table -----------------------------------------
PIPELINE_LLM = ROOT / "prod2vec_spark" / "pipeline_llm.py"


def _tree() -> ast.Module:
    return ast.parse(PIPELINE_LLM.read_text())


def _methods(tree: ast.Module) -> dict[str, ast.FunctionDef]:
    cls = next(
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == "CorpusCurationPipeline"
    )
    return {f.name: f for f in cls.body if isinstance(f, ast.FunctionDef)}


def _stage_table(tree: ast.Module) -> ast.AST:
    return next(
        n.value for n in tree.body
        if isinstance(n, ast.AnnAssign) and n.target.id == "STAGES"
    )


def _strings(tree: ast.Module) -> list[str]:
    """Every string constant except docstrings."""
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
        and n.body and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    return [
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
        and id(n) not in docs
    ]


def test_each_stage_checkpoint_dir_is_spelled_once():
    from prod2vec_spark.pipeline_llm import STAGES

    strings = _strings(_tree())
    for st in STAGES:
        if st.out is None:
            continue
        hits = [s for s in strings if re.search(rf"(^|/){st.out}($|/)", s)]
        assert hits == [st.out], (st.name, hits)


def test_stage_switches_are_read_only_by_the_table():
    """run(), drop_ledger(), incremental_update() and the input scan
    read no config field that a stage predicate reads."""
    tree = _tree()
    switches = {
        n.attr for lam in ast.walk(_stage_table(tree))
        if isinstance(lam, ast.Lambda)
        for n in ast.walk(lam.body) if isinstance(n, ast.Attribute)
    }
    assert {"line_filter", "url_dedup", "lm_gate", "media_path"} <= switches
    methods = _methods(tree)
    for name in ("run", "drop_ledger", "incremental_update", "_scrubbed"):
        read = {
            n.attr for n in ast.walk(methods[name])
            if isinstance(n, ast.Attribute)
        }
        assert not read & switches, (name, read & switches)


def test_scrubbed_takes_no_stage_switch():
    args = _methods(_tree())["_scrubbed"].args
    assert [a.arg for a in args.args] == ["self", "sf_dir"]


def test_tokenizer_family_is_branched_in_one_method():
    readers = [
        name for name, fn in _methods(_tree()).items()
        if any(
            isinstance(n, ast.Attribute) and n.attr == "tokenizer"
            for n in ast.walk(fn)
        )
    ]
    assert readers == ["_tokenizer"]
