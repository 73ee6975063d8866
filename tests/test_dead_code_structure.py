"""Structure lock for code that no production path ran and that was
deleted with its tests: the feature-row media decode fork (a second
magic-byte table beside ``multimodal.sniff_format``), its one query
(``webp_header_audit``), nine library paths only tests called, and the
events-stream footer sniff, the streaming media and span gates, the
streaming DAG's hand-ordered stage methods, 13 relational superset
queries, the events streams of ``streaming/events.py`` and the
small-files audit.  None of these names may come back in the program
files.  Also: each curation DAG's stage
order is written once — the batch one in ``pipeline_llm.STAGES``, the
stream's in ``streaming/pipeline.STREAM_STAGES``, whose row-local
stages shared with the batch DAG are the batch entries and code — and
so is the tokenizer family switch; no config field is declared by both
DAGs' configs.  No Spark session needed."""

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
    # the streaming media and span gates
    "start_media_near_dedup_registry", "start_span_gate",
    # the stream's hand-ordered stage chain and per-stage wrappers
    "_row_gates", "_boundaries", "neardup_stage", "segment_cms_stage",
    "lm_stage", "decon_stage", "token_stats_stage", "_start_neardup",
    "_start_segment_cms", "_start_lm", "_start_decon", "_start_token_stats",
    # the per-language and trigram copies of the two n-gram LMs
    "kn_perplexity_by_lang", "lm_perplexity_by_lang", "trigram_perplexity",
    "q_trigram_perplexity", "token_triples", "token_pairs", "doc_pairs",
    # the relational superset queries no caller or catalog entry reached
    "q_anti_customers", "q_approx_distinct_parts", "q_events_daily",
    "q_events_window", "q_events_sliding", "q_events_windows",
    "q_except_parts", "q_intersect_parts", "q_setops_parts",
    "q_null_counts", "q_order_percentiles", "q_region_revenue",
    "q_rollup_pricing",
    # the events streams (streaming/events.py) and the small-files audit
    "read_events_stream", "windowed_event_counts", "streaming_sessions",
    "streaming_dedup", "run_to_memory", "file_audit",
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
                "prod2vec_spark/functions/vector_arrow.py",
                "prod2vec_spark/streaming/media.py",
                "prod2vec_spark/streaming/span_gate.py",
                "prod2vec_spark/streaming/events.py"):
        assert not (ROOT / rel).exists(), rel


# -- pipeline_llm: one stage table -----------------------------------------
PIPELINE_LLM = ROOT / "prod2vec_spark" / "pipeline_llm.py"


STREAM = ROOT / "prod2vec_spark" / "streaming" / "pipeline.py"


def _tree(path: Path = PIPELINE_LLM) -> ast.Module:
    return ast.parse(path.read_text())


def _methods(
    tree: ast.Module, cls_name: str = "CorpusCurationPipeline"
) -> dict[str, ast.FunctionDef]:
    cls = next(
        n for n in tree.body
        if isinstance(n, ast.ClassDef) and n.name == cls_name
    )
    return {f.name: f for f in cls.body if isinstance(f, ast.FunctionDef)}


def _stage_table(tree: ast.Module, name: str = "STAGES") -> ast.AST:
    return next(
        n.value for n in tree.body
        if isinstance(n, ast.AnnAssign) and n.target.id == name
    )


def _switches(table: ast.AST) -> set[str]:
    """Every config field a stage predicate of ``table`` reads."""
    return {
        n.attr for lam in ast.walk(table)
        if isinstance(lam, ast.Lambda)
        for n in ast.walk(lam.body) if isinstance(n, ast.Attribute)
    }


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
    switches = _switches(_stage_table(tree))
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


# -- streaming/pipeline: one stage table -----------------------------------
def test_stream_stage_order_is_written_once():
    """The stream's stage labels are spelled only in its table, where
    each names one entry (the other spellings are ``reads`` edges): no
    method orders the stages by hand."""
    from prod2vec_spark.streaming.pipeline import STREAM_STAGES

    tree = _tree(STREAM)
    table = _stage_table(tree, "STREAM_STAGES")
    in_table = {id(n) for n in ast.walk(table)}
    labels = [e.stage.name for e in STREAM_STAGES]
    assert len(labels) == len(set(labels))
    outside = [
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and n.value in labels
        and id(n) not in in_table
    ]
    assert not outside, outside
    named = [
        n.args[0].value if isinstance(n, ast.Call) else n.slice.value
        for n in ast.walk(table)
        if isinstance(n, ast.Call) and getattr(n.func, "id", None) == "Stage"
        or isinstance(n, ast.Subscript) and getattr(n.value, "id", None) == "_STAGE"
    ]
    assert sorted(named) == sorted(labels)


def test_stream_methods_read_no_stage_switch():
    """exact_stage, run, curated, drop_ledger and the fold they share
    read no config field that a stream stage predicate reads."""
    switches = _switches(_stage_table(_tree(STREAM), "STREAM_STAGES"))
    switches |= _switches(_stage_table(_tree()))
    assert {"quality_min", "token_stats", "lm_gate", "decon_gate"} <= switches
    methods = _methods(_tree(STREAM), "StreamingCorpusPipeline")
    for name in ("exact_stage", "run", "curated", "drop_ledger", "_fold"):
        read = {
            n.attr for n in ast.walk(methods[name])
            if isinstance(n, ast.Attribute)
        }
        assert not read & switches, (name, read & switches)


def test_stream_runs_the_batch_row_local_stages():
    """The stream's line-filter and badwords entries are the batch
    table's own entries, applied by the batch DAG's own methods."""
    from prod2vec_spark.pipeline_llm import STAGES, CorpusCurationPipeline
    from prod2vec_spark.streaming.pipeline import (
        STREAM_STAGES,
        StreamingCorpusPipeline,
    )

    batch = {s.name: s for s in STAGES}
    stream = {e.stage.name: e for e in STREAM_STAGES}
    for name in ("line_filter", "badwords_gate"):
        assert stream[name].stage is batch[name]
        assert stream[name].how == "scan"
        assert getattr(StreamingCorpusPipeline, name) is getattr(
            CorpusCurationPipeline, name
        )


def test_no_field_is_declared_by_both_configs():
    from prod2vec_spark.pipeline_llm import CorpusConfig, CurationConfig
    from prod2vec_spark.streaming.pipeline import StreamCorpusConfig

    batch = set(CorpusConfig.__annotations__)
    stream = set(StreamCorpusConfig.__annotations__)
    assert not batch & stream, batch & stream
    shared = set(CurationConfig.__annotations__)
    assert {"work_dir", "lf_require_punct", "lf_max_dropped_frac"} <= shared
