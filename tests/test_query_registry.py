"""Structure lock for the query registry: one family-organised
``prod2vec_spark.queries`` package, one registration per query, no
function-level imports of it, and every import of it from the scripts
no test runs (bench.py, tools/*.py) still resolves."""

from __future__ import annotations

import ast
import importlib
import pkgutil
import re
from pathlib import Path

import pytest

import prod2vec_spark.queries as queries_pkg
from prod2vec_spark.queries import ALL_QUERIES
from prod2vec_spark.queries.common import register

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "prod2vec_spark"


def _imports_queries(node: ast.AST) -> bool:
    if isinstance(node, ast.ImportFrom):
        mod = node.module or ""
        return mod.startswith("prod2vec_spark.queries") or (
            mod == "prod2vec_spark" and any(a.name == "queries" for a in node.names)
        )
    if isinstance(node, ast.Import):
        return any(a.name.startswith("prod2vec_spark.queries") for a in node.names)
    return False


def test_one_family_package_replaces_round_modules():
    assert not list(PKG.glob("queries_*.py"))
    assert not (PKG / "queries.py").exists()
    modules = [m.name for m in pkgutil.iter_modules(queries_pkg.__path__)]
    assert modules
    assert not [m for m in modules if re.search(r"r\d+", m)]


def test_no_function_level_query_imports():
    offenders = []
    for path in PKG.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                offenders += [
                    f"{path.relative_to(ROOT)}:{n.lineno}"
                    for n in ast.walk(fn)
                    if _imports_queries(n)
                ]
    assert not offenders


def test_every_query_is_defined_in_the_package():
    outside = {
        name: fn.__module__
        for name, fn in ALL_QUERIES.items()
        if not fn.__module__.startswith("prod2vec_spark.queries.")
    }
    assert not outside


def test_registering_a_name_twice_raises():
    def q_vocab(spark, sf_dir):
        return None

    before = dict(ALL_QUERIES)
    with pytest.raises(ValueError, match="registered twice"):
        register(q_vocab)
    assert ALL_QUERIES == before


@pytest.mark.parametrize(
    "script",
    ["bench.py", *sorted(p.name for p in (ROOT / "tools").glob("*.py"))],
)
def test_script_query_imports_resolve(script):
    path = ROOT / script if script == "bench.py" else ROOT / "tools" / script
    for node in ast.walk(ast.parse(path.read_text())):
        if not _imports_queries(node):
            continue
        if isinstance(node, ast.Import):
            for alias in node.names:
                importlib.import_module(alias.name)
            continue
        mod = importlib.import_module(node.module)
        for alias in node.names:
            assert hasattr(mod, alias.name), f"{script}: {node.module}.{alias.name}"
