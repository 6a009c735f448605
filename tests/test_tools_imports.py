"""Every library name a tool, ``bench.py`` or a ``perfbench/`` script
reaches for must exist.

A script that names a deleted helper otherwise fails only when someone
runs that mode (or the benchmark). This walks each script's AST — function-local imports
included — and checks, without a Spark session, that every
``from news_data_pipeline_spark… import name`` resolves and that every
``alias.attr`` on an imported library module names a real attribute.
"""

from __future__ import annotations

import ast
import glob
import importlib
import os
import types

import pytest

from tests.conftest import ROOT

PKG = "news_data_pipeline_spark"
SCRIPTS = (
    sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))
    + [os.path.join(ROOT, "bench.py")]
    + sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
)


def _resolve(module: str, name: str):
    """``from module import name``: an attribute, else a submodule."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    return importlib.import_module(f"{module}.{name}")


def library_reference_errors(source: str) -> list[str]:
    tree = ast.parse(source)
    modules: dict[str, types.ModuleType] = {}
    errors = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module or ""
        ).split(".")[0] == PKG:
            for alias in node.names:
                try:
                    obj = _resolve(node.module, alias.name)
                except ImportError:
                    errors.append(f"line {node.lineno}: {node.module}.{alias.name}")
                    continue
                if isinstance(obj, types.ModuleType):
                    modules[alias.asname or alias.name] = obj
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] != PKG:
                    continue
                try:
                    mod = importlib.import_module(alias.name)
                except ImportError:
                    errors.append(f"line {node.lineno}: {alias.name}")
                    continue
                if alias.asname:
                    modules[alias.asname] = mod
                else:
                    modules[PKG] = importlib.import_module(PKG)
    for node in ast.walk(tree):
        # the outermost module-valued prefix of each attribute chain:
        # a.b.c checks b on a, then c on a.b while that is a module
        if not isinstance(node, ast.Attribute):
            continue
        chain = []
        base = node
        while isinstance(base, ast.Attribute):
            chain.append(base.attr)
            base = base.value
        if not isinstance(base, ast.Name) or base.id not in modules:
            continue
        obj = modules[base.id]
        path = base.id
        for attr in reversed(chain):
            if not isinstance(obj, types.ModuleType):
                break
            path = f"{path}.{attr}"
            if not hasattr(obj, attr):
                errors.append(f"line {node.lineno}: {path}")
                break
            obj = getattr(obj, attr)
    return sorted(set(errors))


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=[os.path.relpath(p, ROOT) for p in SCRIPTS]
)
def test_library_references_resolve(path):
    with open(path, encoding="utf-8") as f:
        assert library_reference_errors(f.read()) == []


def test_detects_missing_names():
    src = (
        "from news_data_pipeline_spark.operators import dedup\n"
        "def mode():\n"
        "    from news_data_pipeline_spark.operators.pq import _gone\n"
        "    return dedup.no_such_operator\n"
    )
    assert library_reference_errors(src) == [
        "line 3: news_data_pipeline_spark.operators.pq._gone",
        "line 4: dedup.no_such_operator",
    ]
