"""Tooling check: every name the bench and script tools import from the
engine (`lsh_for_source_code_spark.*`), `bench` or `__spark_entry__` must
exist. Tools import lazily inside functions, so a deleted engine symbol
would otherwise only surface when someone next runs the tool. Static AST
walk plus module imports; no Spark job runs."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = [
    os.path.join(REPO, "bench.py"),
    os.path.join(REPO, "bench_extra.py"),
    *sorted(glob.glob(os.path.join(REPO, "scripts", "*.py"))),
]
ROOTS = {"lsh_for_source_code_spark", "bench", "__spark_entry__"}


def _imports(path: str):
    """(module, name-or-None) for every absolute import of a ROOTS module."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] in ROOTS:
                    yield alias.name, None
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] in ROOTS:
                for alias in node.names:
                    yield node.module, alias.name


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            return True
        importlib.import_module(f"{module}.{name}")
        return True
    except ImportError:
        return False


def test_tool_imports_resolve():
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    checked, missing = 0, []
    for path in TOOLS:
        for module, name in _imports(path):
            checked += 1
            if not _resolves(module, name):
                rel = os.path.relpath(path, REPO)
                missing.append(f"{rel}: {module}{'' if name is None else '.' + name}")
    assert checked > 0
    assert not missing, missing
