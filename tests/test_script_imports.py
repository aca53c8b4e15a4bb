"""Stale-import guard for the entry points no tier-1 test runs: every name
that scripts/*.py, bench.py and bench_extra.py import from nametag_spark,
and every attribute they read off an imported nametag_spark module, must
still exist. Parses the files with ast; no Spark session."""

import ast
import glob
import importlib
import os
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FILES = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "**", "*.py"), recursive=True)
    + [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "bench_extra.py")]
)


def _imported(module: str, name: str):
    """What `from module import name` binds, or None if it would fail."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


def _stale_names(path: str) -> list:
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    stale = []
    modules = {}  # local name -> the nametag_spark module bound to it
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("nametag_spark"):
            for a in node.names:
                obj = _imported(node.module, a.name)
                if obj is None:
                    stale.append(f"{node.lineno}: from {node.module} import {a.name}")
                elif isinstance(obj, types.ModuleType):
                    modules[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("nametag_spark") and a.asname:
                    modules[a.asname] = importlib.import_module(a.name)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            stale.append(f"{node.lineno}: {node.value.id}.{node.attr}")
    return stale


def test_guard_covers_the_entry_points():
    names = {os.path.relpath(f, ROOT) for f in FILES}
    assert {"bench.py", "bench_extra.py"} <= names
    assert any(n.startswith("scripts/") for n in names)


@pytest.mark.parametrize("path", FILES, ids=lambda p: os.path.relpath(p, ROOT))
def test_nametag_spark_imports_resolve(path):
    assert _stale_names(path) == []
