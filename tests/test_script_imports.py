"""Stale-import guard for the entry points no tier-1 test runs: every name
that scripts/*.py, perfbench/*.py, bench.py, bench_extra.py and
eval_report.py import from nametag_spark, and every attribute they read off
an imported nametag_spark module, must still exist, and every call of an
imported nametag_spark function or class must still bind to its signature
(a class's constructor). Parses the files with ast (read only); no Spark
session."""

import ast
import glob
import importlib
import inspect
import os
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FILES = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "**", "*.py"), recursive=True)
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    + [os.path.join(ROOT, f) for f in ("bench.py", "bench_extra.py", "eval_report.py")]
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


def _binds(fn, call: ast.Call) -> bool:
    """Whether call's arguments bind to fn's signature; a call that spreads
    *args or **kwargs is not checked."""
    if any(isinstance(a, ast.Starred) for a in call.args) or any(
        k.arg is None for k in call.keywords
    ):
        return True
    try:
        inspect.signature(fn).bind(*call.args, **{k.arg: k.value for k in call.keywords})
    except TypeError:
        return False
    return True


def _stale_names(path: str) -> list:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    stale = []
    modules = {}  # local name -> the nametag_spark module bound to it
    callables = {}  # local name -> the nametag_spark function or class bound to it
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("nametag_spark"):
            for a in node.names:
                obj = _imported(node.module, a.name)
                if obj is None:
                    stale.append(f"{node.lineno}: from {node.module} import {a.name}")
                elif isinstance(obj, types.ModuleType):
                    modules[a.asname or a.name] = obj
                elif inspect.isfunction(obj) or (
                    inspect.isclass(obj) and obj.__module__.startswith("nametag_spark")
                ):
                    callables[a.asname or a.name] = obj
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
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id in callables
            and not _binds(callables[node.func.id], node)
        ):
            stale.append(f"{node.lineno}: call of {node.func.id}")
    return stale


def test_guard_covers_the_entry_points():
    names = {os.path.relpath(f, ROOT) for f in FILES}
    assert {"bench.py", "bench_extra.py", "eval_report.py", "perfbench/run.py"} <= names
    assert any(n.startswith("scripts/") for n in names)


def test_guard_checks_call_signatures(tmp_path):
    """A call that no longer binds, or an import of a removed name, is
    reported (checked on parsed snippets), for functions and for class
    constructors."""
    from nametag_spark.kg.graph_io import run_stage
    from nametag_spark.ner.pipeline import _BatchRecognizer

    def call(src):
        return ast.parse(src).body[0].value

    assert _binds(run_stage, call("run_stage(spark, out, name, fp, build, part)"))
    assert _binds(run_stage, call("run_stage(*args)"))
    assert not _binds(run_stage, call("run_stage(spark, out, name, fp)"))
    assert not _binds(run_stage, call("run_stage(spark, out, name, fp, build, stage_cols=part)"))
    assert _binds(_BatchRecognizer, call("_BatchRecognizer(model)"))
    assert not _binds(_BatchRecognizer, call("_BatchRecognizer(model, use_fast=False)"))
    script = tmp_path / "stale.py"
    script.write_text(
        "from nametag_spark.ner.pipeline import _BatchRecognizer\n"
        "rec = _BatchRecognizer(model, use_fast=False)\n"
    )
    assert _stale_names(str(script)) == ["2: call of _BatchRecognizer"]

    # removed names: the streaming compaction, run_incremental_kg's window
    from nametag_spark.streaming.stream import run_incremental_kg

    assert _binds(run_incremental_kg, call("run_incremental_kg(stream, model, out, ckpt)"))
    script.write_text(
        "from nametag_spark.streaming.stream import compact_triples, run_incremental_kg\n"
        "q = run_incremental_kg(stream, model_dir, out_dir, ckpt, window='turn')\n"
        "triples = compact_triples(spark, out_dir)\n"
    )
    assert _stale_names(str(script)) == [
        "1: from nametag_spark.streaming.stream import compact_triples",
        "2: call of run_incremental_kg",
    ]


@pytest.mark.parametrize("path", FILES, ids=lambda p: os.path.relpath(p, ROOT))
def test_nametag_spark_imports_resolve(path):
    assert _stale_names(path) == []
