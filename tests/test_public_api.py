"""Public-API census: every top-level public function or class in
`nametag_spark/` must be used by something that is not a test — the
library itself, the Spark entry point, the benches, the eval report,
perfbench or a script. A def that only tests call is surface nothing
runs: delete it with its tests, or list it in ALLOWED with the reason it
stays.

AST only (no Spark, no imports of the package): a name counts as used
when it appears as an identifier, an attribute or an imported name in
one of those files, outside the def's own body.
"""

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ALLOWED = {
    "read_transcript_stream": "streaming KG entry point (source half)",
    "run_incremental_kg": "streaming KG entry point (sink half)",
}


def _py_files(rel_dir):
    out = []
    for d, _dirs, files in os.walk(os.path.join(ROOT, rel_dir)):
        out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _user_files():
    top = [
        os.path.join(ROOT, f)
        for f in sorted(os.listdir(ROOT))
        if f.endswith(".py")
        and (f.startswith("bench") or f in ("__spark_entry__.py", "eval_report.py"))
    ]
    return (
        _py_files("nametag_spark") + top + _py_files("perfbench") + _py_files("scripts")
    )


def _names(node):
    """Every identifier, attribute and imported name used under node."""
    out = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
    return out


def unused_public_defs():
    """(module path, name) of each public top-level def nothing uses."""
    used = Counter()
    defs = []
    for path in _user_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        used.update(_names(tree))
        if not path.startswith(os.path.join(ROOT, "nametag_spark") + os.sep):
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) and (
                not node.name.startswith("_")
            ):
                defs.append((os.path.relpath(path, ROOT), node.name, _names(node)[node.name]))
    return sorted(
        (path, name) for path, name, self_uses in defs if used[name] - self_uses <= 0
    )


def test_every_public_def_is_used_outside_tests():
    unused = unused_public_defs()
    unexpected = [f"{p}:{n}" for p, n in unused if n not in ALLOWED]
    assert not unexpected, (
        "public defs only tests use (delete them with their tests, or add "
        f"them to ALLOWED with a reason): {unexpected}"
    )
    # an allowlisted name that gained a caller, or was deleted, leaves the list
    assert sorted(n for _p, n in unused) == sorted(ALLOWED)
