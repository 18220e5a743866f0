"""Source-scan guard: every undecorated top-level function or class in
the package is referenced by name from code that runs — the package
itself, ``bench.py``, ``scripts/``, ``examples/`` or ``perfbench/``.
Tests do not count as references, so an operator only a test reaches
fails here until it is deleted or gains a real caller.

A reference is a name, an attribute, an imported name, or a string
constant equal to the name (``getattr`` and registry lookups). Uses
inside the definition's own body (recursion, a column aliased to the
function's name) and ``__all__`` lists do not count. Dunder definitions
such as a module ``__getattr__`` are called by Python, not by name.
"""

import ast
from pathlib import Path

import mission_data_pipeline_spark

PKG = Path(mission_data_pipeline_spark.__file__).parent
ROOT = PKG.parent

ALLOWED = {
    # the executable spec that test_clustering.py diffs _assign against
    "operators/clustering.py:_assign_expr",
    # a test-stream generator
    "models/ccsds.py:generate_simple_stream",
}


def _sources():
    files = [*PKG.rglob("*.py"), ROOT / "bench.py"]
    for sub in ("scripts", "examples", "perfbench"):
        files += (ROOT / sub).rglob("*.py")
    return sorted(p for p in files if not p.name.startswith("test_"))


def _names(node):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value


def _is_all(node):
    return isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
    )


def test_every_package_definition_is_referenced():
    defs = []  # (key, path, name)
    refs = {}  # name -> {(path, enclosing top-level def name or None)}
    for path in _sources():
        for top in ast.parse(path.read_text()).body:
            is_def = isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            if (
                is_def
                and path.is_relative_to(PKG)
                and not top.decorator_list
                and not top.name.startswith("__")
            ):
                key = f"{path.relative_to(PKG)}:{top.name}"
                defs.append((key, path, top.name))
            if _is_all(top):
                continue
            owner = top.name if is_def else None
            for name in _names(top):
                refs.setdefault(name, set()).add((path, owner))
    unreferenced = sorted(
        key
        for key, path, name in defs
        if not refs.get(name, set()) - {(path, name)}
    )
    assert set(unreferenced) - ALLOWED == set(), (
        f"defined but referenced only by tests (or nothing): "
        f"{sorted(set(unreferenced) - ALLOWED)}"
    )
    stale = ALLOWED - set(unreferenced)
    assert not stale, f"allowlist entries no longer needed: {sorted(stale)}"
