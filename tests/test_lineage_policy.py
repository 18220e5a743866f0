"""Source-scan guard: ``operators/lineage.py`` is the only module that
decides how lineage is truncated. Operators take no per-call
``checkpoint`` / ``checkpoint_dir`` option, and no other package module
calls ``.localCheckpoint(`` or ``.checkpoint(`` directly — every
truncation goes through ``query_truncator()``."""

import ast
from pathlib import Path

import mission_data_pipeline_spark

PKG = Path(mission_data_pipeline_spark.__file__).parent
LINEAGE = PKG / "operators" / "lineage.py"


def _modules(root):
    return sorted(p for p in root.rglob("*.py") if p != LINEAGE)


def _where(path, node):
    return f"{path.relative_to(PKG)}:{node.lineno}"


def test_operators_take_no_checkpoint_option():
    bad = []
    for path in _modules(PKG / "operators"):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
            ):
                continue
            a = node.args
            names = {
                x.arg for x in a.posonlyargs + a.args + a.kwonlyargs
            }
            for opt in sorted(names & {"checkpoint", "checkpoint_dir"}):
                bad.append(f"{_where(path, node)} {opt}")
    assert not bad, f"per-operator truncation options: {bad}"


def test_only_lineage_module_truncates():
    bad = []
    for path in _modules(PKG):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                bad.append(f"{_where(path, node)} .{node.func.attr}(")
    assert not bad, f"truncation outside operators/lineage.py: {bad}"
