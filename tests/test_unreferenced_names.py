"""Source-scan guards over code that runs: the package itself,
``bench.py``, ``scripts/``, ``examples/`` and ``perfbench/``. Tests are
not callers.

Names: every undecorated top-level function or class in the package is
referenced by name from code that runs, so an operator only a test
reaches fails here until it is deleted or gains a real caller. A
reference is a name, an attribute, an imported name, or a string
constant equal to the name (``getattr`` and registry lookups). Uses
inside the definition's own body (recursion, a column aliased to the
function's name), ``__all__`` lists and the imports of a package
``__init__.py`` (a re-export calls nothing) do not count. Dunder
definitions such as a module ``__getattr__`` are called by Python, not
by name.

Switches: a parameter of a package function or method that defaults to
``None``, ``True``, ``False``, ``()`` or ``frozenset()`` is passed, by
keyword or by position, by some call in code that runs. A call matches
a definition by the callee's name (a class name calls its
``__init__``); a call that unpacks ``*args`` or ``**kwargs`` passes
every parameter it could reach. A function referenced other than as a
callee (stored, passed on, looked up by string) may be called with any
argument, so it passes every parameter. An option that no caller sets
is one code path that never runs.
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

ALLOWED_SWITCHES = {
    # test-stream generators: each switch builds one stream variant
    # (sync-marked packets, a chosen frame counter) that the scan and
    # frame tests feed the engine
    "models/ccsds.py:build_frame(master_channel_frame_count)",
    "models/ccsds.py:generate_housekeeping_stream(with_sync_marker)",
    # loud-failure bounds: None means unbounded; a caller that sets one
    # gets an error naming the series instead of an unbounded collect
    "operators/timeseries.py:holt_linear(max_rows_per_series)",
    "operators/timeseries.py:holt_winters_additive(max_rows_per_series)",
    "operators/timeseries.py:lttb(max_rows_per_series)",
}

SWITCH_DEFAULTS = (None, True, False)


def _sources(pkg=PKG, root=ROOT):
    files = [*pkg.rglob("*.py"), root / "bench.py"]
    for sub in ("scripts", "examples", "perfbench"):
        files += (root / sub).rglob("*.py")
    return sorted(p for p in files if p.exists() and not p.name.startswith("test_"))


def _names(node, *, imports=True):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            if imports:
                yield n.name.rsplit(".", 1)[-1]
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value


def _is_all(node):
    return isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
    )


def _is_def(node):
    return isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))


def unreferenced_definitions(pkg=PKG, root=ROOT):
    defs = []  # (key, path, name)
    refs = {}  # name -> {(path, enclosing top-level def name or None)}
    for path in _sources(pkg, root):
        reexports = path.is_relative_to(pkg) and path.name == "__init__.py"
        for top in ast.parse(path.read_text()).body:
            if (
                _is_def(top)
                and path.is_relative_to(pkg)
                and not top.decorator_list
                and not top.name.startswith("__")
            ):
                key = f"{path.relative_to(pkg)}:{top.name}"
                defs.append((key, path, top.name))
            if _is_all(top):
                continue
            owner = top.name if _is_def(top) else None
            for name in _names(top, imports=not reexports):
                refs.setdefault(name, set()).add((path, owner))
    return sorted(
        key for key, path, name in defs if not refs.get(name, set()) - {(path, name)}
    )


def _is_switch(default):
    if isinstance(default, ast.Constant):
        return any(default.value is v for v in SWITCH_DEFAULTS)
    if isinstance(default, ast.Tuple):
        return not default.elts
    return (
        isinstance(default, ast.Call)
        and isinstance(default.func, ast.Name)
        and default.func.id == "frozenset"
        and not default.args
    )


def _switches(fn, bound):
    """(name, position or None if keyword-only) of each switch of ``fn``;
    ``bound`` drops the ``self``/``cls`` a method call supplies."""
    a = fn.args
    positional = [*a.posonlyargs, *a.args]
    skip = 1 if bound else 0
    pos_defaults = dict(
        zip(positional[len(positional) - len(a.defaults) :], a.defaults)
    )
    out = []
    for i, arg in enumerate(positional):
        if arg in pos_defaults and _is_switch(pos_defaults[arg]):
            out.append((arg.arg, i - skip))
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None and _is_switch(default):
            out.append((arg.arg, None))
    return out


def _callee(call):
    f = call.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _passes(call, name, pos):
    if any(k.arg == name or k.arg is None for k in call.keywords):
        return True
    if pos is None:
        return False
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return len(call.args) > pos


def unpassed_switches(pkg=PKG, root=ROOT):
    trees = {p: ast.parse(p.read_text()) for p in _sources(pkg, root)}
    # (key, callee name, def node, switches)
    switches = []
    for path, tree in trees.items():
        if not path.is_relative_to(pkg):
            continue
        rel = path.relative_to(pkg)
        for top in tree.body:
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                found = [(top.name, top, False, top.name)]
            elif isinstance(top, ast.ClassDef):
                found = []
                for m in top.body:
                    if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        continue
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod"
                        for d in m.decorator_list
                    )
                    callee = top.name if m.name == "__init__" else m.name
                    found.append((callee, m, not static, f"{top.name}.{m.name}"))
            else:
                continue
            for callee, fn, bound, qual in found:
                sw = _switches(fn, bound)
                if sw:
                    switches.append((f"{rel}:{qual}", callee, fn, sw))
    calls = {}  # callee name -> [call]
    loose = {}  # name -> [node referencing it other than as a callee]
    for tree in trees.values():
        skip = {id(n) for top in tree.body if _is_all(top) for n in ast.walk(top)}
        callees = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _callee(node) is not None:
                calls.setdefault(_callee(node), []).append(node)
                callees.add(id(node.func))
        for node in ast.walk(tree):
            if id(node) in skip or id(node) in callees:
                continue
            if isinstance(node, ast.Name):
                loose.setdefault(node.id, []).append(node)
            elif isinstance(node, ast.Attribute):
                loose.setdefault(node.attr, []).append(node)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                loose.setdefault(node.value, []).append(node)
    unpassed = []
    for key, callee, fn, sw in switches:
        own = {id(n) for n in ast.walk(fn)}
        if any(id(n) not in own for n in loose.get(callee, [])):
            continue
        names = {callee, "__init__"} if fn.name == "__init__" else {callee}
        sites = [c for n in names for c in calls.get(n, []) if id(c) not in own]
        for name, pos in sw:
            if not any(_passes(c, name, pos) for c in sites):
                unpassed.append(f"{key}({name})")
    return sorted(unpassed)


def test_every_package_definition_is_referenced():
    unreferenced = set(unreferenced_definitions())
    assert unreferenced - ALLOWED == set(), (
        f"defined but referenced only by tests (or nothing): "
        f"{sorted(unreferenced - ALLOWED)}"
    )
    stale = ALLOWED - unreferenced
    assert not stale, f"allowlist entries no longer needed: {sorted(stale)}"


def test_every_switch_is_passed_by_some_caller():
    unpassed = set(unpassed_switches())
    assert unpassed - ALLOWED_SWITCHES == set(), (
        f"switches no caller outside the tests sets: "
        f"{sorted(unpassed - ALLOWED_SWITCHES)}"
    )
    stale = ALLOWED_SWITCHES - unpassed
    assert not stale, f"allowlist entries no longer needed: {sorted(stale)}"


def test_guards_catch_their_cases(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("from pkg.sub.ops import used, reexported\n")
    (pkg / "sub" / "__init__.py").write_text("from pkg.sub.ops import reexported\n")
    (pkg / "sub" / "ops.py").write_text(
        "def used(x, flag: bool = False, mode=None, *, keys=()):\n"
        "    return x\n\n\n"
        "def reexported():\n"
        "    return 1\n"
    )
    (tmp_path / "bench.py").write_text(
        "from pkg.sub.ops import used\n\nused(1, mode=None, keys=('a',))\n"
    )
    assert unreferenced_definitions(pkg, tmp_path) == ["sub/ops.py:reexported"]
    assert unpassed_switches(pkg, tmp_path) == ["sub/ops.py:used(flag)"]
