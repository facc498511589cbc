"""Every library name the scripts import resolves, every keyword they
pass to a library callable is one of its parameters, and every library
attribute they assign to exists (no Spark session).

The scripts in ``tools/`` and ``perfbench/``, ``bench.py`` and
``__spark_entry__.py`` import most library names lazily, inside ``main()``
or a query function, so a deleted or renamed name or parameter breaks
them only when they run. This walks their syntax trees and resolves each
``from indra_db_spark… import name`` / ``from tools… import name``.
"""

import ast
import importlib
import inspect
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [*ROOT.glob("tools/*.py"), *ROOT.glob("perfbench/*.py"),
     ROOT / "bench.py", ROOT / "__spark_entry__.py"]
)
PACKAGES = ("indra_db_spark", "tools")


def _imports(path):
    """(module, name, local, line) per imported name: name None for
    ``import m``, local the name the import binds in the script."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module.split(".")[0] in PACKAGES
        ):
            for alias in node.names:
                yield node.module, alias.name, alias.asname or alias.name, node.lineno
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] in PACKAGES:
                    local = alias.asname or alias.name.split(".")[0]
                    yield alias.name, None, local, node.lineno


def _resolves(module, name):
    try:
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            return True
        importlib.import_module(f"{module}.{name}")  # a submodule
        return True
    except ImportError:
        return False


def test_script_imports_resolve():
    seen, missing = 0, []
    for path in SCRIPTS:
        for module, name, _, line in _imports(path):
            seen += 1
            if not _resolves(module, name):
                missing.append(
                    f"{path.relative_to(ROOT)}:{line}: {module} -> {name}"
                )
    assert seen > 100, f"only {seen} imports found — is the walk broken?"
    assert not missing, "unresolved imports:\n" + "\n".join(missing)


def _library_bindings(path):
    """Local name -> resolved object, for every ``indra_db_spark`` import
    in the script."""
    bound = {}
    for module, name, local, _ in _imports(path):
        if module.split(".")[0] != "indra_db_spark":
            continue
        obj = importlib.import_module(module)
        if name is not None:
            obj = getattr(obj, name, None) or importlib.import_module(
                f"{module}.{name}"
            )
        elif local == module.split(".")[0]:  # ``import a.b`` binds ``a``
            obj = importlib.import_module(local)
        bound[local] = obj
    return bound


def _callee(func, bound):
    """The library object a call's ``func`` expression names, or None."""
    chain = []
    while isinstance(func, ast.Attribute):
        chain.append(func.attr)
        func = func.value
    if not isinstance(func, ast.Name) or func.id not in bound:
        return None
    obj = bound[func.id]
    for attr in reversed(chain):
        obj = getattr(obj, attr, None)
    module = getattr(obj, "__module__", None) or ""
    return obj if callable(obj) and module.startswith("indra_db_spark") else None


def test_script_keywords_are_parameters():
    seen, bad = 0, []
    for path in SCRIPTS:
        bound = _library_bindings(path)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            fn = _callee(node.func, bound)
            if fn is None:
                continue
            params = inspect.signature(fn).parameters
            if any(p.kind is p.VAR_KEYWORD for p in params.values()):
                continue
            for kw in node.keywords:
                if kw.arg is None:  # **mapping: not checkable statically
                    continue
                seen += 1
                if kw.arg not in params:
                    bad.append(
                        f"{path.relative_to(ROOT)}:{node.lineno}: "
                        f"{fn.__qualname__}({kw.arg}=)"
                    )
    assert seen > 50, f"only {seen} keywords found — is the walk broken?"
    assert not bad, "keywords that are not parameters:\n" + "\n".join(bad)


def test_script_attribute_assignments_exist():
    """``mod.NAME = …`` on a library name must name an existing
    attribute: assigning a moved or renamed one silently does nothing."""
    seen, bad = 0, []
    for path in SCRIPTS:
        bound = _library_bindings(path)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Attribute) or not isinstance(
                node.ctx, ast.Store
            ):
                continue
            chain, base = [], node
            while isinstance(base, ast.Attribute):
                chain.append(base.attr)
                base = base.value
            if not isinstance(base, ast.Name) or base.id not in bound:
                continue
            obj = bound[base.id]
            for attr in reversed(chain[1:]):
                obj = getattr(obj, attr, None)
            seen += 1
            if not hasattr(obj, node.attr):
                bad.append(f"{path.relative_to(ROOT)}:{node.lineno}: {base.id}"
                           f".{'.'.join(reversed(chain))}")
    assert seen >= 2, f"only {seen} assignments found — is the walk broken?"
    assert not bad, "assignments to missing attributes:\n" + "\n".join(bad)


def test_entry_point_parameters_have_callers():
    """Every parameter of the two corpus entry points is passed, by
    position or keyword, by at least one call outside ``tests/``: a
    parameter no caller sets is a knob with no use. A ``**kwargs``
    pass-through (``stream.py``) names no parameter, so it counts for
    none."""
    from indra_db_spark.pipeline import run_pipeline
    from indra_db_spark.streaming.supplement import supplement_corpus

    passed = {run_pipeline: set(), supplement_corpus: set()}
    calls = 0
    for path in [*SCRIPTS, *sorted(ROOT.glob("indra_db_spark/**/*.py"))]:
        bound = _library_bindings(path)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            fn = _callee(node.func, bound)
            if fn not in passed:
                continue
            calls += 1
            names = list(inspect.signature(fn).parameters)
            for name, arg in zip(names, node.args):
                if isinstance(arg, ast.Starred):
                    break
                passed[fn].add(name)
            passed[fn].update(kw.arg for kw in node.keywords if kw.arg)
    assert calls >= 5, f"only {calls} entry-point calls found — is the walk broken?"
    unused = [
        f"{fn.__qualname__}({name})"
        for fn, seen in passed.items()
        for name in inspect.signature(fn).parameters
        if name not in seen
    ]
    assert not unused, "parameters no caller passes:\n" + "\n".join(unused)
