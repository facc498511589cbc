"""Every library name the scripts import resolves (no Spark session).

The scripts in ``tools/`` and ``perfbench/``, ``bench.py`` and
``__spark_entry__.py`` import most library names lazily, inside ``main()``
or a query function, so a deleted or renamed name breaks them only when
they run. This walks their syntax trees and resolves each
``from indra_db_spark… import name`` / ``from tools… import name``.
"""

import ast
import importlib
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCRIPTS = sorted(
    [*ROOT.glob("tools/*.py"), *ROOT.glob("perfbench/*.py"),
     ROOT / "bench.py", ROOT / "__spark_entry__.py"]
)
PACKAGES = ("indra_db_spark", "tools")


def _imports(path):
    """(module, name, line) per imported name; name None for ``import m``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and node.module.split(".")[0] in PACKAGES
        ):
            for alias in node.names:
                yield node.module, alias.name, node.lineno
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] in PACKAGES:
                    yield alias.name, None, node.lineno


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
        for module, name, line in _imports(path):
            seen += 1
            if not _resolves(module, name):
                missing.append(
                    f"{path.relative_to(ROOT)}:{line}: {module} -> {name}"
                )
    assert seen > 100, f"only {seen} imports found — is the walk broken?"
    assert not missing, "unresolved imports:\n" + "\n".join(missing)
