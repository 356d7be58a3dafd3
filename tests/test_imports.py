"""Every ``lamapi_spark`` import in the repo resolves.

Many imports sit inside function bodies (a contract query imports its
operator when it runs), so a module or name deleted from the package
leaves a dangling import that fails only when that one function is
called. This test parses every source file with ``ast`` instead of
running it: it collects each ``import lamapi_spark...`` and
``from lamapi_spark... import name`` at any nesting depth, then checks
that the module imports and that each imported name exists in it (as
an attribute or a submodule). No Spark session is started.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "lamapi_spark"


def _sources():
    for d in (PACKAGE, "tools", "tests", "perfbench"):
        yield from sorted((ROOT / d).rglob("*.py"))
    yield from sorted(ROOT.glob("bench*.py"))
    yield ROOT / "__spark_entry__.py"


def _package_imports():
    """(where, module, name or None) for every lamapi_spark import."""
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            where = f"{path.relative_to(ROOT)}:{node.lineno}"
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == PACKAGE:
                        yield where, alias.name, None
            elif (node.level == 0 and node.module
                  and node.module.split(".")[0] == PACKAGE):
                for alias in node.names:
                    yield where, node.module, alias.name


def _problem(module, name):
    try:
        mod = importlib.import_module(module)
    except Exception as e:  # noqa: BLE001 - report any import failure
        return f"cannot import {module}: {type(e).__name__}: {e}"
    if name is None or name == "*" or hasattr(mod, name):
        return None
    if (hasattr(mod, "__path__")
            and importlib.util.find_spec(f"{module}.{name}") is not None):
        return None
    return f"{module} has no name {name!r}"


def test_every_package_import_resolves():
    found = list(_package_imports())
    # guard against a collector that silently finds nothing
    assert len(found) > 100
    checked = {}
    bad = []
    for where, module, name in found:
        key = (module, name)
        if key not in checked:
            checked[key] = _problem(module, name)
        if checked[key]:
            bad.append(f"{where}: {checked[key]}")
    assert not bad, "dangling imports:\n" + "\n".join(bad)
