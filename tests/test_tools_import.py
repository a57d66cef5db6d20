"""Tooling gate: every script in ``tools/`` imports, and every
``sparksent`` name it uses still exists.

The scripts import the library inside ``main`` (no Spark at import
time), so a library rename would otherwise surface only when someone
next runs the script.  Each module is imported without running ``main``,
and every ``from sparksent... import name`` in its source, plus every
``module.attr`` read on an imported sparksent module, must resolve.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
SCRIPTS = sorted(f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py"))


def _is_module(path: str) -> bool:
    try:
        return importlib.util.find_spec(path) is not None
    except ModuleNotFoundError:
        return False


@pytest.mark.parametrize("name", SCRIPTS)
def test_tool_imports_and_its_library_names_resolve(name):
    path = os.path.join(TOOLS, f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"tools_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)  # module body only: main() is behind __main__
    assert callable(getattr(mod, "main", None)), f"{name}.py has no main()"

    with open(path) as f:
        nodes = list(ast.walk(ast.parse(f.read())))
    needed, modules = [], {}  # modules: local name -> sparksent module path
    for node in nodes:
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("sparksent"):
            for alias in node.names:
                needed.append((node.module, alias.name))
                if _is_module(f"{node.module}.{alias.name}"):
                    modules[alias.asname or alias.name] = f"{node.module}.{alias.name}"
    for node in nodes:
        if isinstance(node, ast.Attribute) and getattr(node.value, "id", None) in modules:
            needed.append((modules[node.value.id], node.attr))
    missing = [
        f"{module}.{attr}"
        for module, attr in needed
        if not hasattr(importlib.import_module(module), attr)
        and not _is_module(f"{module}.{attr}")
    ]
    assert not missing, f"tools/{name}.py uses names the library lost: {missing}"
