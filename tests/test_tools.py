"""The measurement tools stay importable and their cross-imports resolve.

No test runs a tool (each builds its own Spark session), so these checks
keep a deleted or renamed tool from breaking another one silently. No Spark
session is started.
"""

import ast
import importlib
from pathlib import Path

import pytest

TOOLS = Path(__file__).resolve().parent.parent / "tools"
MODULES = sorted(p.stem for p in TOOLS.glob("*.py") if p.stem != "__init__")


@pytest.mark.parametrize("name", MODULES)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")


def _tool_imports():
    """(file, module, name) for every ``from tools.X import Y`` in tools/,
    function-local imports included."""
    for path in sorted(TOOLS.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("tools."):
                for alias in node.names:
                    yield path.name, node.module, alias.name


@pytest.mark.parametrize("where, module, name", list(_tool_imports()))
def test_tool_cross_imports_resolve(where, module, name):
    assert hasattr(importlib.import_module(module), name), f"{where}: from {module} import {name}"
