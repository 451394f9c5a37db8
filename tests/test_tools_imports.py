"""Guard: every package name a tool imports still exists.

No test runs the scripts under ``tools/``, so a package change that
deletes or renames a name they import breaks them silently. This
parses each tool (no Spark session, no JVM) and resolves every
``from scylla_pg_cdc_spark... import X`` against the package."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"
PKG = "scylla_pg_cdc_spark"


def _missing(module: str, names: list[str]) -> list[str]:
    try:
        mod = importlib.import_module(module)
    except ImportError as e:
        return [f"{module} ({e})"]
    return [
        f"{module}.{n}"
        for n in names
        if not hasattr(mod, n)
        and not (
            hasattr(mod, "__path__")
            and importlib.util.find_spec(f"{module}.{n}") is not None
        )
    ]


def test_tool_imports_resolve():
    unresolved = []
    for path in sorted(TOOLS.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and (node.module or "").split(".")[0] == PKG
            ):
                unresolved += [
                    f"{path.name}:{node.lineno} {m}"
                    for m in _missing(node.module, [a.name for a in node.names])
                ]
    assert unresolved == []
