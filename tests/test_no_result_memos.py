"""Guard against process-lifetime result memos in the query layers.

A module-level dict of executed frames outlives the inputs it was
computed from: a table rewritten in place keeps being answered from
the stale entry. Every query call in ``operators/`` and ``streaming/``
computes its own answer, so neither package may hold a module-level
``*_CACHE`` binding or a module-level name annotated with
``DataFrame``. (``sources/tables.py`` keeps metadata-only plan and
file-size caches and is outside this scan.)"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "scylla_pg_cdc_spark"


def _module_bindings(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    yield node, t.id, None
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node, node.target.id, ast.unparse(node.annotation)


def test_no_module_level_result_memos():
    offenders = []
    for sub in ("operators", "streaming"):
        for path in sorted((PKG / sub).glob("*.py")):
            tree = ast.parse(path.read_text(), filename=str(path))
            for node, name, annotation in _module_bindings(tree):
                if name.endswith("_CACHE") or "DataFrame" in (annotation or ""):
                    offenders.append(f"{sub}/{path.name}:{node.lineno} {name}")
    assert offenders == []
