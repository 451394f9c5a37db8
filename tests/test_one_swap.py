"""Guard: one crash-safe directory swap in the package.

Every epoch fold and the parquet repair executor commit through
``streaming/swap.py`` (stage at ``<live>_next``, park at
``<live>_prev``, promote, drop). A hand-copied stage/park/promote
elsewhere drifts from it and reopens the crash windows it closes, so
its suffix literals may appear in no other module."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "scylla_pg_cdc_spark"
SWAP = PKG / "streaming" / "swap.py"
SUFFIXES = {"_prev", "_next", ".__repair_old__", ".__repair_staging__"}


def test_swap_suffixes_only_in_swap_module():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == SWAP:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and node.value in SUFFIXES:
                offenders.append(
                    f"{path.relative_to(PKG)}:{node.lineno} {node.value!r}"
                )
    assert offenders == []
