"""Standing rules over the package source itself (no Spark session)."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "adenhq_hive_spark"


def _public_top_level_names(path: Path) -> set[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return {
        node.name
        for node in tree.body
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
        and not node.name.startswith("_")
    }


def test_no_public_name_is_defined_in_two_modules():
    """One helper per idea: a public top-level def or class name lives
    in exactly one module, so an import can never silently pick a twin
    that computes the same idea differently."""
    where: dict[str, list[str]] = defaultdict(list)
    for path in sorted(PACKAGE.rglob("*.py")):
        for name in _public_top_level_names(path):
            where[name].append(str(path.relative_to(PACKAGE)))
    twice = {name: mods for name, mods in where.items() if len(mods) > 1}
    assert not twice, twice
