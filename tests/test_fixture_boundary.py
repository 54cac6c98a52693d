"""The registry fixtures live beside the driver contract, never in the
library: no function in ``jaccard_mapreduce_spark/`` is a fixture
(``*_demo``, ``_ensure_*`` or ``_scratch_dir``), and no package module
imports ``registry_fixtures`` — the package shipped to workers stays
free of driver-side scaffolding."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "jaccard_mapreduce_spark"


def _trees():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG.parent), ast.parse(path.read_text())


def test_library_defines_no_fixture_functions():
    found = [
        f"{path}::{node.name}"
        for path, tree in _trees()
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and (
            node.name.endswith("_demo")
            or node.name.startswith("_ensure_")
            or node.name == "_scratch_dir"
        )
    ]
    assert not found, found


def test_library_never_imports_the_fixtures_module():
    found = []
    for path, tree in _trees():
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [a.name for a in node.names]
            else:
                continue
            if any(n.split(".")[0] == "registry_fixtures" for n in names):
                found.append(f"{path}:{node.lineno}")
    assert not found, found
