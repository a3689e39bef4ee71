"""Every name a module imports at module level is used there.

A dead import keeps a stale dependency edge in the worker re-import
chain (registry population order) and hides what a module really needs.
Spark-free: a pure AST scan over the package, ``tests/`` and ``tools/``
(``perfbench/`` is benchmark code and out of scope). A ``noqa`` comment
does not exempt a name. Out of scope: ``__init__`` modules (which import
for side effects and re-export) and dotted ``import a.b`` lines without
``as``, which import for a side effect (registry population)."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _unused(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    imported = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                if (isinstance(node, ast.Import) and alias.asname is None
                        and "." in alias.name):
                    continue
                imported[alias.asname or alias.name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [f"{path.relative_to(ROOT)}:{line} {name}"
            for name, line in imported.items() if name not in used]


def _dead(*dirs: str) -> list[str]:
    return [u for d in dirs for p in sorted((ROOT / d).rglob("*.py"))
            if p.name != "__init__.py" for u in _unused(p)]


def test_package_modules_have_no_unused_imports():
    assert _dead("nats_stream_processor_spark") == []


def test_tests_and_tools_have_no_unused_imports():
    assert _dead("tests", "tools") == []
