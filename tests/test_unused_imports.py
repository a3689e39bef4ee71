"""Every name a package module imports at module level is used there.

A dead import keeps a stale dependency edge in the worker re-import
chain (registry population order) and hides what a module really needs.
Spark-free: a pure AST scan. A ``noqa`` comment does not exempt a name;
package ``__init__`` modules (which import for side effects and
re-export) are out of scope."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "nats_stream_processor_spark"


def _unused(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text())
    imported = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                name = (alias.asname or alias.name).split(".")[0]
                imported[name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [f"{path.relative_to(PKG.parent)}:{line} {name}"
            for name, line in imported.items() if name not in used]


def test_package_modules_have_no_unused_imports():
    dead = [u for p in sorted(PKG.rglob("*.py")) if p.name != "__init__.py"
            for u in _unused(p)]
    assert dead == [], dead
