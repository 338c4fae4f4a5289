"""Static hygiene of the library source: no unused module-level imports.

Unused imports hide which helpers a module really depends on, and they
accumulate when code is moved between modules. The check is a plain AST
pass over ``watermill_spark/`` (no Spark session, well under a second).

Exempt: package ``__init__.py`` files (their imports are re-exports or
registration side effects), ``from __future__`` imports, and any import
statement carrying a ``# noqa`` marker (a deliberate re-export or side
effect).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "watermill_spark"


def _module_imports(tree: ast.Module):
    """Yield import statements reachable at module level (incl. if/try)."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        elif isinstance(node, (ast.If, ast.Try)):
            stack.extend(node.body + node.orelse)
            if isinstance(node, ast.Try):
                stack.extend(node.finalbody)
                for h in node.handlers:
                    stack.extend(h.body)


def unused_imports(path: Path) -> list[str]:
    src = path.read_text()
    tree = ast.parse(src)
    lines = src.splitlines()
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    found = []
    for node in _module_imports(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if "# noqa" in "\n".join(lines[node.lineno - 1 : node.end_lineno]):
            continue
        for alias in node.names:
            bound = alias.asname or alias.name.split(".")[0]
            if alias.name != "*" and bound not in used:
                where = path.relative_to(PKG.parent)
                found.append(f"{where}:{node.lineno}: {bound}")
    return found


def test_no_unused_module_level_imports():
    offenders = [
        hit
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "__init__.py"
        for hit in unused_imports(path)
    ]
    assert not offenders, "unused imports:\n" + "\n".join(offenders)
