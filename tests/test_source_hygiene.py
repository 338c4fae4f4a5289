"""Static hygiene of the library source: no unused module-level imports,
no imports from the test suite, no round-numbered copies of root tools.

Unused imports hide which helpers a module really depends on, and they
accumulate when code is moved between modules. Library code or a root
script that imports from ``tests`` makes the test suite part of the
program. A ``tools_*_r<NN>.py`` script is a per-round copy of a tool that
belongs in one maintained module (``analytics/profile.py``). The checks
are plain AST and glob passes (no Spark session, well under a second).

Exempt: package ``__init__.py`` files (their imports are re-exports or
registration side effects), ``from __future__`` imports, and any import
statement carrying a ``# noqa`` marker (a deliberate re-export or side
effect).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "watermill_spark"


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


def _imports_tests(path: Path) -> bool:
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            names = [node.module or ""]
        else:
            continue
        if any(n == "tests" or n.startswith("tests.") for n in names):
            return True
    return False


def test_program_does_not_import_the_test_suite():
    program = sorted(PKG.rglob("*.py")) + sorted(REPO.glob("*.py"))
    offenders = [str(p.relative_to(REPO)) for p in program if _imports_tests(p)]
    assert not offenders, "imports from tests: " + ", ".join(offenders)


def test_no_round_numbered_root_tools():
    copies = sorted(
        p.name for p in REPO.glob("tools_*.py") if re.fullmatch(r"tools_\w+_r\d+\.py", p.name)
    )
    assert not copies, "round-numbered tool copies: " + ", ".join(copies)
