"""Static hygiene of the library source: no unused module-level imports,
no imports from the test suite, no round-numbered copies of root tools,
one materialization idiom, one definition per shared analytics constant
or helper, one module that builds message metadata.

Unused imports hide which helpers a module really depends on, and they
accumulate when code is moved between modules. Library code or a root
script that imports from ``tests`` makes the test suite part of the
program. A ``tools_*_r<NN>.py`` script is a per-round copy of a tool that
belongs in one maintained module (``analytics/profile.py``). A
``.cache()`` or ``.persist()`` that nothing unpersists stays in the
session's CacheManager after its query is dropped, and changes how later
plans in the same session print; an eager ``localCheckpoint`` is released
by the ContextCleaner instead. A string constant or helper function
retyped in two analytics modules drifts apart the first time one copy is
edited; shared ones live in ``det.py`` or ``relations.py`` (or in the
first module that defined them) and are imported. A metadata stamp that
``map_concat``s a key the message already carries builds a map with a
repeated key, which Spark rejects under its default map-key dedup policy;
``message.py`` overwrites without one, so every stamp goes through it and
no code sets the session policy to hide a repeat. The checks are plain AST
and glob passes (no Spark session, well under a second).

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


# The two uses that release what they hold: the router unpersists each
# batch in ``finally``, and the serving-mode table cache is meant to pin
# base tables for the session's lifetime.
PERSIST_ALLOWED = {
    "streaming/router.py::Router._process_batch",
    "analytics/registry.py::load",
}


def persist_calls(path: Path) -> list[tuple[str, int]]:
    """``(where::qualified.function, line)`` of each ``.cache()``,
    ``.persist(...)`` or ``.checkpoint(...)`` call in a module."""
    found = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                visit(child, scope + [child.name])
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("cache", "persist", "checkpoint")
            ):
                where = f"{path.relative_to(PKG).as_posix()}::{'.'.join(scope)}"
                found.append((where, child.lineno))
            visit(child, scope)

    visit(ast.parse(path.read_text()), [])
    return found


def test_materialization_is_eager_local_checkpoint():
    offenders = [
        f"{where} (line {line})"
        for path in sorted(PKG.rglob("*.py"))
        for where, line in persist_calls(path)
        if where not in PERSIST_ALLOWED
    ]
    assert not offenders, (
        "use .localCheckpoint(eager=True) instead of cache/persist/checkpoint:\n"
        + "\n".join(offenders)
    )


ANALYTICS = PKG / "analytics"


def _without_docstring(fn: ast.FunctionDef) -> ast.FunctionDef:
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]
    return ast.FunctionDef(fn.name, fn.args, body, fn.decorator_list, fn.returns)


def shared_definitions() -> dict[tuple[str, str], list[str]]:
    """Module-level string constants (same name, same value) and top-level
    functions (same AST, docstrings aside) defined in more than one
    analytics module, keyed by (name, definition)."""
    seen: dict[tuple[str, str], list[str]] = {}
    for path in sorted(ANALYTICS.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
                and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)
            ):
                key = (node.targets[0].id, node.value.value)
            elif isinstance(node, ast.FunctionDef):
                key = (node.name, ast.dump(_without_docstring(node)))
            else:
                continue
            seen.setdefault(key, []).append(path.name)
    return {k: v for k, v in seen.items() if len(v) > 1}


def test_no_duplicate_definitions_in_analytics():
    dups = shared_definitions()
    assert not dups, "defined in more than one analytics module:\n" + "\n".join(
        f"{name}: {', '.join(mods)}" for (name, _), mods in sorted(dups.items())
    )


# The program: the library, the examples and the root scripts. Analytics
# queries build maps over tables, never over message metadata.
PROGRAM = [
    p
    for p in sorted(PKG.rglob("*.py"))
    + sorted((REPO / "examples").glob("*.py"))
    + sorted(REPO.glob("*.py"))
    if "analytics" not in p.relative_to(REPO).parts[:2]
]
MAP_BUILDERS = {"map_concat", "map_from_entries"}


def metadata_writes(path: Path) -> list[str]:
    """``path:line`` of each call that writes the map-key dedup policy (a
    string argument naming it: ``conf.set``, ``.config``, ``SET``) and,
    outside ``message.py``, each ``map_concat``/``map_from_entries``."""
    builds_maps_here = path == PKG / "message.py"
    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not isinstance(node, ast.Call):
            continue
        func = node.func
        name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", "")
        sets_policy = any(
            isinstance(a, ast.Constant)
            and isinstance(a.value, str)
            and "mapKeyDedupPolicy" in a.value
            for a in node.args
        )
        if sets_policy or (name in MAP_BUILDERS and not builds_maps_here):
            found.append(f"{path.relative_to(REPO)}:{node.lineno}")
    return found


def test_metadata_is_written_only_by_message_module():
    offenders = [hit for path in PROGRAM for hit in metadata_writes(path)]
    assert not offenders, (
        "set metadata through watermill_spark.message (with_metadata, "
        "metadata_set, ...), never map_concat or the dedup policy:\n"
        + "\n".join(offenders)
    )
