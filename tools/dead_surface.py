#!/usr/bin/env python3
"""Dead-surface check: list every public name of the package that no non-test
code references.

A public name is a top-level ``def``, ``class`` or assignment target in a
``mlops_drift_detection_spark/`` module whose name has no leading ``_``. A
reference is an ``ast.Name``, an ``ast.Attribute`` or an import alias that
names it, anywhere in the repository's non-test Python (the package, tools,
the benchmark, entry scripts). Strings, comments and docstrings are not
references, so a catalog key or a docstring that mentions a name keeps
nothing alive. Re-exports in the package ``__init__.py`` files are imports,
so the declared API counts as referenced.

A top-level definition's own references count only while it is live, and a
definition's references to its own name (recursion) do not keep it alive. The
scan iterates to a fixed point, so a name used only by dead code is dead too.
Private top-level definitions take part in that propagation but are not
reported. Matching is by name, not by module: a reference to ``run`` keeps
every top-level ``run`` alive.

Prints ``path:line name`` for each dead public name and exits 1 if it printed
anything, 0 otherwise.

Usage: python tools/dead_surface.py [repo_root]
"""

from __future__ import annotations

import ast
import os
import sys

PACKAGE = "mlops_drift_detection_spark"

# Public names kept although no non-test code references them. Each entry
# says why it stays; anything else the scan reports is to be deleted, or moved
# into tests/ when a test uses it as a reference implementation.
ALLOW = {
    # The Iceberg table interface (sources/iceberg.py). Iceberg is the table
    # format the engine is meant to read, and its snapshot id is the candidate
    # input fingerprint for resume lineage; no engine call site exists yet.
    "IcebergTableIO",
    "iceberg_available",
}

_SKIP_DIRS = {"tests", "__pycache__", "spark-warehouse"}


def _python_files(root: str):
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(
            d for d in dirnames if d not in _SKIP_DIRS and not d.startswith(".")
        )
        for fn in sorted(filenames):
            if fn.endswith(".py") and not fn.startswith("test_") and fn != "conftest.py":
                yield os.path.join(dirpath, fn)


def _refs(node: ast.AST) -> set[str]:
    names = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
    return names


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a top-level statement defines, or [] if it is not a definition."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def scan(root: str) -> list[tuple[str, int, str]]:
    """(relative path, line, name) of each dead public package name."""
    root = os.path.abspath(root)
    pkg = os.path.join(root, PACKAGE) + os.sep
    live_names: set[str] = set()
    defs = []  # (path, line, names, refs)
    for path in _python_files(root):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        rel = os.path.relpath(path, root)
        for stmt in tree.body:
            names = _defined(stmt) if path.startswith(pkg) else []
            if names:
                defs.append((rel, stmt.lineno, names, _refs(stmt)))
            else:
                live_names |= _refs(stmt)
    pending = defs
    while True:
        woken = [d for d in pending if any(n in live_names for n in d[2])]
        if not woken:
            break
        for d in woken:
            live_names |= d[3]
        pending = [d for d in pending if d not in woken]
    return sorted(
        (rel, line, n)
        for rel, line, names, _ in pending
        for n in names
        if not n.startswith("_") and n not in ALLOW
    )


def main(argv: list[str]) -> int:
    root = argv[1] if len(argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    dead = scan(root)
    for rel, line, name in dead:
        print(f"{rel}:{line} {name}")
    return 1 if dead else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
