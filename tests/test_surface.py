"""Regrowth guard: every top-level function, class and module constant
in the package has a caller somewhere in the repository's code.

A name counts as used when it appears, outside its own definition, as a
name, an attribute, an imported name or an exact string constant in the
package, ``tests/``, ``tools/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``. The scan is static and name-based, so it cannot
see a use through ``getattr`` with a computed string; such a caller must
spell the name out. ``__version__`` is exempt: it is the package's
public version string, kept for readers outside the code.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "training_datawarehouse_spark"
SCOPE = [PACKAGE, ROOT / "tests", ROOT / "tools", ROOT / "perfbench",
         ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _files():
    for p in SCOPE:
        yield from (sorted(p.rglob("*.py")) if p.is_dir() else [p])


def _uses(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a top-level statement defines: a def, a class, or the plain
    names an assignment binds."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and n.id != "__version__"]


def test_every_package_definition_has_a_caller():
    defs = []      # (name, file, index of its top-level statement)
    uses = {}      # (file, top-level statement index) -> names it uses
    for path in _files():
        tree = ast.parse(path.read_text(), filename=str(path))
        for i, stmt in enumerate(tree.body):
            uses[path, i] = _uses(stmt)
            if PACKAGE in path.parents:
                defs.extend((name, path, i) for name in _defined(stmt))
    orphans = sorted(
        f"{path.relative_to(PACKAGE)}:{name}"
        for name, path, i in defs
        if not any(name in names for key, names in uses.items()
                   if key != (path, i))
    )
    assert not orphans, "no caller: " + ", ".join(orphans)
