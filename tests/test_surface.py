"""Regrowth guard: every top-level function, class and module constant
in the package is reachable from a production entry point.

The roots are everything in ``bench.py``, ``__spark_entry__.py``,
``tools/`` and ``perfbench/``, plus the package's own top-level
statements that are neither imports, definitions nor assignments (the
``__main__`` guard) and the ``QUERIES`` tables the registry collects.
A name a reached body uses, as a name, an attribute, an imported name or
an exact string constant, reaches every package ``def``, ``class`` or
module assignment of that name, whose body is then scanned in turn.
Docstrings are not uses, and neither are top-level imports inside the
package, so an ``__init__`` re-export keeps nothing alive. ``tests/`` is
not a root: code only a test calls is dead weight, unless it is a
deliberate reference implementation listed in ``ORACLES`` with the test
that compares a production kernel against it.

The scan is static and name-based, so it cannot see a use through
``getattr`` with a computed string; such a caller must spell the name
out. ``__version__`` is exempt: it is the package's public version
string, kept for readers outside the code.

The same rule holds one level down, for parameters: a defaulted
parameter of a package ``def`` (top-level or method) is an option, and
an option no production caller sets is a constant written as a
keyword. It is live when some call in the package or the entry points
passes it, by keyword, by position or through ``*``/``**``, to a
callee whose name (a plain name or an attribute) equals the def's.
The ``ORACLES`` are exempt, and ``SEAMS`` names the few parameters a
test sets on purpose.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "training_datawarehouse_spark"
TESTS = ROOT / "tests"
ENTRY_POINTS = [ROOT / "bench.py", ROOT / "__spark_entry__.py",
                ROOT / "tools", ROOT / "perfbench"]
ROOT_ASSIGNMENTS = {"QUERIES"}

#: Reference implementations kept only as test oracles:
#: ``module:name`` -> ``test file::test`` that compares a production
#: kernel against it.
ORACLES = {
    "operators/jpeg.py:encode_jpeg":
        "test_codec_parity.py::test_jpeg_batch_apis_match_per_image",
    "operators/jpeg.py:_encode_block":
        "test_codec_parity.py::test_jpeg_encode_matches_scalar_reference",
    "operators/phash.py:phash_bands":
        "test_phash.py::test_phash_matches_independent_reference",
    "operators/phash.py:image_phash_signatures":
        "test_audiofp.py::test_fused_crossing_matches_separate_signatures",
    "operators/audiofp.py:fingerprint_bands":
        "test_kernel_parity.py::"
        "test_fingerprint_bands_scalar_and_batch_match_reference",
    "operators/audiofp.py:audio_fingerprint_signatures":
        "test_audiofp.py::test_fused_crossing_matches_separate_signatures",
}

#: Parameters only a test sets, kept on purpose:
#: ``module:function.param`` -> (``test file::test`` that sets it, why).
SEAMS = {
    "__main__.py:main.argv": (
        "test_pipeline.py::test_cli_main_end_to_end",
        "the CLI test seam: runs the command in-process"),
    "plans/northstar.py:similarity_ann.emb": (
        "test_dedup_similarity.py::test_ann_recall_on_clustered_vectors",
        "test corpus injection: a clustered slice rides the registry "
        "pipeline"),
    "operators/nndescent.py:nnd_graph.incremental": (
        "test_nndescent.py::test_incremental_flag_is_result_identical",
        "incremental=False is the parity reference of the default"),
}


def _files(paths):
    for p in paths:
        yield from (sorted(p.rglob("*.py")) if p.is_dir() else [p])


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _uses(node: ast.AST) -> set[str]:
    docstrings = {
        id(n.body[0].value) for n in ast.walk(node)
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef,
                          ast.ClassDef))
        and n.body and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
        and isinstance(n.body[0].value.value, str)
    }
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and id(n) not in docstrings):
            out.add(n.value)
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a top-level statement defines: a def, a class, or the plain
    names an assignment binds."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    else:
        return []
    return [n.id for t in targets for n in ast.walk(t)
            if isinstance(n, ast.Name) and n.id != "__version__"]


def _is_root(stmt: ast.stmt) -> bool:
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return False
    if (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)
            and isinstance(stmt.value.value, str)):
        return False   # module docstring
    names = _defined(stmt)
    return not names or bool(ROOT_ASSIGNMENTS & set(names))


def _scan():
    """(package definitions by name as ``[(module:name, statement)]``,
    the names the roots use)."""
    defs, roots = {}, set()
    for path in _files(ENTRY_POINTS):
        roots |= _uses(_parse(path))
    for path in _files([PACKAGE]):
        for stmt in _parse(path).body:
            for name in _defined(stmt):
                key = f"{path.relative_to(PACKAGE).as_posix()}:{name}"
                defs.setdefault(name, []).append((key, stmt))
            if _is_root(stmt):
                roots |= _uses(stmt)
    return defs, roots


def _reach(defs, names) -> set[str]:
    """The definitions (``module:name``) the given names reach."""
    live, seen, todo = set(), set(), list(names)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for key, stmt in defs.get(name, []):
            live.add(key)
            todo.extend(_uses(stmt) - seen)
    return live


def _test_function(where: str):
    """The ``test file::test`` function node, or None when it is gone."""
    fname, test = where.split("::")
    path = TESTS / fname
    tree = _parse(path) if path.exists() else ast.Module(body=[])
    return next((s for s in tree.body if isinstance(s, ast.FunctionDef)
                 and s.name == test), None)


def _package_functions():
    """``(module:qualname, def, is_method)`` for every top-level and
    method ``def`` in the package."""
    for path in _files([PACKAGE]):
        module = path.relative_to(PACKAGE).as_posix()
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield f"{module}:{stmt.name}", stmt, False
            elif isinstance(stmt, ast.ClassDef):
                for fn in stmt.body:
                    if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        static = any(isinstance(d, ast.Name)
                                     and d.id == "staticmethod"
                                     for d in fn.decorator_list)
                        yield (f"{module}:{stmt.name}.{fn.name}", fn,
                               not static)


def _defaulted(fn) -> list[tuple[str, int | None]]:
    """``(name, positional index)`` of each parameter with a default;
    the index is None for keyword-only parameters."""
    args = fn.args
    pos = args.posonlyargs + args.args
    first = len(pos) - len(args.defaults)
    out = [(a.arg, i) for i, a in enumerate(pos) if i >= first]
    out += [(a.arg, None) for a, d in zip(args.kwonlyargs, args.kw_defaults)
            if d is not None]
    return out


def _production_calls() -> dict[str, list[ast.Call]]:
    """Every call in the package and the entry points, by callee name."""
    calls: dict[str, list[ast.Call]] = {}
    for path in _files([PACKAGE, *ENTRY_POINTS]):
        for n in ast.walk(_parse(path)):
            if isinstance(n, ast.Call):
                f = n.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name:
                    calls.setdefault(name, []).append(n)
    return calls


def _passes(call: ast.Call, name: str, index: int | None,
            method: bool) -> bool:
    """Whether ``call`` may set the parameter: by keyword, through
    ``*``/``**``, or at its position (``self`` is not passed)."""
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return index is not None and len(call.args) + method > index


def _unset_parameters():
    """(``module:function.param`` of every defaulted parameter no
    production call sets, every defaulted parameter), ORACLES aside."""
    calls = _production_calls()
    unset, everything = [], set()
    for key, fn, method in _package_functions():
        if key in ORACLES:
            continue
        for name, index in _defaulted(fn):
            everything.add(f"{key}.{name}")
            if not any(_passes(c, name, index, method)
                       for c in calls.get(fn.name, [])):
                unset.append(f"{key}.{name}")
    return unset, everything


def test_every_package_definition_has_a_caller():
    defs, roots = _scan()
    everything = {key for found in defs.values() for key, _ in found}
    oracles = {key.split(":")[1] for key in ORACLES}
    orphans = sorted(everything - _reach(defs, roots | oracles))
    assert not orphans, "not reachable from an entry point: " + ", ".join(orphans)


def test_oracles_are_test_only_and_compared():
    """The allow-list cannot go stale: an oracle a root reaches is a
    production kernel, and one whose comparing test is gone is dead."""
    defs, roots = _scan()
    everything = {key for found in defs.values() for key, _ in found}
    live = _reach(defs, roots)
    problems = []
    for key, where in ORACLES.items():
        if key not in everything:
            problems.append(f"{key}: not defined")
        elif key in live:
            problems.append(f"{key}: reachable from an entry point")
        fname = where.split("::")[0]
        if _test_function(where) is None:
            problems.append(f"{key}: comparing test {where} is gone")
        elif key.split(":")[1] not in _uses(_parse(TESTS / fname)):
            problems.append(f"{key}: {fname} no longer references it")
    assert not problems, "; ".join(problems)


def test_every_parameter_default_is_set_by_a_production_caller():
    """A default no production caller overrides is a constant: fold it
    into the body. The ``SEAMS`` allow-list cannot go stale either: a
    seam must still be a defaulted parameter, still unset in
    production, and still set by the test it names."""
    unset, everything = _unset_parameters()
    problems = [f"{p}: no production caller sets it"
                for p in unset if p not in SEAMS]
    for key, (where, _why) in SEAMS.items():
        func = _test_function(where)
        if key not in everything:
            problems.append(f"{key}: not a defaulted parameter")
        elif key not in unset:
            problems.append(f"{key}: a production caller sets it")
        if func is None:
            problems.append(f"{key}: test {where} is gone")
        elif key.split(":")[1].split(".")[-2] not in _uses(func):
            problems.append(f"{key}: {where} no longer calls it")
    assert not problems, "; ".join(problems)
