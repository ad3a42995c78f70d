"""Every top-level function of the package has a caller outside the tests,
and every defaulted parameter of one has a caller outside the tests that
sets it.

A function that only a test calls is a twin or a spec nothing runs: it is
deleted, or its caller is named here. A defaulted parameter that no caller
sets is an option with one value in use: it is a constant, or its reason is
named here. The checks are static (``ast``, no JVM): a function counts as
called when any non-test module names it — the package itself, the root
scripts (``__spark_entry__.py``, ``main.py``, ``bench.py``), ``scripts/`` or
``perfbench/`` — outside its own body; a parameter counts as set when such a
module calls a function of its name passing it by keyword, by position, or
through ``*args`` / ``**kwargs``.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "java9_gc_log_parser_spark"

#: functions kept without a non-test caller, each with its reason
ALLOWED = {
    # the cosine Column expression: the exact all-pairs ground truth that
    # tests/test_contamination.py checks semantic_decontaminate's blocked
    # screen against
    "operators/similarity.py:cosine",
}

#: defaulted parameters kept without a non-test caller that sets them,
#: each with its reason
ALLOWED_PARAMS = {
    # the storage seam: a deployment picks the write mode and the
    # partition overwrite of its table format; tests/test_storage.py
    # covers both against the local filesystem
    "storage.py:write_table:mode",
    "storage.py:write_table:overwrite_where",
    # the only way to reach the non-convergence RuntimeError (a test runs
    # one round on a 30-node path)
    "operators/dedupe.py:star_contract:max_iter",
}


def _caller_files() -> list[Path]:
    files = [*PACKAGE.rglob("*.py"), *ROOT.glob("*.py"),
             *(ROOT / "scripts").rglob("*.py"),
             *(ROOT / "perfbench").rglob("*.py")]
    return [f for f in files if "tests" not in f.relative_to(ROOT).parts]


def _names(node: ast.AST) -> Counter:
    """Every identifier ``node`` mentions: names, attributes, imports."""
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
    return out


def _trees() -> dict[Path, ast.Module]:
    return {f: ast.parse(f.read_text(), str(f)) for f in _caller_files()}


def _package_functions(trees):
    """``(key prefix, def)`` of every top-level package function."""
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        for fn in tree.body:
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield f"{path.relative_to(PACKAGE).as_posix()}:{fn.name}", fn


def uncalled_functions() -> list[str]:
    trees = _trees()
    mentions = sum((_names(t) for t in trees.values()), Counter())
    found = []
    for key, fn in _package_functions(trees):
        if mentions[fn.name] - _names(fn)[fn.name] == 0 \
                and key not in ALLOWED:
            found.append(key)
    return sorted(found)


def _set_by(call: ast.Call) -> tuple[int, set[str]] | None:
    """(positional count, keyword names) a call passes; None when it
    forwards ``*args`` or ``**kwargs`` (anything may be set)."""
    if any(isinstance(a, ast.Starred) for a in call.args) \
            or any(k.arg is None for k in call.keywords):
        return None
    return len(call.args), {k.arg for k in call.keywords}


def unset_parameters() -> list[str]:
    trees = _trees()
    calls: dict[str, list] = {}
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else \
                    f.attr if isinstance(f, ast.Attribute) else None
                calls.setdefault(name, []).append(_set_by(n))
    found = []
    for key, fn in _package_functions(trees):
        a = fn.args
        pos = a.posonlyargs + a.args
        defaulted = [(i, p.arg) for i, p in enumerate(pos)
                     if i >= len(pos) - len(a.defaults)]
        defaulted += [(None, p.arg) for p, d in zip(a.kwonlyargs,
                                                    a.kw_defaults)
                      if d is not None]
        for i, name in defaulted:
            if any(c is None or name in c[1] or (i is not None and c[0] > i)
                   for c in calls.get(fn.name, ())):
                continue
            if f"{key}:{name}" not in ALLOWED_PARAMS:
                found.append(f"{key}:{name}")
    return sorted(found)


def test_every_package_function_has_a_non_test_caller():
    assert uncalled_functions() == []


def test_every_defaulted_parameter_is_set_by_a_non_test_caller():
    assert unset_parameters() == []
