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

A defaulted parameter that every call passes the same value, the tests'
calls included, is an option with one value too: ``single_valued_parameters``
compares the source text of what each call of a function of its name
passes (the default's, where a call leaves it out) and fails when a call
sets it and all agree.
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

#: defaulted parameters kept though every call passes one value, each with
#: its reason
ALLOWED_SINGLE = {
    # perfbench passes it, and the benchmark's sources are fixed
    "streaming/state_stream.py:stream_conv_state:available_now",
    # a path, which stays a deployment setting
    "operators/linkage.py:blocking_quality_audit:store_path",
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


def _calls(trees) -> dict[str, list[ast.Call]]:
    """Every call in ``trees``, by the name it calls."""
    calls: dict[str, list] = {}
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else \
                    f.attr if isinstance(f, ast.Attribute) else None
                calls.setdefault(name, []).append(n)
    return calls


def _defaulted(fn):
    """``(position or None, name, default)`` of each defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(i, p.arg, a.defaults[i - first])
           for i, p in enumerate(pos) if i >= first]
    out += [(None, p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None]
    return out


def unset_parameters() -> list[str]:
    trees = _trees()
    calls = {name: [_set_by(c) for c in cs]
             for name, cs in _calls(trees).items()}
    found = []
    for key, fn in _package_functions(trees):
        for i, name, _ in _defaulted(fn):
            if any(c is None or name in c[1] or (i is not None and c[0] > i)
                   for c in calls.get(fn.name, ())):
                continue
            if f"{key}:{name}" not in ALLOWED_PARAMS:
                found.append(f"{key}:{name}")
    return sorted(found)


def single_valued_parameters() -> list[str]:
    trees = _trees()
    calls = _calls({**trees, **{f: ast.parse(f.read_text(), str(f))
                                for f in (ROOT / "tests").rglob("*.py")}})
    found = []
    for key, fn in _package_functions(trees):
        for i, name, default in _defaulted(fn):
            values, set_somewhere = set(), False
            for c in calls.get(fn.name, ()):
                if _set_by(c) is None:
                    values = None
                    break
                kw = {k.arg: k.value for k in c.keywords}
                if name in kw:
                    v = kw[name]
                elif i is not None and len(c.args) > i:
                    v = c.args[i]
                else:
                    values.add(ast.unparse(default))
                    continue
                set_somewhere = True
                values.add(ast.unparse(v))
            if set_somewhere and values is not None and len(values) == 1 \
                    and f"{key}:{name}" not in ALLOWED_SINGLE:
                found.append(f"{key}:{name}")
    return sorted(found)


def test_every_package_function_has_a_non_test_caller():
    assert uncalled_functions() == []


def test_every_defaulted_parameter_is_set_by_a_non_test_caller():
    assert unset_parameters() == []


def test_no_defaulted_parameter_has_a_single_value_in_use():
    assert single_valued_parameters() == []
