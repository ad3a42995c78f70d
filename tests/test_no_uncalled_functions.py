"""Every top-level function of the package has a caller outside the tests,
and every defaulted parameter of one takes more than one value from the
callers outside the tests.

A function that only a test calls is a twin or a spec nothing runs: it is
deleted, or its caller is named here. A defaulted parameter that every
non-test call passes the same value is an option with one value in use: it
is a constant, or its reason is named here. The checks are static (``ast``,
no JVM) and read the non-test modules: the package itself, the root scripts
(``__spark_entry__.py``, ``main.py``, ``bench.py``), ``scripts/`` and
``perfbench/``. A function counts as called when such a module names it
outside its own body.

``single_valued_parameters`` reads what each non-test call of a function of
the parameter's function's name passes: by keyword, by position, or, where
the call leaves the argument out, the default. Only literals (what
``ast.literal_eval`` accepts) count as one value: a name or an expression
varies at run time, so a call passing one gives the parameter a second
value, and so does a call that forwards ``*args`` / ``**kwargs``. A
default that every call leaves out is the one value in use whatever it is:
``unset_parameters`` finds those.
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

#: defaulted parameters kept with one value in use, each with its reason
ALLOWED_PARAMS = {
    # the storage seam: a deployment picks the write mode and the
    # partition overwrite of its table format; tests/test_storage.py
    # covers both against the local filesystem
    "storage.py:write_table:mode",
    "storage.py:write_table:overwrite_where",
    # the only way to reach the non-convergence RuntimeError (a test runs
    # one round on a 30-node path)
    "operators/dedupe.py:star_contract:max_iter",
    # perfbench passes it, and the benchmark's sources are fixed
    "streaming/state_stream.py:stream_conv_state:available_now",
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


def _forwards(call: ast.Call) -> bool:
    """Whether a call passes ``*args`` or ``**kwargs`` (anything may be
    set)."""
    return any(isinstance(a, ast.Starred) for a in call.args) \
        or any(k.arg is None for k in call.keywords)


_NOT_LITERAL = object()


def _literal(node: ast.expr):
    """The value of a literal, tagged with its type (``1``, ``1.0`` and
    ``True`` differ); ``_NOT_LITERAL`` for a name or an expression."""
    try:
        value = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return _NOT_LITERAL
    return type(value), repr(value)


def _parameter_uses():
    """``(key:name, passed, values)`` of each defaulted parameter outside
    ``ALLOWED_PARAMS``: whether a non-test call passes it, and the literal
    values those calls give it (the default's where one leaves it out)."""
    trees = _trees()
    calls = _calls(trees)
    for key, fn in _package_functions(trees):
        for i, name, default in _defaulted(fn):
            if f"{key}:{name}" in ALLOWED_PARAMS:
                continue
            values, passed = set(), False
            for c in calls.get(fn.name, ()):
                if _forwards(c):
                    passed = True
                    values.add(_NOT_LITERAL)
                    continue
                kw = {k.arg: k.value for k in c.keywords}
                if name in kw:
                    v = kw[name]
                elif i is not None and len(c.args) > i:
                    v = c.args[i]
                else:
                    values.add(_literal(default))
                    continue
                passed = True
                values.add(_literal(v))
            yield f"{key}:{name}", passed, values


def unset_parameters() -> list[str]:
    return sorted(p for p, passed, _ in _parameter_uses() if not passed)


def single_valued_parameters() -> list[str]:
    return sorted(p for p, passed, values in _parameter_uses()
                  if passed and len(values) == 1
                  and _NOT_LITERAL not in values)


def test_every_package_function_has_a_non_test_caller():
    assert uncalled_functions() == []


def test_every_defaulted_parameter_is_set_by_a_non_test_caller():
    assert unset_parameters() == []


def test_no_defaulted_parameter_has_a_single_value_in_use():
    assert single_valued_parameters() == []
