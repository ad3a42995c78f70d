"""Every top-level function of the package has a caller outside the tests.

A function that only a test calls is a twin or a spec nothing runs: it is
deleted, or its caller is named here. The check is static (``ast``, no JVM):
a function counts as called when any non-test module names it — the
package itself, the root scripts (``__spark_entry__.py``, ``main.py``,
``bench.py``), ``scripts/`` or ``perfbench/`` — outside its own body.
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


def uncalled_functions() -> list[str]:
    trees = {f: ast.parse(f.read_text(), str(f)) for f in _caller_files()}
    mentions = sum((_names(t) for t in trees.values()), Counter())
    found = []
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            key = f"{path.relative_to(PACKAGE).as_posix()}:{fn.name}"
            if mentions[fn.name] - _names(fn)[fn.name] == 0 \
                    and key not in ALLOWED:
                found.append(key)
    return sorted(found)


def test_every_package_function_has_a_non_test_caller():
    assert uncalled_functions() == []
