"""Every nodeid in tests/slow_marks.py names a test that exists.

conftest matches slow marks by exact nodeid, so a renamed or deleted
test silently loses its mark (and a slow test lands in the default
gate). Resolution reads the test modules' AST: no Spark, no collection.
"""

from __future__ import annotations

import ast
from pathlib import Path

from tests.slow_marks import SLOW_MODULES, SLOW_NODEIDS

TESTS_DIR = Path(__file__).parent


def _defined_tests(path: Path) -> set[str]:
    """`test_fn` and `Class::test_fn` names defined in one test module."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, funcs):
            names.add(node.name)
        elif isinstance(node, ast.ClassDef):
            names.update(
                f"{node.name}::{sub.name}"
                for sub in node.body
                if isinstance(sub, funcs)
            )
    return names


def test_slow_marks_resolve():
    defined: dict[str, set[str]] = {}
    missing = []
    for nodeid in sorted(SLOW_NODEIDS):
        module, _, name = nodeid.partition("::")
        name = name.split("[", 1)[0]  # parametrize suffix
        path = TESTS_DIR / module
        if module not in defined:
            defined[module] = _defined_tests(path) if path.exists() else set()
        if name not in defined[module]:
            missing.append(nodeid)
    assert not missing, missing
    assert all((TESTS_DIR / m).exists() for m in SLOW_MODULES), SLOW_MODULES
