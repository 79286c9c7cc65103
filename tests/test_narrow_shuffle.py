"""`session.narrow_shuffle` is the one place that changes the shuffle width.

Pins its width rule (never above the configured width), the restore on exit,
the lock that keeps two threads on one session from seeing each other's
width, and — structurally — that no other code sets the width at runtime.
"""

from __future__ import annotations

import ast
import pathlib
import threading
import time

import pytest

from rtcdb_spark.session import (
    NARROW_ROWS_PER_PARTITION,
    RUNTIME_CONFS,
    narrow_shuffle,
)

_KEY = "spark.sql.shuffle.partitions"
_PKG = pathlib.Path(__file__).resolve().parent.parent / "rtcdb_spark"


@pytest.fixture
def configured(spark):
    """Set the session width for one test and restore the suite's width."""
    prev = spark.conf.get(_KEY)

    def _set(n: int) -> None:
        spark.conf.set(_KEY, str(n))

    yield _set
    spark.conf.set(_KEY, prev)


@pytest.mark.parametrize(
    "session_width, n_rows, want",
    [
        (4, 10**9, 4),  # never above the configured width
        (32, 1_000, 8),  # small relation gets the floor
        (32, 10**9, 32),  # huge relation keeps the full width
    ],
)
def test_width_rule(spark, configured, session_width, n_rows, want):
    configured(session_width)
    with narrow_shuffle(spark, n_rows):
        assert spark.conf.get(_KEY) == str(want)
    assert spark.conf.get(_KEY) == str(session_width)


def test_restores_width_when_body_raises(spark, configured):
    configured(32)
    with pytest.raises(RuntimeError, match="boom"):
        with narrow_shuffle(spark, 0):
            assert spark.conf.get(_KEY) == "8"
            raise RuntimeError("boom")
    assert spark.conf.get(_KEY) == "32"


def test_two_threads_each_see_their_own_width(spark, configured):
    """Thread A holds a narrow width while thread B asks for a wider one;
    without the lock B's conf.set would land inside A's body."""
    configured(32)
    entered = threading.Event()
    seen: dict[str, str] = {}
    errors: list[BaseException] = []

    def a() -> None:
        try:
            with narrow_shuffle(spark, 0):
                entered.set()
                time.sleep(0.3)
                seen["a"] = spark.conf.get(_KEY)
        except BaseException as exc:  # surfaced to the main thread below
            errors.append(exc)
            entered.set()

    def b() -> None:
        try:
            entered.wait(timeout=30)
            with narrow_shuffle(spark, 20 * NARROW_ROWS_PER_PARTITION):
                seen["b"] = spark.conf.get(_KEY)
        except BaseException as exc:
            errors.append(exc)

    threads = [threading.Thread(target=a), threading.Thread(target=b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not errors, errors
    assert seen == {"a": "8", "b": "20"}
    assert spark.conf.get(_KEY) == "32"


def _shuffle_width_sets(tree: ast.AST) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every ``*.conf.set(<width key>, ...)``."""
    found: list[tuple[int, str | None]] = []

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "set"
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == _KEY
        ):
            found.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_only_narrow_shuffle_sets_the_width_at_runtime():
    inside, outside = 0, []
    for path in sorted(_PKG.rglob("*.py")):
        for line, func in _shuffle_width_sets(ast.parse(path.read_text())):
            if func == "narrow_shuffle":
                inside += 1
            else:
                outside.append(f"{path.relative_to(_PKG.parent)}:{line} in {func}")
    assert not outside, f"set the shuffle width via narrow_shuffle: {outside}"
    assert inside, "guard found no conf.set in narrow_shuffle — scan is broken"
    assert _KEY not in RUNTIME_CONFS
