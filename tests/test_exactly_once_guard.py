"""Streaming sinks keep one exactly-once commit rule and no directory swap.

`streaming.sinks._exactly_once` is the only reader of a writer's txn
high-water mark (`VersionedTable.txn_version`), and nothing under
`rtcdb_spark/streaming/` renames or recursively deletes directories: every
sink publishes through a `VersionedTable` commit. Static AST scan, no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "rtcdb_spark"


def _calls(path: Path):
    """``(module.function, called name, receiver name)`` of every call in
    one source file; the function is the top-level def enclosing it."""
    rel = path.relative_to(PKG).as_posix()
    for top in ast.parse(path.read_text()).body:
        scope = getattr(top, "name", None)
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Attribute):
                receiver = f.value.id if isinstance(f.value, ast.Name) else None
                yield f"{rel}:{scope}", f.attr, receiver
            elif isinstance(f, ast.Name):
                yield f"{rel}:{scope}", f.id, None


def test_txn_version_called_only_by_the_ledger_function():
    callers = [
        where
        for path in sorted(PKG.rglob("*.py"))
        for where, name, _recv in _calls(path)
        if name == "txn_version"
    ]
    assert callers == ["streaming/sinks.py:_exactly_once"], callers


def test_streaming_has_no_directory_swap():
    found = [
        (where, name)
        for path in sorted((PKG / "streaming").rglob("*.py"))
        for where, name, recv in _calls(path)
        if (recv, name) in {("os", "rename"), ("shutil", "rmtree")}
        or (recv is None and name in {"rename", "rmtree"})
    ]
    assert not found, found
