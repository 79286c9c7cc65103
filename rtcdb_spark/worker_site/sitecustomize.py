"""Start-up of every Python worker a ``session.get_spark`` session launches.

``get_spark`` puts this directory first in ``spark.executorEnv.PYTHONPATH``
and nothing puts it on the driver's ``sys.path``, so the interpreter's
``site`` module imports this file, as ``sitecustomize``, in every Python
process Spark starts: the executor worker daemon, the Python Data Source
planner workers (``create_data_source``, filter pushdown, read planning),
the Python streaming-source runners and the simple (non-daemon) workers.
It runs before any pyspark import, including the ``-m pyspark.daemon`` or
``-m pyspark.worker`` module Spark asks for, so it imports only the
standard library.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the spark-core jar
on every Python worker's ``sys.path``. At the start of each task, and of
each planner call, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every
``zipimporter`` re-parse its archive's whole central directory. There is
one importer per archive and per package imported from it, ~27k entries
in all (pyspark.zip has 1328, the 4.1.2 spark-core jar 5359). The zip also
ships no bytecode, so a fresh process compiles pyspark from source. On 4
cores a 1-row ``mapInArrow`` task's ``executorRunTime`` was ~0.22 s with
the archives on the path and ~0.055 s without, and a trivial
``spark.read.format(<python source>).load()`` 0.12-0.20 s against
0.012-0.017 s.

This module drops every ``*.jar`` entry from ``sys.path``, drops
``pyspark.zip`` when the interpreter has an installed pyspark of the same
version (its ``pyspark/version.py`` has the zip's bytes; its sources are
the zip's, and it ships compiled bytecode), and clears
``sys.path_importer_cache`` so no importer of a dropped archive survives.
The process then imports that installed pyspark, and
``invalidate_caches()`` re-reads no archive.

An interpreter may ship its own ``sitecustomize`` further down
``sys.path`` (Debian's python does); this one shadows it, so it runs that
module once the path is fixed.
"""

from __future__ import annotations

import importlib.machinery
import importlib.util
import os
import sys
import zipfile

_VERSION_FILE = "pyspark/version.py"


def _zip_version_file(path: str) -> bytes | None:
    try:
        with zipfile.ZipFile(path) as zf:
            return zf.read(_VERSION_FILE)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version_file(path: list[str]) -> bytes | None:
    """``version.py`` of the regular ``pyspark`` package that ``path`` resolves."""
    spec = importlib.machinery.PathFinder.find_spec("pyspark", path)
    if spec is None or not spec.has_location or not spec.origin:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as fh:
            return fh.read()
    except OSError:
        return None


def worker_path(path: list[str]) -> list[str]:
    """``path`` without its ``*.jar`` entries, and without ``pyspark.zip``
    when the rest of ``path`` resolves an installed pyspark whose
    ``pyspark/version.py`` is byte-identical to the zip's. Order is kept."""
    kept = [p for p in path if not p.endswith(".jar")]
    zips = [p for p in kept if os.path.basename(p) == "pyspark.zip"]
    if not zips:
        return kept
    rest = [p for p in kept if p not in zips]
    installed = _installed_version_file(rest)
    if installed is not None and all(_zip_version_file(z) == installed for z in zips):
        return rest
    return kept


def _run_shadowed(path: list[str]) -> None:
    """Run the ``sitecustomize`` that ``path`` resolves once this file's
    directory is left out: the one this file shadows, if any."""
    here = os.path.dirname(os.path.abspath(__file__))
    rest = [p for p in path if os.path.abspath(p or os.curdir) != here]
    spec = importlib.machinery.PathFinder.find_spec("sitecustomize", rest)
    if spec is not None and spec.loader is not None:
        spec.loader.exec_module(importlib.util.module_from_spec(spec))


def _start() -> None:
    sys.path[:] = worker_path(sys.path)
    sys.path_importer_cache.clear()
    _run_shadowed(sys.path)


if __name__ == "sitecustomize":
    _start()
