"""Entry point of the local Python worker daemon (``spark.python.daemon.module``).

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` and the spark-core jar
on every Python worker's ``sys.path``. At the start of each task
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every
``zipimporter`` re-parse its archive's whole central directory. There is
one importer per archive and per package imported from it, ~27k entries
in all (pyspark.zip has 1328, the 4.1.2 spark-core jar 5359). On 4 cores
a 1-row ``mapInArrow`` task's ``executorRunTime`` was ~0.22 s with them
on the path and ~0.055 s without.

Before it hands over to ``pyspark.daemon``, this module drops every
``*.jar`` entry from ``sys.path``, drops ``pyspark.zip`` when the
interpreter has an installed pyspark of the same version (its
``pyspark/version.py`` has the zip's bytes; its sources are the zip's,
and it ships compiled bytecode), and clears ``sys.path_importer_cache``
so no importer of a dropped archive survives.
Forked workers then import that installed pyspark, and a task's
``invalidate_caches()`` re-reads no archive.

Spark runs this module before any pyspark import, so the package it lives
in must not import pyspark (see ``rtcdb_spark/__init__.py``), and the
module itself imports only the standard library until the path is fixed.
"""

from __future__ import annotations

import importlib.machinery
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


def main() -> None:
    sys.path[:] = worker_path(sys.path)
    sys.path_importer_cache.clear()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
