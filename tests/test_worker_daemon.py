"""The Python worker daemon (rtcdb_spark/worker_daemon.py): the sys.path
rule it applies before pyspark loads, and what a task on the test
session actually imports."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pyarrow as pa
import pytest

import rtcdb_spark
from rtcdb_spark.worker_daemon import worker_path

_ROOT = Path(rtcdb_spark.__file__).parent.parent


def _version_py(version: str) -> str:
    return f"__version__: str = '{version}'\n"


def _fake_zip(path: Path, version: str) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", _version_py(version))
    return str(path)


def _fake_install(site: Path, version: str) -> str:
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(_version_py(version))
    return str(site)


@pytest.mark.parametrize(
    "zip_version, installed_version, drops_zip",
    [
        ("4.1.2", "4.1.2", True),
        ("4.1.2", "4.0.0", False),
        ("4.1.2", None, False),
    ],
)
def test_worker_path_rule(tmp_path, zip_version, installed_version, drops_zip):
    cwd = str(tmp_path / "cwd")
    zip_ = _fake_zip(tmp_path / "pyspark.zip", zip_version)
    py4j = str(tmp_path / "py4j-0.10.9.9-src.zip")
    jar = str(tmp_path / "spark-core_2.13-4.1.2.jar")
    path = [cwd, zip_, py4j, jar, str(tmp_path / "lib")]
    if installed_version is not None:
        path.append(_fake_install(tmp_path / "site", installed_version))
    expected = [p for p in path if p != jar and not (drops_zip and p == zip_)]
    assert worker_path(path) == expected


def test_import_package_leaves_pyspark_unloaded():
    code = (
        "import sys, rtcdb_spark, rtcdb_spark.worker_daemon; "
        "sys.exit('pyspark' in sys.modules)"
    )
    env = {**os.environ, "PYTHONPATH": str(_ROOT)}
    subprocess.run([sys.executable, "-c", code], cwd=_ROOT, env=env, check=True, timeout=60)


def _imports(batches):
    import zipimport

    import pyspark

    archives = sorted(
        {
            imp.archive
            for imp in list(sys.path_importer_cache.values())
            if isinstance(imp, zipimport.zipimporter)
        }
    )
    row = {
        "main": sys.modules["__main__"].__spec__.name,
        "pyspark": pyspark.__file__,
        "archives": archives,
    }
    for _ in batches:
        yield pa.RecordBatch.from_pylist([row])


def test_python_task_imports_installed_pyspark_without_archives(spark):
    import pyspark

    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInArrow(_imports, "main string, pyspark string, archives array<string>")
        .collect()
    )
    assert row.main == "rtcdb_spark.worker_daemon"
    assert row.pyspark == pyspark.__file__
    stale = [a for a in row.archives if a.endswith((".jar", "pyspark.zip"))]
    assert stale == []
