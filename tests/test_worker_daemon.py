"""The Python worker start-up (rtcdb_spark/worker_site/sitecustomize.py):
the sys.path rule it applies before pyspark loads, what it may import, the
interpreter's own sitecustomize it shadows, and what an executor task and
a Python Data Source planner on the test session actually import; and the
Python Data Source modules every fresh worker process imports."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import zipfile
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql.datasource import DataSource, DataSourceReader

import rtcdb_spark.worker_site.sitecustomize as worker_site
from rtcdb_spark.worker_site.sitecustomize import worker_path

_SITE_DIR = Path(worker_site.__file__).parent


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


def test_sitecustomize_imports_only_the_standard_library():
    """It runs before any pyspark import, in every worker process."""
    tree = ast.parse(Path(worker_site.__file__).read_text())
    imported = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported.update(alias.name.split(".")[0] for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, "relative import"
            imported.add(node.module.split(".")[0])
    assert imported and imported <= sys.stdlib_module_names, imported


def test_data_source_modules_load_no_pandas():
    """Every fresh planner, streaming-runner and reader process imports
    these modules; pandas would add ~0.4 s to each of them."""
    code = (
        "import sys, rtcdb_spark.sources.rtcdb_native, rtcdb_spark.sources.delta_stream; "
        "sys.exit('pandas' in sys.modules)"
    )
    root = _SITE_DIR.parent.parent
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True, timeout=60)


def test_shadowed_sitecustomize_still_runs(tmp_path):
    """An interpreter's own sitecustomize later on the path runs, after the
    path is fixed."""
    later = tmp_path / "later"
    later.mkdir()
    (later / "sitecustomize.py").write_text(
        "import os, sys\n"
        "print('shadowed ran', __name__, any(p.endswith('.jar') for p in sys.path))\n"
    )
    jar = str(tmp_path / "spark-core_2.13-4.1.2.jar")
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([str(_SITE_DIR), jar, str(later)])}
    out = subprocess.run(
        [sys.executable, "-c", "import sitecustomize; print(sitecustomize.__file__)"],
        env=env, capture_output=True, text=True, check=True, timeout=60,
    )
    assert out.stdout.splitlines() == [
        "shadowed ran sitecustomize False",
        str(_SITE_DIR / "sitecustomize.py"),
    ], out.stderr


def _loaded() -> dict:
    """What this process imported pyspark from, and which archives it still
    has an importer for."""
    import zipimport

    import pyspark

    archives = sorted(
        {
            imp.archive
            for imp in list(sys.path_importer_cache.values())
            if isinstance(imp, zipimport.zipimporter)
        }
    )
    return {
        "main": sys.modules["__main__"].__spec__.name,
        "pyspark": pyspark.__file__,
        "archives": archives,
    }


def _assert_installed_pyspark(loaded: dict) -> None:
    import pyspark

    assert loaded["main"] == "pyspark.daemon"
    assert loaded["pyspark"] == pyspark.__file__
    stale = [a for a in loaded["archives"] if a.endswith((".jar", "pyspark.zip"))]
    assert stale == []


def _imports(batches):
    row = _loaded()
    for _ in batches:
        yield pa.RecordBatch.from_pylist([row])


def test_python_task_imports_installed_pyspark_without_archives(spark):
    (row,) = (
        spark.range(1, numPartitions=1)
        .mapInArrow(_imports, "main string, pyspark string, archives array<string>")
        .collect()
    )
    _assert_installed_pyspark(row.asDict())


class _ProbeReader(DataSourceReader):
    def read(self, partition):
        yield (1,)


class _ProbeSource(DataSource):
    """``schema()`` runs in a planner worker; it writes what that process
    loaded to the file named by the ``out`` option."""

    @classmethod
    def name(cls):
        return "worker_startup_probe"

    def schema(self):
        with open(self.options["out"], "w") as fh:
            json.dump(_loaded(), fh)
        return "x int"

    def reader(self, schema):
        return _ProbeReader()


def test_data_source_planner_imports_installed_pyspark_without_archives(spark, tmp_path):
    out = tmp_path / "planner.json"
    spark.dataSource.register(_ProbeSource)
    spark.read.format("worker_startup_probe").option("out", str(out)).load()
    _assert_installed_pyspark(json.loads(out.read_text()))
