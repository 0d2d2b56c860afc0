"""The Python-worker per-task floor: get_spark sessions fork their workers
from pyworker.py, which takes Spark's python archives off ``sys.path``
when pyspark and py4j are installed as directories, so no task's
``importlib.invalidate_caches()`` re-reads a zip directory."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from incubator_flink_old_spark.pyworker import prune_archive_paths

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_imports_pyspark_outside_archives(spark):
    # Nested, so cloudpickle ships it by value: a worker cannot import
    # this test module.
    def worker_origin(batches):
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        yield pd.DataFrame({"file": [sys.modules["pyspark"].__file__], "zips": [zips]})

    rows = spark.range(1).mapInPandas(worker_origin, "file string, zips long").collect()
    assert rows
    for row in rows:
        # Spark's default daemon reports
        # $SPARK_HOME/python/lib/pyspark.zip/pyspark/__init__.py and 16
        # zipimporters (12 pyspark.zip, 2 py4j zip, 2 spark-core jar).
        assert ".zip" not in row.file and ".jar" not in row.file, row.file
        assert row.zips == 0, row


def test_package_import_does_not_load_pyspark():
    out = subprocess.run(
        [sys.executable, "-c", "import sys, incubator_flink_old_spark; print('pyspark' in sys.modules)"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False", out


def _zip_with(path, *packages):
    with zipfile.ZipFile(path, "w") as zf:
        for pkg in packages:
            zf.writestr(f"{pkg}/__init__.py", "")
    return str(path)


def test_prune_keeps_archives_when_pyspark_lives_only_there(tmp_path):
    archive = _zip_with(tmp_path / "pyspark.zip", "pyspark", "py4j")
    (tmp_path / "empty").mkdir()
    path = [archive, str(tmp_path / "empty")]
    importers = {archive: object()}
    prune_archive_paths(path, importers)
    assert path == [archive, str(tmp_path / "empty")]
    assert archive in importers


def test_prune_drops_archives_when_directories_resolve(tmp_path):
    archive = _zip_with(tmp_path / "pyspark.zip", "pyspark", "py4j")
    site = tmp_path / "site"
    for pkg in ("pyspark", "py4j"):
        (site / pkg).mkdir(parents=True)
        (site / pkg / "__init__.py").write_text("")
    jar = str(tmp_path / "spark-core.jar")
    path = [archive, jar, str(site)]
    importers = {archive: object(), archive + "/pyspark": object(), jar: None, str(site): None}
    prune_archive_paths(path, importers)
    assert path == [str(site)]
    assert list(importers) == [str(site)]
