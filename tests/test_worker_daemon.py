"""The Python-worker daemon: workers import pyspark from the installed
files, not from Spark's zip, and the version guard keeps the worker
path whenever the installed pyspark is not the one Spark shipped."""

from __future__ import annotations

import zipfile

from etl_spark.worker_daemon import worker_path


def test_python_task_imports_pyspark_outside_any_zip(spark):
    def where(_):
        import sys

        import pyspark

        return pyspark.__file__, [p for p in sys.path if p.endswith((".zip", ".jar"))]

    for path, archives in spark.sparkContext.parallelize([0, 1], 2).map(where).collect():
        assert ".zip" not in path and ".jar" not in path, path
        assert archives == []


def _shipped(tmp_path, version):
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(archive)


def _installed(tmp_path, version, py4j=True):
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_text(f"__version__: str = '{version}'\n")
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    return str(site)


def test_guard_drops_archives_only_for_the_same_pyspark(tmp_path):
    archive, site = _shipped(tmp_path, "4.1.2"), _installed(tmp_path, "4.1.2")
    jar = str(tmp_path / "spark-core.jar")
    assert worker_path([archive, jar, site]) == [site]


def test_guard_keeps_the_path_when_versions_differ(tmp_path):
    path = [_shipped(tmp_path, "4.1.2"), _installed(tmp_path, "4.0.0")]
    assert worker_path(path) == path


def test_guard_keeps_the_path_without_py4j_outside_the_archives(tmp_path):
    path = [_shipped(tmp_path, "4.1.2"), _installed(tmp_path, "4.1.2", py4j=False)]
    assert worker_path(path) == path
