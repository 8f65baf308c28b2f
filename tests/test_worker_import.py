"""bravo_worker.py: Spark's Python workers import the installed PySpark, not
the copy in ``pyspark.zip``, so no ``zipimporter`` re-reads an archive on
each task's ``importlib.invalidate_caches()``; and the daemon leaves the
worker path untouched unless the installed PySpark is the zip's version."""

from __future__ import annotations

import zipfile

import pytest

import bravo_worker


def test_workers_import_no_zip(spark):
    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame({
            "file": [pyspark.__file__],
            "zipimporters": [sum(isinstance(v, zipimport.zipimporter)
                                 for v in sys.path_importer_cache.values())],
        })

    rows = spark.range(0, 4, 1, 4).mapInPandas(probe, "file string, zipimporters long").collect()
    assert len(rows) == 4
    for r in rows:
        assert ".zip" not in r.file and ".jar" not in r.file, r.file
        assert r.zipimporters == 0


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _tree(root, files):
    for name, text in files.items():
        (root / name).parent.mkdir(parents=True, exist_ok=True)
        (root / name).write_text(text)
    return str(root)


@pytest.fixture
def layout(tmp_path):
    """Spark's archives (pyspark 9.9.0 zip, py4j zip, a jar without Python)
    first, a user's --py-files zip, then a site directory."""
    spark_zip = _zip(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": "__version__: str = '9.9.0'\n"})
    py4j_zip = _zip(tmp_path / "py4j-src.zip", {"py4j/__init__.py": ""})
    jar = _zip(tmp_path / "spark-core.jar", {"org/apache/spark/A.class": "x"})
    user_zip = _zip(tmp_path / "deps.zip", {"mylib/__init__.py": ""})
    site = tmp_path / "site"
    site.mkdir()
    return [spark_zip, py4j_zip, jar, user_zip, str(site)]


def _install(site, version, py4j=True):
    files = {"pyspark/__init__.py": "", "pyspark/version.py": f'__version__ = "{version}"\n'}
    if py4j:
        files["py4j/__init__.py"] = ""
    _tree(site, files)


def test_drops_spark_archives_when_versions_match(layout, tmp_path):
    _install(tmp_path / "site", "9.9.0")
    path = list(layout)
    cache = {p: object() for p in layout}
    cache[layout[0] + "/pyspark/sql"] = object()
    assert bravo_worker.drop_spark_archives(path, cache)
    # the user's zip stays: it holds a package Spark does not ship
    assert path == [layout[3], layout[4]]
    assert sorted(cache) == sorted(path)


@pytest.mark.parametrize("case", ["version_mismatch", "no_pyspark", "no_py4j"])
def test_keeps_path_unless_installed_pyspark_matches(layout, tmp_path, case):
    if case == "version_mismatch":
        _install(tmp_path / "site", "9.8.0")
    elif case == "no_py4j":
        _install(tmp_path / "site", "9.9.0", py4j=False)
    path = list(layout)
    before = repr(path)
    cache = {p: object() for p in layout}
    cache_before = dict(cache)
    assert not bravo_worker.drop_spark_archives(path, cache)
    assert repr(path) == before
    assert cache == cache_before
