"""Spark's Python worker daemon, started without PySpark's zip archives.

Spark starts its Python workers with ``pyspark.zip``, the py4j source zip
and the ``spark-core`` jar first on ``PYTHONPATH``. Every task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on Python 3.11 each ``zipimporter`` those archives left in
``sys.path_importer_cache`` re-reads its archive's central directory on
that call: sixteen of them cost about 0.2 s of CPU per task.

``bravo_spark.session.get_spark`` names this module as
``spark.python.daemon.module``. When the interpreter has PySpark installed
outside the archives, at the version of the zip Spark put first, it drops
the archives from ``sys.path`` and ``sys.path_importer_cache``, so the
daemon and the workers it forks import the installed PySpark. Otherwise it
leaves both untouched. Either way it then runs ``pyspark.daemon``.

This module lives outside ``bravo_spark`` because that package imports
pyspark, which would load it from the zip before the archives are dropped.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile
from importlib.machinery import PathFinder

_ARCHIVES = (".zip", ".jar")
# the packages Spark ships as archives; an archive holding Python modules
# of any other package (a user's --py-files zip) is never dropped
_SPARK_PACKAGES = {"pyspark", "py4j"}
_VERSION = re.compile(r"^__version__\b[^=]*=\s*['\"]([^'\"]+)['\"]", re.M)


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _spark_archives(path: list[str]) -> tuple[list[str], str | None]:
    """The ``.zip``/``.jar`` entries of ``path`` whose Python modules all
    belong to pyspark or py4j (a jar holds none), and the ``__version__``
    in ``pyspark/version.py`` of the first archive holding pyspark."""
    archives, zipped = [], None
    for entry in path:
        if not entry.endswith(_ARCHIVES):
            continue
        try:
            with zipfile.ZipFile(entry) as z:
                tops = {n.split("/")[0] for n in z.namelist() if n.endswith((".py", ".pyc"))}
                if zipped is None and "pyspark" in tops:
                    zipped = _version(z.read("pyspark/version.py").decode())
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
        if tops <= _SPARK_PACKAGES:
            archives.append(entry)
    return archives, zipped


def drop_spark_archives(path: list[str], cache: dict) -> bool:
    """Remove Spark's archives from ``path`` and their importers from
    ``cache`` (both in place) when pyspark and py4j are found on the rest
    of ``path`` and the installed ``pyspark/version.py`` names the zip's
    version. Returns whether it did; if not, neither is touched."""
    archives, zipped = _spark_archives(path)
    if zipped is None:
        return False
    kept = [p for p in path if p not in archives]
    spec = PathFinder.find_spec("pyspark", kept)
    if spec is None or PathFinder.find_spec("py4j", kept) is None:
        return False
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py")) as f:
            if _version(f.read()) != zipped:
                return False
    except (OSError, TypeError, IndexError):
        return False
    path[:] = kept
    inside = tuple(a + os.sep for a in archives)
    for key in [k for k in cache if k in archives or k.startswith(inside)]:
        del cache[key]
    return True


if __name__ == "__main__":
    drop_spark_archives(sys.path, sys.path_importer_cache)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
