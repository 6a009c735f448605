"""Python worker daemon that imports the installed pyspark.

Spark starts every Python worker with ``pyspark.zip``, the py4j source
zip and the spark-core jar ahead of site-packages on ``sys.path``. The
zip holds no bytecode, so each fresh worker compiles pyspark from
source, and every task's ``importlib.invalidate_caches()`` re-reads the
directory of each cached zipimporter over those archives. When the
installed pyspark is the same release as the zip (byte-identical
``pyspark/version.py``) and py4j imports without the archives, this
entry point drops them from the path and the importer cache, then runs
``pyspark.daemon`` unchanged. Otherwise the path is left as Spark built
it. ``session.get_spark`` selects it with ``spark.python.daemon.module``;
the package ``__init__`` imports no pyspark, because it runs first.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return os.path.isfile(entry) and (
        name == "pyspark.zip"
        or fnmatch.fnmatch(name, "py4j-*.zip")
        or fnmatch.fnmatch(name, "spark-core*.jar")
    )


def drop_spark_archives(path: list[str], importer_cache: dict) -> bool:
    """Remove Spark's archives from ``path`` and ``importer_cache`` in
    place when the installed pyspark matches and py4j is importable
    from the rest of ``path``; return whether anything was removed."""
    archives = [p for p in path if _is_spark_archive(p)]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in path if p not in archives]
    if not zips:
        return False
    spec = PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.origin or PathFinder.find_spec("py4j", rest) is None:
        return False
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as fh:
            installed = fh.read()
        with zipfile.ZipFile(zips[0]) as zf:
            shipped = zf.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return False
    if installed != shipped:
        return False
    path[:] = rest
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del importer_cache[key]
    return True


if __name__ == "__main__":
    drop_spark_archives(sys.path, sys.path_importer_cache)
    from pyspark.daemon import manager

    manager()
