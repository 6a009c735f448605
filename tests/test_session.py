"""Python worker import path: workers import the installed pyspark."""

from __future__ import annotations

import os
import shutil
import zipfile

import pandas as pd

from news_data_pipeline_spark._daemon import drop_spark_archives


def test_workers_import_installed_pyspark(spark):
    import pyspark.sql.functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import re
        import sys

        import pyspark

        # importer-cache keys over Spark's archives: pyspark.zip, the
        # py4j source zip and the spark-core jar (and paths inside them)
        spark_keys = [
            k
            for k in sys.path_importer_cache
            if "pyspark.zip" in k or re.search(r"py4j-[^/]*\.zip|\.jar", k)
        ]
        return s.map(lambda _: f"{pyspark.__file__}|{len(spark_keys)}")

    got = {
        r[0] for r in spark.range(4).select(probe(F.col("id").cast("string"))).collect()
    }
    assert len(got) == 1
    origin, n_keys = got.pop().split("|")
    assert ".zip" not in origin
    assert n_keys == "0"


def _fake_checkout(root, *, shipped: bytes, installed: bytes | None, py4j: bool):
    """Spark's three archives plus a site directory holding an installed
    pyspark (unless ``installed`` is None) and py4j (if asked)."""
    lib = root / "lib"
    lib.mkdir()
    archive = str(lib / "pyspark.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", shipped)
    py4j_zip = str(lib / "py4j-0.10.9.9-src.zip")
    with zipfile.ZipFile(py4j_zip, "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    jar = str(lib / "spark-core.jar")
    shutil.copy(archive, jar)
    site = root / "site"
    site.mkdir()
    if installed is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_bytes(installed)
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    path = [archive, py4j_zip, jar, str(site)]
    cache = {p: object() for p in path}
    cache[os.path.join(archive, "pyspark")] = object()
    return path, cache


def test_drop_spark_archives_only_for_the_same_release(tmp_path):
    version = b'__version__: str = "4.1.2"\n'
    cases = {
        "other release": dict(shipped=version, installed=b'__version__ = "4.0.0"\n', py4j=True),
        "no installed pyspark": dict(shipped=version, installed=None, py4j=True),
        "no installed py4j": dict(shipped=version, installed=version, py4j=False),
    }
    for name, kwargs in cases.items():
        root = tmp_path / name.replace(" ", "_")
        root.mkdir()
        path, cache = _fake_checkout(root, **kwargs)
        before_path, before_cache = list(path), dict(cache)
        assert not drop_spark_archives(path, cache), name
        assert path == before_path, name
        assert cache == before_cache, name

    root = tmp_path / "same_release"
    root.mkdir()
    path, cache = _fake_checkout(root, shipped=version, installed=version, py4j=True)
    site = path[-1]
    assert drop_spark_archives(path, cache)
    assert path == [site]
    assert list(cache) == [site]


def test_package_init_imports_no_pyspark():
    # The worker daemon imports the package before it fixes sys.path.
    import subprocess
    import sys

    from tests.conftest import ROOT

    out = subprocess.run(
        [sys.executable, "-c", "import sys, news_data_pipeline_spark; print('pyspark' in sys.modules)"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "False"
