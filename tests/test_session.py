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


def test_second_run_of_a_chain_compiles_no_class(spark, tmp_path):
    """The session's codegen cache holds a whole corpus run's generated
    classes, so a rerun of the same chain compiles none (Spark's default
    of 100 entries recompiles part of the working set on every run)."""
    import pyspark.sql.functions as F

    from news_data_pipeline_spark.functions.arrow_text import (
        compression_ratio,
        normalize_unicode,
    )
    from news_data_pipeline_spark.operators.dedup import fingerprint_dedup
    from news_data_pipeline_spark.operators.packing import pack_sequences
    from news_data_pipeline_spark.operators.sampling import (
        mixture_sample_by_rates,
        temperature_mixture_rates,
    )
    from news_data_pipeline_spark.queries import query_map
    from news_data_pipeline_spark.sources import writers
    from news_data_pipeline_spark.sources.jsonl import (
        read_jsonl,
        split_corrupt_records,
    )
    from tests.conftest import SF_DIR

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "256"
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "docs.jsonl").write_text(
        "".join(
            f'{{"doc_id": {i}, "source": "s{i % 3}", '
            f'"text": "document {i % 150} about topic {i * 7} and more words"}}\n'
            for i in range(300)
        )
        + "NOT JSON\n"
    )
    bm25_search = query_map()["bm25_search"]

    def run(out):
        valid, corrupt = split_corrupt_records(
            read_jsonl(spark, str(landing), "doc_id BIGINT, source STRING, text STRING")
        )
        writers.quarantine_writer(f"{out}/corrupt")(corrupt)
        corpus = valid.withColumn("text", normalize_unicode(F.col("text")))
        corpus = corpus.where(compression_ratio(F.col("text")) > 0.1)
        kept = fingerprint_dedup(corpus, "text", "doc_id")
        rates = temperature_mixture_rates(kept, "source", alpha=0.3)
        mixed = mixture_sample_by_rates(kept, "doc_id", "source", rates)
        tokens = mixed.withColumn("n_tokens", F.size(F.split(F.trim("text"), r"\s+")))
        writers.write_layer(
            pack_sequences(tokens, "doc_id", "n_tokens", ctx_len=64),
            f"{out}/packed",
            mode="overwrite",
        )
        bm25_search(spark, SF_DIR).write.mode("overwrite").parquet(f"{out}/bm25")

    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = codegen.METRIC_COMPILATION_TIME()
    run(str(tmp_path / "first"))
    before = compiles.getCount()
    run(str(tmp_path / "second"))
    assert compiles.getCount() - before == 0
