"""Registered queries over all-NULL payload columns.

``tools/degenerate_fixture.py nullpayload`` keeps every key column of
the sf0.001 tables and NULLs the payloads (document text, event values,
embedding vectors). These tests pin the queries that once crashed or
diverged from their DuckDB twin on it, through the same comparison
``tools/check_oracle.py`` makes.
"""

from __future__ import annotations

import importlib.util
import threading
from pathlib import Path

import pytest

from tests.conftest import SF_DIR

TOOLS = Path(__file__).resolve().parents[1] / "tools"


def _tool(name: str):
    spec = importlib.util.spec_from_file_location(name, TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def null_payload_sf_dir(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sf_nullpayload"))
    _tool("degenerate_fixture").build("nullpayload", path, src=SF_DIR)
    return path


@pytest.mark.parametrize(
    "name",
    [
        # the codes directory holds no parquet file when every embedding
        # is NULL; the read-back used to raise UNABLE_TO_INFER_SCHEMA
        "pq_partitioned_cell_scan",
        # NULL text fails every rule: flags are 0, as in the SQL twin
        "gopher_quality_flags",
    ],
)
def test_null_payload_matches_oracle(spark, null_payload_sf_dir, name):
    import __spark_entry__ as entry

    line, failed, _ = _tool("check_oracle").check_one(
        spark,
        threading.local(),
        null_payload_sf_dir,
        name,
        entry.queries()[name],
        entry.oracle_sql()[name],
    )
    assert not failed, line


@pytest.mark.parametrize(
    "name", ["ann_recall_nprobe_curve", "ann_recall_trained_curve"]
)
def test_ann_recall_hits_are_counts_on_null_vectors(
    spark, null_payload_sf_dir, name
):
    # a sum of hits is a count: 0 when nothing matched, never NULL
    # (a NULL column materializes as float64 where the twin gives int)
    import __spark_entry__ as entry

    rows = entry.queries()[name](spark, null_payload_sf_dir).collect()
    assert [r["nprobe"] for r in sorted(rows)] == [1, 2, 4, 8, 16]
    assert all(r["n_hits"] == 0 for r in rows)


def test_pq_ivf_residual_topk_skips_training_without_vectors(
    spark, tmp_path, monkeypatch
):
    # with no non-NULL embedding the frozen artifacts are empty: the
    # residual-PQ trainer must not run for a 0-row answer
    from news_data_pipeline_spark.operators import pq
    from news_data_pipeline_spark.queries.corpusops import (
        pq_ivf_residual_topk,
    )

    spark.createDataFrame(
        [(i, None, i % 3) for i in range(20)],
        "vec_id bigint, embedding array<float>, label int",
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    def no_training(*args, **kwargs):
        raise AssertionError("pq_train ran on an empty frame")

    monkeypatch.setattr(pq, "pq_train", no_training)
    assert pq_ivf_residual_topk(spark, str(tmp_path)).count() == 0


def test_pq_adc_topk_skips_lloyd_without_vectors(spark, tmp_path, monkeypatch):
    # no non-NULL embedding means no seed: the PQ codebook artifact is
    # empty without running a Lloyd iteration for a 0-row answer
    from news_data_pipeline_spark.operators import pq
    from news_data_pipeline_spark.queries.corpusops import pq_adc_topk

    spark.createDataFrame(
        [(i, None, i % 3) for i in range(20)],
        "vec_id bigint, embedding array<float>, label int",
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    def no_lloyd(*args, **kwargs):
        raise AssertionError("a Lloyd iteration ran without seed vectors")

    monkeypatch.setattr(pq, "_lloyd_step", no_lloyd)
    assert pq_adc_topk(spark, str(tmp_path)).count() == 0
