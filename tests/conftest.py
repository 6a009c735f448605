"""Shared Spark fixture: one local session for the whole test run.

Session startup costs ~20-30 s; everything here is session-scoped so the
suite pays it once. Shuffle partitions are kept tiny — test frames are
rows, not gigabytes, and 200 empty tasks per shuffle would dominate
runtime.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from news_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session", autouse=True)
def _pin_pytest_basetemp(tmp_path_factory):
    # session.tune() redirects tempfile.tempdir into the engine's
    # tracked per-process parent (removed atexit); materialize pytest's
    # basetemp FIRST so tmp_path never lands under — and is never
    # reclaimed with — that parent.
    tmp_path_factory.getbasetemp()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
