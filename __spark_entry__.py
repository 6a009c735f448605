"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``news_data_pipeline_spark.queries`` — the engine's
declared query surface. Every operator from SURVEY.md §2 (plus the
LLM-data extensions) registers itself there as a (PySpark fn, ANSI-SQL
oracle) pair; this module just re-exports the registry in the shape the
driver expects.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from news_data_pipeline_spark import queries as _q  # noqa: E402
from news_data_pipeline_spark.session import tune  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: revenue per nation —
    a filter/join/broadcast/aggregate slice through the engine."""
    tune(spark)
    return _q.query_map()["revenue_per_nation"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.query_map()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_map()
