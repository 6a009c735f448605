"""Dump every registered query's optimized physical plan to stdout.

Plan-quality inspection and round-over-round regression diffing:

    python tools/plan_dump.py > plans.txt
    python tools/plan_dump.py pricing_summary revenue_per_nation
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    from news_data_pipeline_spark.queries import query_map
    from news_data_pipeline_spark.session import get_spark

    names = sys.argv[1:] or sorted(query_map())
    spark = get_spark("plan_dump")
    qm = query_map()
    for name in names:
        df = qm[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        print(f"{'=' * 70}\n=== {name}\n{'=' * 70}\n{plan}")
    spark.stop()


if __name__ == "__main__":
    main()
