"""A/B: eager localCheckpoint of pq_ivf_residual_topk's recurring
subtrees (residual frame, codebook) vs the all-lazy plan — judge r9 #1.

Runs the registered query shape at sf0.1 N times per arm, prints
medians. Arms are toggled via a module-level switch the operator reads
so both arms run the same code path.
"""

import statistics
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from news_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    import pyspark.sql.functions as F

    from news_data_pipeline_spark.operators import pq as pqmod
    from news_data_pipeline_spark.sources.catalog import load_table

    spark = get_spark()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)

    def run(materialize: bool):
        return pqmod.pq_ivf_residual_topk(
            queries, emb, sub_dim=16, m=4, kcodes=16, iters=1,
            k=10, nlist=16, nprobe=4, materialize=materialize,
        ).collect()

    baseline = None
    for arm in ("lazy", "ckpt"):
        mat = arm == "ckpt"
        run(mat)  # warm
        ts = []
        for _ in range(n):
            t0 = time.perf_counter()
            rows = run(mat)
            ts.append(time.perf_counter() - t0)
        rows_key = sorted(
            (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rank"])
            for r in rows
        )
        if baseline is None:
            baseline = rows_key
        else:
            assert rows_key == baseline, "arms disagree!"
        print(
            f"{arm}: median {statistics.median(ts):.3f}s "
            f"min {min(ts):.3f} max {max(ts):.3f} (n={n})",
            flush=True,
        )


if __name__ == "__main__":
    main()
