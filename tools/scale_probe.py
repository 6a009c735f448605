"""Dedup slope sweep (SCALE.md round 9): time the linear-by-design
dedup operators at each corpus size and print wall-clock + output rows.

Generates the corpus JVM-side (no driver transfer).

    python tools/scale_probe.py --dedup-sweep 5000,50000,500000
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402

from news_data_pipeline_spark.operators import dedup  # noqa: E402
from news_data_pipeline_spark.session import get_spark  # noqa: E402


def dedup_sweep(spark, sizes: list[int]) -> None:
    """Measured SLOPES for the dedup family (SCALE.md round 9): run the
    linear-by-design operators at N, 10N, 100N and print wall-clock +
    output rows per size, so the table can state t(10N)/t(N) directly.

    Corpus model: ~40-word docs over a 50k-word vocabulary, each doc's
    words seeded by its own id EXCEPT every 20th doc, which repeats its
    predecessor — a 5% duplicate rate, the realistic web-crawl regime
    (this corpus isolates input-size scaling, not output size). The
    jaccard arm runs with the registered query's max_df=100 cap and
    reports its candidate-pair count — the postings-boundedness
    evidence (pairs track the duplicate count, not corpus^2).
    """
    for n_docs in sizes:
        seed = F.when(
            F.col("id") % 20 == 19, F.col("id") - 1
        ).otherwise(F.col("id"))
        # Murmur3 word index — a LINEAR map here aliases (gcd with the
        # vocab size makes distinct seeds collide wholesale)
        words = F.array(
            *[
                F.concat(
                    F.lit("w"),
                    F.pmod(F.hash(seed * 40 + F.lit(i)), F.lit(50_000))
                    .cast("string"),
                )
                for i in range(40)
            ]
        )
        docs = (
            spark.range(n_docs)
            .select(
                F.col("id").alias("doc_id"),
                F.concat_ws(" ", words).alias("text"),
            )
            .persist()
        )
        print(f"\n=== dedup sweep: {docs.count()} docs ===")

        def timed(name, thunk):
            t0 = time.perf_counter()
            n = thunk().count()
            print(f"{name}: {time.perf_counter() - t0:.1f}s, {n} rows")

        timed(
            "fingerprint_dedup",
            lambda: dedup.fingerprint_dedup(docs, "text", "doc_id"),
        )
        timed(
            "minhash_signatures",
            lambda: dedup.minhash_signatures(
                dedup.word_shingles(docs, "doc_id", "text")
            ),
        )
        timed(
            "lsh_dedup_representatives",
            lambda: dedup.lsh_dedup_representatives(docs, "doc_id", "text"),
        )
        timed(
            "span_dedup_stats",
            lambda: dedup.span_dedup_stats(docs, "doc_id", "text"),
        )
        timed("simhash", lambda: dedup.simhash(docs, "doc_id", "text"))
        timed(
            "ngram_jaccard_pairs(max_df=100)",
            lambda: dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", max_df=100
            ),
        )
        docs.unpersist()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dedup-sweep", type=str, required=True,
                    help="comma-separated corpus sizes: run the dedup "
                         "slope sweep (5%% duplicate rate)")
    args = ap.parse_args()

    spark = get_spark("scale_probe")
    dedup_sweep(spark, [int(x) for x in args.dedup_sweep.split(",")])
    spark.stop()


if __name__ == "__main__":
    main()
