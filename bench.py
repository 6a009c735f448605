"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints TWO JSON lines — a full-detail line (per-query medians + min/max
for headline and tail tiers), then a COMPACT summary line LAST:
    {"metric": "...", "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "tail_value": ..., "sf": 0.1}
The compact line is last because the round driver captures only a tail
of stdout; r4's single detail line outgrew that window and recorded
``"parsed": null``. Keep the last line small and self-sufficient.

Each query executes fully (noop sink — every output column is computed,
nothing collects to the driver). The timed passes run after one un-timed
warm pass over the whole suite: a query's first execution in a fresh JVM
is dominated by Catalyst codegen + C2 JIT of its generated classes
(measured 2-8 s of compile-queue stall on the heaviest pipelines —
stack-sampled to interpreted execution, not data work), which a
100-TB-scale run amortizes to nothing. Steady-state wall-clock is the
throughput signal this file exists to track.

Per-query numbers are the MEDIAN of three full-suite sweeps (the host is
shared and noisy — identical code has measured 10x swings on single
runs; the median of interleaved sweeps decorrelates a contention burst
from any one query). Min/max across sweeps ship in ``queries_minmax``
so a noisy rep is visible, not hidden. Usage: python bench.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Representative slice of the declared surface: scan+agg, shuffles,
# broadcast joins, windows, LSH dedup, vector search, event-time windows,
# DQ split. Keep aligned with SURVEY.md §2 coverage.
HEADLINE_QUERIES = (
    "pricing_summary",
    "revenue_per_nation",
    "top_customers",
    "customer_running_spend",
    "order_status_rollup",
    "dq_valid_documents",
    "dedup_exact_fingerprint",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "embedding_neardup_pairs",
    "cosine_topk_bruteforce",
    "cosine_topk_ivf",
    "multimodal_image_features",
    "tumbling_hourly_counts",
    "user_sessions",
    "user_lifetime_totals",
    "events_asof_latest_order",
    "shipping_priority",
    "training_corpus",
)

# Second tier: oracled-but-heavier graph/ANN/retrieval operators whose
# wall-clock should be tracked before it regresses silently. Kept OUT of
# the headline total ("value") so cross-round baseline ratios stay
# apples-to-apples with the round-1 suite; reported separately as
# "tail_queries"/"tail_value".
TAIL_QUERIES = (
    "neardup_components",
    "neardup_keep_best",
    "lsh_dedup_representatives",
    "bm25_search",
    "tfidf_top_terms",
    "dedup_incremental_lsh",
    "adaptive_stopword_removal",
    "quality_top_fraction_per_lang",
    "document_lm_scores",
    "semantic_dedup_clusters",
    "neardup_triangle_counts",
    "duplicated_span_fraction",
    "token_cooccurrence_topk",
    "sorted_neighborhood_pairs",
    "purchase_state_attribution",
    "minhash_jaccard_estimates",
    "logreg_label_weights",
    "customer_abc_classes",
    # round-6 additions (tail grew 19 -> 22 this round; cross-round
    # tail comparisons use the shared-query subset in the detail line).
    # bpe_merge_table is deliberately absent: its sf0.1 wall-clock is
    # fixed per-merge scheduling overhead on a vocabulary-sized table
    # (no data-scaling signal); the correctness gate covers it.
    "pq_adc_topk",
    "merge_upsert_status_rollup",
    "word_fuzzy_pairs",
    # round-7 additions (tail 22 -> 25): the IVF-pruned ADC pair tracks
    # whether cell pruning keeps beating the pq_adc_topk full scan as
    # data grows; dsir is the heaviest new text aggregate.
    "pq_ivf_adc_topk",
    "pq_ivf_rerank_topk",
    "dsir_importance_weights",
    # round-7b additions (tail 25 -> 27): both scale linearly with the
    # corpus scan. bpe_document_token_counts stays out for the same
    # fixed-overhead reason as bpe_merge_table; langid_confusion is the
    # same scan class as the headline-adjacent document_language_id.
    "cms_heavy_hitters",
    "gopher_quality_flags",
    # round-8 additions (tail 27 -> 30): perplexity_buckets tracks the
    # per-language window funnel; dup_ngram_char_coverage is the new
    # heaviest per-doc window + coverage-join scan. Streamed twins stay
    # out (their wall-clock is checkpoint/temp-dir plumbing, not a
    # data-scaling signal). multimodal_crossmodal_topk moved to the
    # BUILD_COST tier in round 11.
    "perplexity_buckets",
    "dup_ngram_char_coverage",
    # round-8b additions (tail 30 -> 32): the remaining quantization
    # arms, so the whole ANN family's cost is tracked round-over-round
    "pq_ivf_residual_topk",
    "sq_adc_topk",
    # round-9 registrations deliberately absent: streamed_pq_codes is a
    # streamed twin (checkpoint/temp-dir plumbing, the standing
    # exclusion), pq_partitioned_cell_scan writes+reads a temp code
    # table per run (its data-scaling signal IS pq_ivf_adc_topk's,
    # already tracked; the partition-pruning property is a plan assert
    # in tests), and ann_recall_nprobe_curve's exact arm is the same
    # scan class as the headline cosine_topk_bruteforce — its cost is
    # sweep plan depth, not a new data term.
    # round-10 addition (tail 32 -> 33): the frozen-index retrieval
    # path (stored-cid ADC probe + rerank against on-disk artifacts,
    # built once in the untimed warm pass — the same train-once
    # amortization as the PQ codebook artifact). This is the
    # production retrieval shape; its in-plan-build twin lives in the
    # BUILD_COST tier so the build cost remains visible without
    # dominating tail comparisons. ann_recall_trained_curve stays out
    # for the nprobe-curve reason (sweep plan depth, no new data term).
    "crossmodal_topk_frozen",
)

# Third tier: DELIBERATELY-unoptimized build-cost trackers — queries
# whose registered shape re-pays a one-time index/train cost per run so
# that cost stays visible round-over-round. They are real registered
# queries with green oracle rows, but their wall-clock is intentional
# build work, not a retrieval-path regression signal: keeping them in
# the tail made round-over-round tail comparisons hostage to a query
# whose slowness is the point (round-10 verdict item 6). Reported as
# "build_value"/"build_queries", never folded into value or tail_value.
BUILD_COST_QUERIES = (
    # in-plan twin of crossmodal_topk_frozen: re-renders both towers and
    # re-trains PQ per query — the one-time build cost the frozen index
    # amortizes (SCALE.md round-10 frozen-index economics table)
    "multimodal_crossmodal_topk",
)


def run_query(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    elapsed = time.perf_counter() - t0
    # Some operators persist intermediates (LSH banding, shingle tables);
    # clear between queries so no query is timed against another's
    # leftover cache or pays its memory pressure.
    spark.catalog.clearCache()
    return elapsed


class ShuffleMeter:
    """Per-query shuffle read/write bytes from the app status store
    (r15, VERDICT item 2: give the bench a data-bound signal — at
    sf0.1 wall-clock is scheduler-overhead-bound, so shuffle BYTES are
    the instrument that can still see a shuffle-elimination win), and
    the Janino compiles in between from Spark's ``CodegenMetrics``: a
    steady run that still compiles classes is paying codegen-cache
    churn, not data work.

    Polls ``AppStatusStore.stageList`` between timed queries — zero
    work inside the timed region, no listener registration, works with
    the UI disabled. Deltas are bracketed by stage id (stages created
    after the last ``mark()``), so store eviction of old stages cannot
    corrupt them. Metrics land on the status store asynchronously, so
    a just-finished stage can occasionally be attributed to the next
    query — an approximation, disclosed here; the medians over three
    sweeps make it stable in practice. Purely ADDITIVE: timing
    methodology, tiers and both output lines' existing fields are
    unchanged; the detail line gains ``queries_shuffle_bytes`` and
    ``queries_compiles``. Any py4j failure disables the meter (values
    become null) rather than touching the bench.
    """

    def __init__(self, spark) -> None:
        self._spark = spark
        self._last = -1
        self._compiled = 0
        self._ok = True

    def _compiles(self) -> int:
        """Janino compiles in this JVM so far (driver and local tasks)."""
        codegen = self._spark.sparkContext._jvm.org.apache.spark.metrics.source
        return codegen.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()

    def _stages(self):
        sc = self._spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        seq = store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        return [
            (
                seq.apply(i).stageId(),
                seq.apply(i).shuffleWriteBytes(),
                seq.apply(i).shuffleReadBytes(),
            )
            for i in range(seq.size())
        ]

    def mark(self) -> None:
        if not self._ok:
            return
        try:
            ids = [sid for sid, _, _ in self._stages()]
            self._last = max(ids, default=self._last)
            self._compiled = self._compiles()
        except Exception:
            self._ok = False

    def delta(self):
        """[shuffle_write_bytes, shuffle_read_bytes, compiles] since
        mark()."""
        if not self._ok:
            return None
        try:
            st = self._stages()
            wr = sum(w for sid, w, _ in st if sid > self._last)
            rd = sum(r for sid, _, r in st if sid > self._last)
            self._last = max(
                [sid for sid, _, _ in st], default=self._last
            )
            compiled, self._compiled = self._compiled, self._compiles()
            return [wr, rd, self._compiled - compiled]
        except Exception:
            self._ok = False
            return None


def main() -> None:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    m = re.search(r"sf(\d+(?:\.\d+)?)", sf_dir)
    sf = float(m.group(1)) if m else None

    from news_data_pipeline_spark.queries import query_map
    from news_data_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    qmap = query_map()

    # Pre-fork the Python worker pool (one per core) and import pandas in
    # each: Arrow-stage queries should measure decode throughput, not 32
    # one-time worker cold starts. Workers are reused across queries
    # (spark.python.worker.reuse default), so this pays the fork exactly
    # where warm-up belongs. JVM/codegen warm-up comes from the full
    # un-timed suite pass below.
    n_workers = spark.sparkContext.defaultParallelism

    def _touch(batches):
        for b in batches:
            yield b

    spark.range(n_workers * 4).repartition(n_workers).mapInPandas(
        _touch, "id long"
    ).write.format("noop").mode("overwrite").save()

    # Un-timed warm pass over the whole suite: compiles every query's
    # generated code once so the timed passes below measure steady-state
    # data throughput, not first-run Catalyst/C2 compilation (see module
    # docstring; BENCH_BASELINE.md records the methodology A/B).
    all_queries = HEADLINE_QUERIES + TAIL_QUERIES + BUILD_COST_QUERIES
    for name in all_queries:
        run_query(qmap[name], spark, sf_dir)

    # Three timed full-suite sweeps; per-query median (see docstring).
    # The shuffle meter brackets each timed run with status-store polls
    # (outside the timed region) — per-query shuffle bytes and Janino
    # compiles ship in the DETAIL line only (compact line unchanged).
    meter = ShuffleMeter(spark)
    reps: dict[str, list[float]] = {name: [] for name in all_queries}
    shuf_reps: dict[str, list] = {name: [] for name in all_queries}
    for _ in range(3):
        for name in all_queries:
            meter.mark()
            reps[name].append(run_query(qmap[name], spark, sf_dir))
            shuf_reps[name].append(meter.delta())

    def median(ts: list[float]) -> float:
        return round(sorted(ts)[1], 3)

    timings = {name: median(reps[name]) for name in HEADLINE_QUERIES}
    minmax = {
        name: [round(min(reps[name]), 3), round(max(reps[name]), 3)]
        for name in HEADLINE_QUERIES
    }
    tail_timings = {name: median(reps[name]) for name in TAIL_QUERIES}
    tail_minmax = {
        name: [round(min(reps[name]), 3), round(max(reps[name]), 3)]
        for name in TAIL_QUERIES
    }
    build_timings = {name: median(reps[name]) for name in BUILD_COST_QUERIES}
    build_minmax = {
        name: [round(min(reps[name]), 3), round(max(reps[name]), 3)]
        for name in BUILD_COST_QUERIES
    }

    def med_shuffle(ts: list):
        good = [t[:2] for t in ts if t is not None]
        if not good:
            return None
        # median by write bytes (the exchange-produced bytes)
        return sorted(good)[len(good) // 2]

    def med_compiles(ts: list):
        good = sorted(t[2] for t in ts if t is not None)
        return good[len(good) // 2] if good else None

    shuffle_bytes = {
        name: med_shuffle(shuf_reps[name]) for name in all_queries
    }
    compiles = {name: med_compiles(shuf_reps[name]) for name in all_queries}

    detail, compact = format_output(
        timings, minmax, tail_timings, tail_minmax, sf,
        build_timings, build_minmax, shuffle_bytes, compiles,
    )
    # Full-detail line first (for humans / BENCH_*_local.json), compact
    # summary LAST — the driver's stdout-tail capture must always
    # contain the last line whole (r4's single 2.8 KB detail line was
    # truncated to "parsed": null).
    print(detail)
    sys.stdout.flush()
    print(compact)
    spark.stop()


def format_output(
    timings: dict,
    minmax: dict,
    tail_timings: dict,
    tail_minmax: dict,
    sf,
    build_timings: dict | None = None,
    build_minmax: dict | None = None,
    shuffle_bytes: dict | None = None,
    compiles: dict | None = None,
) -> tuple[str, str]:
    """(detail_line, compact_line) — compact MUST stay small and carry
    the driver-contract fields; pinned by tests/test_functions.py.
    ``build_*`` carries the deliberately-unoptimized build-cost tier
    (round 11): separate from tail_value so round-over-round tail
    comparisons track production shapes only. r10 and earlier
    tail_value included multimodal_crossmodal_topk (~6-7 s at sf0.1);
    compare across that boundary via the per-query detail values."""
    total = round(sum(timings.values()), 3)
    tail_total = round(sum(tail_timings.values()), 3)
    build_total = round(sum((build_timings or {}).values()), 3)
    detail = json.dumps(
        {
            "metric": "headline_query_wall_clock_detail",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "queries_minmax": minmax,
            "tail_value": tail_total,
            "tail_queries": tail_timings,
            "tail_queries_minmax": tail_minmax,
            "build_value": build_total,
            "build_queries": build_timings or {},
            "build_queries_minmax": build_minmax or {},
            # r15 addition (VERDICT item 2): per-query [shuffle_write,
            # shuffle_read] bytes (median sweep) — the data-bound
            # signal sf0.1 wall-clock cannot carry. Detail line only.
            "queries_shuffle_bytes": shuffle_bytes or {},
            # per-query Janino compiles (median sweep): 0 once every
            # generated class of a query stays in the codegen cache
            "queries_compiles": compiles or {},
            "sf": sf,
        }
    )
    compact = json.dumps(
        {
            "metric": "headline_query_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "tail_value": tail_total,
            "build_value": build_total,
            "sf": sf,
        }
    )
    return detail, compact


if __name__ == "__main__":
    main()
