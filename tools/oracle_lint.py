"""Static oracle-portability linter: DuckDB-version-fragile constructs.

Round 5 proved the failure mode: oracle SQL that is exact on THIS
machine's DuckDB but flips on the driver's build — rounded ratios whose
half-way cells depend on the round() implementation, list slicing whose
bound semantics shifted across releases, arrow-lambda list functions
whose surface changed, and `//` which moved from truncation to floor
division. A second DuckDB cannot be installed here, so this gate is the
substitute: it bans the fragile surface STRUCTURALLY from every
registered oracle.

Rules (after stripping ``--`` comments and string literals):

ERROR (exit 1):
- list slicing ``expr[a:b]`` — bound semantics changed across releases
- arrow lambdas ``->`` / ``list_filter|list_transform|list_reduce``
- ``round(`` applied to an expression containing an integer-ratio
  signature (``count``, ``percent_rank``, ``cume_dist``, ``/ greatest``)
  or an aggregate (``round(sum|avg|min|max(…)``) — the half-way-cell
  and summation-order classes; use the floor-settled forms instead
- any other ``round(`` whose argument is not classified below

ACCEPTED (reported as info):
- ``round(<2dp column>, 2)`` pass-through of a value stored at 2dp —
  the stored double is never within an ulp of a half-way cell
- ``round(`` over transcendental/dot-product expressions
  (``list_dot_product``, ``sqrt``, ``ln``, ``log``, ``exp``, ``pow``) —
  per-row deterministic on identical inputs; exact half-way cells have
  measure zero
- ``round(quantile_cont(<integer-or-coarser column>)…`` where the
  interpolated value's decimal expansion is strictly coarser than the
  rounding dp
- ``//`` between provably non-negative operands (floor == truncation,
  so the DuckDB semantic change is invisible) — these sites carry a
  justifying comment at the definition

Run as part of the round-close checklist::

    python tools/oracle_lint.py        # exit 1 on any ERROR
"""

from __future__ import annotations

import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Accepted round() argument prefixes, keyed by query name. Every entry
# must state WHY the site is version-stable; an unlisted round() fails.
ALLOW: dict[str, str] = {
    # pass-through rounds of columns stored at 2dp (never half-way)
    "segment_stats": "round(min/max of 2dp acctbal) — pass-through",
    "returned_items_report": "round(c_acctbal, 2) — pass-through",
    "events_asof_latest_order": "round(o_totalprice, 2) — pass-through",
    "events_asof_tiebreak_order": "round(o_totalprice, 2) — pass-through",
    "view_purchase_interval_join": "round(p.value, 2) — pass-through",
    "supplier_balance_percentiles": "round(s_acctbal, 2) — pass-through",
    "order_price_deciles": "round(min/max of 2dp price) — pass-through",
    # quantiles whose interpolated values are strictly coarser than dp
    "event_value_mad": "quantile of 2dp diffs at 4dp — 3dp midpoints "
    "are exact at 4dp",
    # transcendental / dot-product expressions (measure-zero half-ways)
    "embedding_neardup_pairs": "dot-product cosine",
    "cosine_topk_ivf": "dot-product cosine + -2*dot distances",
    "pq_ivf_adc_topk": "-2*dot IVF cell distances (measure-zero "
    "half-ways); ADC sums are floor-settled",
    "pq_partitioned_cell_scan": "identical oracle to pq_ivf_adc_topk "
    "(-2*dot IVF cell distances, floor-settled ADC sums); the Spark "
    "side adds only the cid-partitioned storage round-trip",
    "pq_ivf_rerank_topk": "-2*dot IVF cell distances + dot-product "
    "cosine rerank; ADC sums are floor-settled",
    "cosine_topk_bruteforce": "dot-product cosine",
    "multimodal_embedding_topk": "dot-product cosine",
    "cosine_topk_signbucket": "dot-product cosine",
    "cosine_topk_multitable": "dot-product cosine (same "
    "_DUCK_COSINE_SCORE template as cosine_topk_signbucket, "
    "OR-of-tables bucket filter)",
    "semantic_dedup_clusters": "-2*dot kmeans distances",
    "ivf_kmeans_centroids": "kmeans distances + centroid means "
    "(moment sums probe-watched)",
    "ivf_kmeans_two_iters": "same as ivf_kmeans_centroids",
    "logreg_label_weights": "sigmoid/exp gradient math "
    "(moment sums probe-watched)",
    "logreg_label_scores": "same as logreg_label_weights",
    "source_pagerank": "damped PR iteration sums (bounded node count, "
    "probe-watched)",
    "nation_revenue_trend": "regr_slope/intercept moment aggregates "
    "(probe-watched)",
    "nation_revenue_trend_pandas": "same as nation_revenue_trend",
    "lineitem_price_correlations": "corr moment aggregates "
    "(probe-watched)",
    "doc_length_zscores": "z from exact integer moment sums; sqrt "
    "irrational",
    "minhash_lsh_pairs": "no round — listed defensively",
    # round-8 ANN/crossmodal family: same dot-product cosine class
    "multimodal_crossmodal_topk": "-2*dot IVF cell distances + "
    "dot-product cosine rerank; ADC sums are floor-settled",
    "crossmodal_topk_frozen": "same oracle SQL as "
    "multimodal_crossmodal_topk (frozen index is physically invisible)",
    "ivf_cell_sizes": "-2*dot IVF cell distances (measure-zero "
    "half-ways)",
    "ann_recall_at_k": "dot-product cosine + -2*dot cell distances; "
    "the recall ratio itself is floor-settled",
    "hard_negative_mining": "dot-product cosine",
    "ann_recall_nprobe_curve": "dot-product cosine + -2*dot cell "
    "distances (same conventions as ann_recall_at_k); the recall "
    "ratio itself is floor-settled",
    "ann_recall_trained_curve": "same sweep as ann_recall_nprobe_curve "
    "plus kmeans centroid means (moment sums probe-watched, the "
    "ivf_kmeans_two_iters class); recall ratio floor-settled",
    "pq_ivf_residual_topk": "-2*dot IVF cell distances (measure-zero "
    "half-ways); residual ADC sums are floor-settled",
    "streamed_pq_codes": "same _PQR_PREFIX as pq_ivf_residual_topk "
    "(-2*dot cell distances only; the code assignment itself is "
    "floor-settled)",
}

INT_RATIO_SIG = re.compile(
    r"round\s*\([^)]*(count\s*\(|percent_rank|cume_dist|/\s*greatest\s*\()",
    re.I,
)
AGG_SIG = re.compile(r"round\s*\(\s*(sum|avg)\s*\(", re.I)


def strip(sql: str) -> str:
    sql = re.sub(r"--[^\n]*", "", sql)
    return re.sub(r"'[^']*'", "''", sql)


def main() -> int:
    from news_data_pipeline_spark.queries import QUERIES

    errors: list[str] = []
    infos: list[str] = []
    for name, q in QUERIES.items():
        sql = strip(q.oracle or "")
        if re.search(r"\[\s*[\w.]+\s*:", sql):
            errors.append(f"{name}: list slicing [a:b]")
        if re.search(r"->", sql):
            errors.append(f"{name}: arrow lambda")
        if re.search(r"\blist_(filter|transform|reduce)\b", sql, re.I):
            errors.append(f"{name}: list_* higher-order function")
        if re.search(r"\bround\s*\(", sql, re.I):
            if name in ALLOW:
                # the entry documents why every round() in this oracle
                # is version-stable; slice/lambda checks still apply
                infos.append(f"{name}: {ALLOW[name]}")
            elif INT_RATIO_SIG.search(sql):
                errors.append(f"{name}: round() over integer-ratio "
                              "signature")
            elif AGG_SIG.search(sql):
                errors.append(f"{name}: round(sum|avg(...)) aggregate")
            else:
                errors.append(f"{name}: unclassified round() — convert to "
                              "the floor-settled form or add an ALLOW entry")
    for line in infos:
        print(f"note {line}")
    for line in errors:
        print(f"FAIL {line}")
    print(f"\n{len(QUERIES)} oracles: {len(errors)} errors, "
          f"{len(infos)} accepted-round notes")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
