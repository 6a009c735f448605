"""Plan guardrails: scale anti-patterns must never enter the surface.

These assertions are the 100-TB design contract from SURVEY §4, enforced
mechanically over EVERY registered query's optimized physical plan:

* no ``BatchEvalPython`` — a row-at-a-time pickled Python UDF in a hot
  path (Arrow ``mapInPandas`` nodes are allowed: ``MapInPandas`` /
  ``ArrowEvalPython``);
* no ``CartesianProduct`` — an unkeyed cross join that cannot scale;
* no ``Window`` over an empty partition spec (the reference's
  single-partition surrogate-key builds, ``03:38,43,58``) — every
  window must carry ``partitionBy`` unless the input is provably tiny.

Each query's shuffle count (``exch``) and nested-loop joins (``bnlj``)
must also stay at or under its PLANS.md row, counted by the same
``tools/plan_audit.py`` counter over the same replay frame. A count may
fall; a rise must regenerate PLANS.md in the same commit.

Plans are compiled, not executed, so this covers every registered query in
minutes.
"""

from __future__ import annotations

import os
import re
import sys

import pytest

from news_data_pipeline_spark.queries import query_map
from tests.conftest import ROOT, SF_DIR

sys.path.insert(0, os.path.join(ROOT, "tools"))
try:
    from plan_audit import (
        physical_plan as plan_of,
        plan_facts,
        replay_frame,
        ts_residual_joins,
    )
finally:
    sys.path.pop(0)

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")


def plans_md_budget() -> dict[str, dict[str, int]]:
    """{query: {"exch": n, "bnlj": n}} from PLANS.md's table rows."""
    with open(os.path.join(ROOT, "PLANS.md")) as f:
        lines = f.read().splitlines()
    head = next(line for line in lines if line.startswith("| query |"))
    cols = [c.strip() for c in head.strip("|").split("|")]
    budget = {}
    for line in lines:
        cells = [c.strip() for c in line.strip("|").split("|")]
        if len(cells) == len(cols) and cells[1].isdigit():
            row = dict(zip(cols, cells))
            budget[row["query"]] = {k: int(row[k]) for k in ("exch", "bnlj")}
    return budget


PLAN_BUDGET = plans_md_budget()


# A Window whose sort feeds from Exchange SinglePartition == an
# unpartitioned window spec: the whole dataset funnels through ONE task.
# (A bare "Exchange SinglePartition" is NOT globally forbidden — scalar
# aggregates legitimately finalize on one post-combine partition.)
GLOBAL_WINDOW = re.compile(
    r"Window [^\n]*\n[^\n]*Sort [^\n]*\n[^\n]*Exchange SinglePartition"
)

# --- interval-join skew guard (r13, SCALE.md "Interval-join family") ------
# A join whose condition carries a TIMESTAMP inequality materializes
# left(k) x right(k) candidate pairs per key before the residual filters
# — per-key-quadratic under a hot key (measured 909 s vs 0.72 s for a
# 400k-row hot user at 4M rows). Allowed escapes:
#   * the equi-key set includes the `__tb` time-bucket column —
#     ``operators.joins.interval_join_bucketed``'s marker, which bounds
#     candidates per (key, epoch);
#   * the query name carries a documented bounded-key proof below
#     (e.g. one side is a bounded dimension that broadcasts).
# As-of lookups never trip this: ``operators.joins.asof_join`` has no
# join node at all (union + forward-fill window).
TIME_BUCKET_KEY = "__tb"
INTERVAL_JOIN_PROOFS: dict[str, str] = {
    # name -> one-line proof that per-key candidates are bounded
}


@pytest.mark.parametrize("name", sorted(query_map()))
def test_no_scale_antipatterns(spark, name):
    df = replay_frame(spark, query_map()[name], SF_DIR)
    plan = plan_of(spark, df)
    for marker in FORBIDDEN:
        assert marker not in plan, f"{name}: {marker} in physical plan"
    facts = plan_facts(plan)
    row = PLAN_BUDGET.get(name)
    assert row, f"{name}: no PLANS.md row — run tools/plan_audit.py"
    got = {"exch": facts["exchanges"], "bnlj": facts["bnlj"]}
    over = {k: (n, row[k]) for k, n in got.items() if n > row[k]}
    assert not over, (
        f"{name}: plan count over its PLANS.md row (got, row): {over} — "
        "fix the plan, or rerun tools/plan_audit.py and commit PLANS.md"
    )
    m = GLOBAL_WINDOW.search(plan)
    assert m is None, (
        f"{name}: unpartitioned Window (single-partition exchange at "
        f"scale):\n{m.group(0)}"
    )
    for join_type, eq_keys, n_ineq in ts_residual_joins(df):
        assert TIME_BUCKET_KEY in eq_keys or name in INTERVAL_JOIN_PROOFS, (
            f"{name}: {join_type} join carries {n_ineq} timestamp-"
            f"inequality residual(s) over equi-keys {eq_keys} — per-key-"
            "quadratic under a hot key. Route it through asof_join / "
            "interval_join_bucketed, or add a bounded-key proof to "
            "INTERVAL_JOIN_PROOFS"
        )
    # Correctness harnesses canonicalize results by sorting/hashing
    # scalar cells; a top-level array/map column crashes that step
    # (pandas cannot factorize ndarray cells). Surface collections as
    # scalars instead: posexplode to rows, or array_join to a string.
    from pyspark.sql.types import ArrayType, MapType

    for field in df.schema.fields:
        assert not isinstance(field.dataType, (ArrayType, MapType)), (
            f"{name}: top-level {field.dataType.simpleString()} column "
            f"'{field.name}' is not canonicalizable by the correctness "
            "harness — explode it to rows or array_join it to a string"
        )


def test_global_window_detector_catches_the_antipattern(spark):
    """The detector must flag the reference's surrogate-key shape
    (``row_number`` over ``Window.orderBy`` with no partitionBy)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    bad = spark.range(10).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    assert GLOBAL_WINDOW.search(plan_of(spark, bad)) is not None


def test_interval_residual_detector_catches_naive_join(spark):
    """The skew guard must flag the quadratic shape it exists for: a
    key-equi join with a raw time-window residual (the pre-r13
    ``view_purchase_interval_join`` form), and must NOT flag the
    bucketed rewrite (whose residual is licensed by the ``__tb``
    equi-key) or the as-of form (no join node at all)."""
    import pyspark.sql.functions as F

    from news_data_pipeline_spark.operators.joins import (
        asof_join,
        interval_join_bucketed,
    )

    left = spark.range(10).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.col("id") * 60).cast("timestamp_ntz").alias("l_ts"),
    )
    right = spark.range(10).select(
        F.col("id").alias("k"),
        F.timestamp_seconds(F.col("id") * 90).cast("timestamp_ntz").alias("r_ts"),
    )
    naive = left.join(
        right.withColumnRenamed("k", "rk"),
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr("interval 15 minutes"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("interval 15 minutes")),
    )
    hits = ts_residual_joins(naive)
    assert hits and all(TIME_BUCKET_KEY not in keys for _, keys, _ in hits), hits

    bucketed = interval_join_bucketed(
        left, right, on="k", left_ts="l_ts", right_ts="r_ts",
        within="15 minutes",
    )
    assert all(
        TIME_BUCKET_KEY in keys for _, keys, _ in ts_residual_joins(bucketed)
    )

    asof = asof_join(
        left, right, on="k", left_ts="l_ts", right_ts="r_ts",
        right_cols=["r_ts"],
    )
    assert ts_residual_joins(asof) == []


def test_adopted_interval_family_plan_shapes(spark):
    """Positive pins for the r13 adoptions (the guard above only
    LICENSES shapes; these assert the adopted queries actually have
    them): purchase_state_attribution's as-of routing leaves NO join
    with a timestamp residual in the plan (the lookup is a forward-fill
    window), and view_purchase_interval_join's one residual-carrying
    join is equi-keyed on the __tb time bucket."""
    psa = query_map()["purchase_state_attribution"](spark, SF_DIR)
    assert ts_residual_joins(psa) == []
    plan = plan_of(spark, psa)
    assert "Window" in plan, plan  # the forward-fill carries the match

    vpij = query_map()["view_purchase_interval_join"](spark, SF_DIR)
    hits = ts_residual_joins(vpij)
    assert len(hits) == 1 and TIME_BUCKET_KEY in hits[0][1], hits


def test_runtime_bloom_filter_reaches_fact_scan(spark):
    """Big-big joins at 100 TB lean on runtime row-level filtering: a
    selective build side injects a bloom filter that prunes the fact
    scan BEFORE the shuffle (might_contain over xxhash64 in the scan
    filter). Thresholds are lowered because test data is tiny; the
    optimizer rule and plan shape are exactly what a cluster run uses."""
    import pyspark.sql.functions as F

    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        sel = orders.where(F.col("o_totalprice") > 400000).select("o_orderkey")
        j = li.join(sel, li.l_orderkey == sel.o_orderkey)
        plan = plan_of(spark, j)
        assert "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_new_library_ops_plan_contracts(spark):
    """The §4 scale contract, extended to the round-7c library surface
    (these ops aren't registered yet, so the registry-wide
    parametrization above doesn't reach them): no cartesian products,
    no row-wise Python, no unpartitioned windows — and the Bloom probe
    really plans broadcast joins (the probe side must never shuffle)."""
    import pyspark.sql.functions as F

    from news_data_pipeline_spark.functions.columns import union_evolved
    from news_data_pipeline_spark.operators.dedup import (
        dup_ngram_char_coverage,
        top_ngram_char_fraction,
    )
    from news_data_pipeline_spark.operators.sketches import (
        bloom_bits,
        bloom_probe,
    )
    from news_data_pipeline_spark.operators.terms import (
        perplexity_bucket_cuts,
        perplexity_buckets,
    )
    from news_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    fps = docs.select(F.md5("text").alias("fp"))
    bits = bloom_bits(fps, "fp", num_bits=256, num_hashes=3)
    frames = {
        "bloom_probe": bloom_probe(
            fps, "fp", bits, num_bits=256, num_hashes=3
        ),
        "perplexity_buckets": perplexity_buckets(
            docs, "doc_id", "text", "lang"
        ),
        "perplexity_bucket_cuts": perplexity_bucket_cuts(
            docs, "doc_id", "text", "lang"
        ),
        "top_ngram_char_fraction": top_ngram_char_fraction(
            docs, "doc_id", "text", n=2
        ),
        "dup_ngram_char_coverage": dup_ngram_char_coverage(
            docs, "doc_id", "text", n=3
        ),
        "union_evolved": union_evolved(
            [
                docs.select("doc_id", "text"),
                docs.select(
                    F.col("doc_id").cast("int").alias("doc_id"), "lang"
                ),
            ]
        ),
    }
    for name, df in frames.items():
        plan = plan_of(spark, df)
        for marker in FORBIDDEN:
            assert marker not in plan, f"{name}: {marker} in plan"
        m = GLOBAL_WINDOW.search(plan)
        assert m is None, f"{name}: unpartitioned window\n{m.group(0)}"
    # the Bloom probe's bit-table joins must be broadcasts
    probe_plan = plan_of(spark, frames["bloom_probe"])
    assert probe_plan.count("BroadcastHashJoin") >= 3, probe_plan
    # union_evolved must be Project+Union only — zero exchanges
    assert "Exchange" not in plan_of(spark, frames["union_evolved"])
