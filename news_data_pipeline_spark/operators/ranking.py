"""Value-compressed per-group rank statistics.

A ``percent_rank`` window partitioned by a group column funnels every
group's rows through one sort task — for web corpora (~80% one
language) that is the single-partition-window trap with extra steps.
When the ranked value is low-cardinality per group (e.g. a 4dp-rounded
score: <= 10^4 distinct values), the rank is a pure function of the
(group, value) frequency table, so it can be computed on that bounded
frame and joined back — the heavy side never sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from news_data_pipeline_spark.functions.exact import settled_round

_NULL_SENTINEL = "<NULL>"


def value_compressed_percent_rank(
    df: DataFrame,
    part_cols: list[str],
    value_col: str,
    *,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Append ``out_col`` = ``percent_rank() OVER (PARTITION BY
    part_cols ORDER BY value_col ASC NULLS LAST)`` without ever sorting
    or shuffling a full group.

    Shape: the (group, value) frequency table is map-side-combined down
    to the distinct values (shuffle = O(distinct), not O(rows)), the
    window runs over that bounded frame only, and the resulting rank
    map broadcasts back onto the input — the heavy side is never
    exchanged at all (at pathological value cardinality AQE falls back
    to a shuffled join on the sentinel keys, still sort-funnel-free).
    NULL groups and NULL values are ranked (as their own stratum / as
    the largest value, matching ``NULLS LAST``), not dropped: the join
    runs on sentinel-encoded keys because a plain equi-join would
    silently drop NULL keys.

    Cost note: the plan branches at ``df``, so ``value_col``'s defining
    expression (if any) is evaluated twice — both passes fully
    parallel, and the frequency branch reads only the pruned
    (part_cols, value) columns. That is the deliberate trade: the
    alternatives are a per-group sort funnel or pinning the scored
    frame in storage past the call (persist/localCheckpoint), both
    worse at corpus scale. Pass a materialized column when the scoring
    expression is very expensive and re-use is critical.

    ``percent_rank == (min_rank - 1) / (n - 1)`` with ``min_rank`` =
    rows strictly below + 1, so ties get identical ranks and
    single-row groups score 0.0, exactly like the window function.
    """
    reserved = {f"__k_{c}" for c in part_cols} | {
        "__k_v",
        "__c",
        "__cum",
        "__n",
        "__rank",
    }
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"value_compressed_percent_rank reserves columns {sorted(clash)}; "
            "rename them first"
        )
    if out_col in df.columns:
        raise ValueError(f"out_col {out_col!r} already exists in the input")

    part_keys = [f"__k_{c}" for c in part_cols]
    keyed = df.select(
        "*",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL)).alias(k)
            for c, k in zip(part_cols, part_keys)
        ],
        F.coalesce(F.col(value_col).cast("string"), F.lit(_NULL_SENTINEL)).alias(
            "__k_v"
        ),
    )
    join_keys = part_keys + ["__k_v"]
    vc = keyed.groupBy(*join_keys, value_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    w_cum = (
        Window.partitionBy(*part_keys)
        .orderBy(F.asc_nulls_last(value_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*part_keys)
    ranked = (
        vc.withColumn("__cum", F.sum("__c").over(w_cum))
        .withColumn("__n", F.sum("__c").over(w_all))
        .withColumn("__rank", F.col("__cum") - F.col("__c") + 1)
        .withColumn(
            out_col,
            F.when(
                F.col("__n") > 1,
                (F.col("__rank") - 1) / (F.col("__n") - 1).cast("double"),
            ).otherwise(F.lit(0.0)),
        )
        .select(*join_keys, out_col)
    )
    return keyed.join(ranked, on=join_keys).select(*df.columns, out_col)


def top_fraction_per_group(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    frac: float,
) -> DataFrame:
    """Keep each group's top ``frac`` fraction of rows by ``value_col``
    — threshold semantics, ties included — without sorting any group.

    The per-group cutoff is the HIGHEST value v such that at least
    ``ceil(frac * n)`` rows score >= v; every row at or above its
    group's cutoff survives (so the kept count can exceed the target by
    the tie width — adaptive quality filtering wants the value
    threshold, not an arbitrary intra-tie choice). Every group with a
    non-null value keeps at least one row.

    Shape (the ``value_compressed_percent_rank`` philosophy): the
    (group, value) histogram is map-side-combined to distinct values, a
    cumulative window runs over that bounded frame only, and the
    one-row-per-group thresholds join back — broadcastable, and the
    heavy side is never sorted or funneled through per-group tasks even
    when one group dominates the corpus. Null values never pass the
    threshold and don't count toward ``n``; null group keys form their
    own group (sentinel-keyed join — a plain equi-join would silently
    drop them).
    """
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    part_keys = [f"__k_{c}" for c in keys]
    reserved = set(part_keys) | {"__c", "__cum", "__n", "__thr"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"top_fraction_per_group reserves columns {sorted(clash)}; "
            "rename them first"
        )
    keyed = df.select(
        "*",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL)).alias(k)
            for c, k in zip(keys, part_keys)
        ],
    )
    hist = (
        keyed.where(F.col(value_col).isNotNull())
        .groupBy(*part_keys, value_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w_cum = (
        Window.partitionBy(*part_keys)
        .orderBy(F.desc(value_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*part_keys)
    thresholds = (
        hist.withColumn("__cum", F.sum("__c").over(w_cum))
        .withColumn("__n", F.sum("__c").over(w_all))
        .where(F.col("__cum") >= F.ceil(F.lit(frac) * F.col("__n")))
        .groupBy(*part_keys)
        .agg(F.max(value_col).alias("__thr"))
    )
    return (
        keyed.join(thresholds, on=part_keys)
        .where(F.col(value_col) >= F.col("__thr"))
        .select(*df.columns)
    )


def top_k_per_group(
    df: DataFrame,
    keys: list[str],
    order_by,
    k: int,
) -> DataFrame:
    """Top ``k`` rows per key group under a TOTAL ordering (caller
    includes a tie-break column in ``order_by``, else which tied row
    survives is partition-order dependent).

    The naive plan — ``row_number() OVER (PARTITION BY keys ORDER BY
    ...) <= k`` — shuffles and fully sorts every member row inside each
    key partition; hot keys (one source/domain dominating a web corpus)
    funnel through single sort tasks. This two-phase plan bounds that:

    phase 1: the same window but partitioned by (keys, input-partition
    id) — one full-data exchange on the COMPOSITE key, so a hot key's
    rows spread across however many input partitions held them and
    every sort task sees one bounded slice, each keeping at most ``k``
    rows; phase 2: the exact window over the survivors — at most
    ``k x n_input_partitions`` rows per key, a bounded frame.

    The union of per-slice top-k is a superset of the global top-k, so
    the result is EXACT and deterministic under a total order no matter
    how rows were distributed. Cost vs naive: the same single full-data
    shuffle, but skew-free (hashed on the composite key instead of the
    hot key alone), plus one small exchange of the survivors.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    reserved = {"__slice", "__slice_rn", "__rn"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"top_k_per_group reserves internal column names "
            f"{sorted(reserved)}; input uses {sorted(clash)} — rename "
            "them before calling"
        )
    order = list(order_by)
    # materialized first: spark_partition_id() is flagged
    # non-deterministic, which a window partition spec rejects; as a
    # concrete column it is just a grouping key
    sliced = Window.partitionBy(
        "__slice", *[F.col(c) for c in keys]
    ).orderBy(*order)
    df = (
        df.withColumn("__slice", F.spark_partition_id())
        .withColumn("__slice_rn", F.row_number().over(sliced))
        .where(F.col("__slice_rn") <= k)
        .drop("__slice", "__slice_rn")
    )
    w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def skew_report(
    df: DataFrame, key_cols: str | list[str], *, top_n: int = 10
) -> DataFrame:
    """(key..., n_rows, share): the ``top_n`` heaviest values of a
    prospective shuffle key and their fraction of the table — the
    diagnostic a join/groupBy skew decision (salting, AQE skew-join,
    broadcast) is made from.

    One map-side-combined count per key, total as a broadcast 1-row
    aggregate, global top-N via orderBy+limit (TakeOrderedAndProject —
    per-partition partial top-k, never a single-partition sort). Run it
    on the join key BEFORE the join: a top key holding >1/partitions of
    the rows is the partition that will straggle.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    reserved = {"n_rows", "share", "__total"}
    clash = reserved & set(keys)
    if clash:
        raise ValueError(
            f"skew_report reserves column names {sorted(reserved)}; "
            f"key columns use {sorted(clash)} — rename them first"
        )
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__total"))
    return (
        counts.join(F.broadcast(total))
        .withColumn(
            # settled: count/total is an exact integer ratio — the
            # half-way-cell class where round() flips across engines
            "share", settled_round(F.col("n_rows") / F.col("__total"), 6)
        )
        .drop("__total")
        .orderBy(F.desc("n_rows"), *[F.asc(k) for k in keys])
        .limit(top_n)
    )
