"""Surrogate-key generation — scale-safe by construction.

The reference builds surrogate keys with ``row_number()`` over a GLOBAL
window and then truncates to 5 chars
(``03_gold_modeling_news_articles.py:38-44,58-59``) — a single-partition
exchange plus a collision generator (row 123456 collides with 12345;
SURVEY §2.5). Here keys are content hashes of the natural key: no
exchange, no collision-by-truncation, stable across runs and engines.
"""

from __future__ import annotations

import decimal

import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.types import DecimalType, FractionalType


def surrogate_key(*cols: Column | str, algo: str = "md5") -> Column:
    """Deterministic key from natural-key columns.

    md5 (hex string) is the oracle-friendly default — DuckDB computes the
    identical value. xxhash64 (bigint) is the cheaper pure-Spark variant
    for internal joins at scale.
    """
    columns = [F.col(c) if isinstance(c, str) else c for c in cols]
    normalized = [F.coalesce(c.cast("string"), F.lit("<NULL>")) for c in columns]
    joined = F.concat_ws("\x1f", *normalized)
    if algo == "md5":
        return F.md5(joined)
    if algo == "xxhash64":
        return F.xxhash64(joined)
    raise ValueError(f"unknown algo: {algo}")


def global_row_number(
    df,
    order_by,
    *,
    id_col: str = "row_id",
    num_partitions: int | None = None,
):
    """Dense 1-based global row number by sort order — WITHOUT the
    single-partition window the reference uses (``03:38,43,58``).

    The scalable two-pass pattern: ``repartitionByRange`` on the sort
    key (disjoint, ordered ranges — partition i's keys all sort before
    partition i+1's), ``row_number`` WITHIN each partition, then add
    per-partition row-count offsets. The numbered frame is pinned with
    an eager ``localCheckpoint`` BEFORE the counts pass: range
    boundaries come from per-job sampling, so without pinning, the
    counts job and the caller's action could draw DIFFERENT boundaries
    and the offsets would corrupt the sequence (duplicate/skipped ids).
    The checkpoint also means the sort runs once, not once per pass.
    Offsets attach via a broadcast join on the tiny (pid, offset) table
    — O(1) per row, unlike a map-literal lookup which scans linearly
    in the partition count. Ties in ``order_by`` get an arbitrary but
    stable order (the checkpoint freezes it); pass a total order (e.g.
    distinct keys) for cross-run determinism.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    numbered = ranged.withColumn("__rn", F.row_number().over(w)).localCheckpoint(
        eager=True
    )
    counts = (
        numbered.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt")).collect()
    )
    offsets: list[tuple[int, int]] = []
    acc = 0
    for row in sorted(counts, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], acc))
        acc += row["__cnt"]
    if not offsets:  # empty input — nothing to offset
        return numbered.withColumn(id_col, F.col("__rn").cast("long")).drop(
            "__pid", "__rn"
        )
    offset_df = spark.createDataFrame(offsets, "__pid int, __offset long")
    return (
        numbered.join(F.broadcast(offset_df), on="__pid")
        .withColumn(id_col, (F.col("__rn") + F.col("__offset")).cast("long"))
        .drop("__pid", "__rn", "__offset")
    )


def global_running_sum(
    df,
    order_by,
    value_col: str,
    *,
    out_col: str = "running_sum",
    num_partitions: int | None = None,
):
    """Global cumulative sum by sort order — the same two-pass shape as
    ``global_row_number``, accumulating a value instead of a count.

    Pass 1: ``repartitionByRange`` on the sort key, running sum WITHIN
    each range partition (partitioned window, never a single-partition
    funnel), pinned with an eager ``localCheckpoint`` so the counts
    pass and the caller's action see the SAME range boundaries (they
    come from per-job sampling). Pass 2: per-partition value totals
    collect to the driver (one row per partition — bounded), turn into
    prefix offsets, and ride back as a broadcast join. Ties in
    ``order_by`` are frozen by the checkpoint; pass a total order for
    cross-run determinism.

    This is the Pareto/ABC primitive: cumulative revenue share, running
    token budgets, percentile-by-position — anything the textbook
    writes as ``SUM(x) OVER (ORDER BY ...)`` and Spark would otherwise
    plan through one task.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    n = num_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    summed = ranged.withColumn(
        "__ps", F.sum(value_col).over(w)
    ).localCheckpoint(eager=True)
    # partition total = sum of the values, NOT max(__ps): with negative
    # values the running sum is not monotone, so its max overshoots the
    # true total and every later partition's offset would be wrong
    totals = (
        summed.groupBy("__pid").agg(F.sum(value_col).alias("__tot")).collect()
    )
    # offsets take the sum's own type (bigint for integral values), so
    # the output keeps the value's type instead of widening to double
    run_type = summed.schema["__ps"].dataType
    if isinstance(run_type, DecimalType):
        acc = decimal.Decimal(0)
    elif isinstance(run_type, FractionalType):
        acc = 0.0
    else:
        acc = 0
    offsets = []
    for row in sorted(totals, key=lambda r: r["__pid"]):
        offsets.append((row["__pid"], acc))
        if row["__tot"] is not None:
            acc += row["__tot"]
    if not offsets:  # empty input
        return summed.withColumn(out_col, F.col("__ps")).drop(
            "__pid", "__ps"
        )
    offset_df = spark.createDataFrame(
        offsets, f"__pid int, __offset {run_type.simpleString()}"
    )
    return (
        summed.join(F.broadcast(offset_df), on="__pid")
        .withColumn(out_col, F.col("__ps") + F.col("__offset"))
        .drop("__pid", "__ps", "__offset")
    )
