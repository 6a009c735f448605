"""Structured Streaming operators over the ``events`` shape.

The reference is batch-only — streaming is its declared future work
(``docs/pipeline_overview.md:165``) — so this module is the north-star
extension: the same event-time semantics the batch twins in
``queries/streaming_batch.py`` verify against the DuckDB oracle, but
driven by ``readStream`` with watermarks, so state is bounded and late
data has defined behavior.

Scale notes (100-TB stream): every aggregation here carries a watermark,
which is what lets Spark evict window state instead of growing without
bound; dedup uses ``dropDuplicatesWithinWatermark`` so the seen-key set
is evicted too. Output modes are chosen per-operator (append for
finalized windows, update for running totals).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Declared stream schema — file streams must never infer
# (inference reads the directory once at start and locks it in).
# ts is TimestampType (LTZ), NOT the engine-wide TIMESTAMP_NTZ
# convention: Spark rejects NTZ event time for watermarks
# (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE, verified on 4.1), so streaming
# relies on the UTC session timezone from session.tune() to keep window
# bounds aligned with the NTZ batch twins.
EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    *,
    fmt: str = "parquet",
    schema: StructType = EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a landing directory of event files.

    The at-scale shape: ingest lands files (or a Kafka topic replaces
    this reader — same downstream code), Spark discovers them
    incrementally. ``maxFilesPerTrigger`` bounds per-batch work.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def tumbling_window_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-(window, event_type) counts + value sums, append-mode ready.

    Identical result shape to the oracle-checked batch twin
    (``queries/streaming_batch.py::tumbling_hourly_counts``).
    """
    from news_data_pipeline_spark.functions.exact import exact_sum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # settled-cents sum — byte-identical to the batch twin at any
            # micro-batch split, because integer partial sums are
            # order-independent where double partial sums are not
            exact_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Overlapping windows — each event contributes to window/slide panes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_window_counts(
    events: DataFrame,
    *,
    gap: str = "10 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session windows with a inactivity ``gap``.

    ``session_window`` merges adjacent state as events arrive; the
    watermark finalizes (and evicts) sessions once event time passes
    session_end + watermark.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def watermarked_dedup(
    events: DataFrame,
    keys: list[str],
    *,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming dedup with bounded state.

    ``dropDuplicatesWithinWatermark`` keeps the first-arriving row per
    key and evicts seen-keys once the watermark passes — the streaming
    answer to the reference's silver ``dropDuplicates`` (``02:66``),
    which would need unbounded state on a stream.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    within: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: pairs sharing ``on`` whose event times
    fall within ``within`` of each other.

    Both sides carry watermarks and the join condition bounds the time
    difference in BOTH directions — that pair of constraints is what
    lets Spark evict buffered rows (state stays bounded by key-rate x
    within+watermark) instead of holding each side forever. Without the
    time bound a stream-stream join is unrunnable state growth.

    STREAMS ONLY: under batch execution the watermark is a no-op and
    this plan degenerates to an equi-join whose time bound is a
    residual — per-key-quadratic under a hot key (SCALE.md measured
    909 s vs 0.72 s for a 400k-row hot key at 4M rows). The batch form
    is ``operators.joins.interval_join_bucketed`` — identical output
    multiset (parity pinned in tests/test_psa_asof_candidate.py), and
    the plan guard in tests/test_plans.py rejects the residual shape in
    any registered batch query.
    """
    l_wm = left.withWatermark(left_ts, watermark)
    r_wm = right.withWatermark(right_ts, watermark)
    cond = (
        (l_wm[on] == r_wm[on])
        & (r_wm[right_ts] >= l_wm[left_ts] - F.expr(f"interval {within}"))
        & (r_wm[right_ts] <= l_wm[left_ts] + F.expr(f"interval {within}"))
    )
    # drop the right copy of the key (equal by the join condition) so
    # downstream column references aren't ambiguous
    return l_wm.join(r_wm, on=cond, how="inner").drop(r_wm[on])


def enrich_stream_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    *,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich each micro-batch with a dimension.

    The canonical lookup-enrichment shape (events x customer dim,
    documents x source dim): the static side is re-planned per
    micro-batch, so a dim refreshed between triggers (e.g. a rewritten
    silver table) is picked up without restarting the query — Spark's
    answer to slowly-changing lookup data on a stream. Stateless: no
    watermark needed, any output mode, state store untouched.

    The dim is broadcast, which pins the physical strategy: dims are
    orders of magnitude smaller than a 100-TB stream, and a per-batch
    broadcast avoids re-shuffling every micro-batch by the join key.
    Left join keeps stream rows with no dim match (the DQ layer, not
    the enrichment join, decides what to do with orphans).
    """
    return stream.join(F.broadcast(dim), on=on, how=how)
