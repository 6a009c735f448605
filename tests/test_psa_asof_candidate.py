"""Parity pins for the r13-adopted rewrites of the per-key-quadratic
interval-join family (SCALE.md round-12 skew probe, adopted round 13):

- ``purchase_state_attribution`` now routes through
  ``operators.joins.asof_join``; the pre-adoption interval-join form
  lives on below as ``psa_naive`` (purchases(k) x
  state_intervals(k) pairs per key — ~150-240 s for a 400k-row hot key
  at 4M rows in any storage layout, vs one shuffle + one in-key sort).
- ``view_purchase_interval_join`` now routes through
  ``operators.joins.interval_join_bucketed``; the pre-adoption
  residual-join form lives on below as ``vpij_naive``.

The adoption's parity runs checked cell-exact equality at three
fixture SFs, the sf0.01 DuckDB oracle, and synthetic wide/skew shapes
(SCALE.md "Retired paths"); these tests keep the sf0.001 REGISTERED-vs-NAIVE
comparisons plus the semantic edge cases in unit-test time so the
adopted rewrites cannot silently drift from the interval semantics the
oracles state.
"""

from __future__ import annotations

import importlib.util
import os

import pyspark.sql.functions as F

from tests.conftest import ROOT, SF_DIR as SF

spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(ROOT, "tools", "ab.py")
)
ab = importlib.util.module_from_spec(spec)
spec.loader.exec_module(ab)


def psa_naive(spark, sf_dir: str):
    """The interval-join form of ``purchase_state_attribution`` — the
    registered implementation BEFORE the r13 adoption, kept verbatim as
    the reference the parity pins below compare against. This is the
    per-key-quadratic shape: purchases(k) x state_intervals(k) pairs
    per user before the residual filters."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from news_data_pipeline_spark.queries import streaming_batch

    events = streaming_batch.load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
    )
    nonp = events.where(F.col("event_type") != "purchase")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_type = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    grp = F.row_number().over(w_all) - F.row_number().over(w_type)
    islands = (
        nonp.withColumn("grp", grp)
        .groupBy("user_id", "event_type", "grp")
        .agg(F.min("ts").alias("valid_from"))
        .drop("grp")
    )
    w_seq = Window.partitionBy("user_id").orderBy("valid_from", "event_type")
    scd = islands.select(
        F.col("user_id").alias("s_user_id"),
        F.col("event_type").alias("state_type"),
        "valid_from",
        F.lead("valid_from").over(w_seq).alias("valid_to"),
    )
    purchases = events.where(F.col("event_type") == "purchase")
    cond = (
        (purchases.user_id == scd.s_user_id)
        & (scd.valid_from <= purchases.ts)
        & (scd.valid_to.isNull() | (purchases.ts < scd.valid_to))
    )
    return purchases.join(scd, cond, "left").select(
        "event_id",
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "state_type",
        F.col("valid_from").alias("state_since"),
    )


def vpij_naive(spark, sf_dir: str):
    """The equi-join-with-time-residual form of
    ``view_purchase_interval_join`` — the registered implementation
    BEFORE the r13 adoption (batch execution of
    ``streaming.ops.interval_join_streams``), kept verbatim as the
    reference the parity pins below compare against. Per-key cost
    is views(k) x purchases(k) candidates before the residual filters."""
    import pyspark.sql.functions as F

    from news_data_pipeline_spark.queries import streaming_batch
    from news_data_pipeline_spark.streaming.ops import interval_join_streams

    events = streaming_batch.load_table(spark, sf_dir, "events")
    views = events.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("l_ts")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("r_ts"),
        F.round("value", 2).alias("purchase_value"),
    )
    out = interval_join_streams(
        views, purchases, on="user_id", left_ts="l_ts", right_ts="r_ts",
        within="15 minutes", watermark="1 hour",
    )
    return out.select(
        "view_id",
        "purchase_id",
        "user_id",
        F.col("l_ts").alias("view_ts"),
        F.col("r_ts").alias("purchase_ts"),
        "purchase_value",
    )


def test_asof_rewrite_matches_naive_interval_form(spark):
    from news_data_pipeline_spark.queries import query_map

    current = query_map()["purchase_state_attribution"](spark, SF)
    ok, why = ab.same_rows(current, psa_naive(spark, SF))
    assert ok, why


def test_asof_rewrite_tied_and_prehistory_edges(spark, tmp_path, monkeypatch):
    """Hand-built edge fixture: two islands tied on valid_from (only
    the last by event_type owns a non-empty interval), a purchase
    before any state (left-join miss), a purchase exactly AT a
    valid_from (inclusive edge), and a user with purchases only."""
    from news_data_pipeline_spark.queries import query_map, streaming_batch

    rows = [
        # user 1: view and click at the SAME ts (tied valid_from
        # islands), then purchases at and after the tie
        (1, "2024-01-01 00:00:00", 1, "view", 1.0, "p"),
        (2, "2024-01-01 00:00:00", 1, "click", 1.0, "p"),
        (3, "2024-01-01 00:00:00", 1, "purchase", 5.0, "p"),  # at the edge
        (4, "2024-01-02 00:00:00", 1, "purchase", 5.0, "p"),
        # user 2: purchase BEFORE any state, then a state, then another
        (5, "2024-01-01 00:00:00", 2, "purchase", 5.0, "p"),
        (6, "2024-01-02 00:00:00", 2, "error", 1.0, "p"),
        (7, "2024-01-03 00:00:00", 2, "purchase", 5.0, "p"),
        # user 3: purchases only — no islands at all
        (8, "2024-01-01 00:00:00", 3, "purchase", 5.0, "p"),
    ]
    ev = spark.createDataFrame(
        [
            (i, ts, u, t, v, pr)
            for (i, ts, u, t, v, pr) in rows
        ],
        "event_id long, ts_s string, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    path = str(tmp_path / "events")
    ev.write.parquet(path)
    real = streaming_batch.load_table
    monkeypatch.setattr(
        streaming_batch,
        "load_table",
        lambda s, d, t: s.read.parquet(path)
        if t == "events"
        else real(s, d, t),
    )
    # r14 adoption: the registered query reads events through
    # _userid_events — rebind it too, or the rewrite arm reads the REAL
    # fixture (and bucket-writes the synthetic rows under the real
    # sf_dir's fingerprint key) while the naive arm reads the synthetic
    monkeypatch.setattr(
        streaming_batch,
        "_userid_events",
        lambda s, d: streaming_batch.load_table(s, d, "events"),
    )
    naive = psa_naive(spark, SF)
    rewrite = query_map()["purchase_state_attribution"](spark, SF)
    ok, why = ab.same_rows(naive, rewrite)
    assert ok, why
    got = {
        (r.event_id, r.state_type)
        for r in rewrite.collect()
    }
    # the tied-island edge: at ts == the tie, the LAST island by
    # (valid_from, event_type) — 'view' — owns the non-empty interval
    assert got == {
        (3, "view"),
        (4, "view"),
        (5, None),  # pre-history purchase survives with no state
        (7, "error"),
        (8, None),  # user with no non-purchase activity at all
    }


def test_vpij_bucketed_matches_naive_residual_form(spark):
    from news_data_pipeline_spark.queries import query_map

    current = query_map()["view_purchase_interval_join"](spark, SF)
    ok, why = ab.same_rows(current, vpij_naive(spark, SF))
    assert ok, why


def test_vpij_bucketed_window_and_bucket_edges(spark, tmp_path, monkeypatch):
    """Purchases at exactly ±15 min match (inclusive edges), ±15min+1s
    do not, and pairs whose buckets differ by one (the neighbor-explode
    case) are kept — including when the view itself sits on an epoch
    boundary."""
    from news_data_pipeline_spark.queries import query_map, streaming_batch

    base = 1704067200  # divisible by 900: the view sits ON a boundary
    rows = [
        (0, base, 1, "view"),
        (1, base - 900, 1, "purchase"),
        (2, base + 900, 1, "purchase"),
        (3, base - 901, 1, "purchase"),
        (4, base + 901, 1, "purchase"),
        (5, base, 1, "purchase"),
        (6, base + 450, 2, "view"),
        (7, base + 1350, 2, "purchase"),  # +900 across a bucket boundary
        (8, base - 450, 2, "purchase"),  # -900 across a bucket boundary
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, t, float(i), "p") for (i, ts, u, t) in rows],
        "event_id long, ts_l long, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("ts_l")).cast("timestamp_ntz").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    path = str(tmp_path / "events")
    ev.write.parquet(path)
    real = streaming_batch.load_table
    monkeypatch.setattr(
        streaming_batch,
        "load_table",
        lambda s, d, t: s.read.parquet(path)
        if t == "events"
        else real(s, d, t),
    )
    naive = vpij_naive(spark, SF)
    rewrite = query_map()["view_purchase_interval_join"](spark, SF)
    ok, why = ab.same_rows(naive, rewrite)
    assert ok, why
    got = {(r.view_id, r.purchase_id) for r in rewrite.collect()}
    assert got == {(0, 1), (0, 2), (0, 5), (6, 7), (6, 8)}
