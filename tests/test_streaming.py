"""Structured Streaming plumbing: readStream -> watermark -> sink.

Semantics of the window/session operators are oracle-verified in batch
(queries/streaming_batch.py); these tests prove the STREAMING path —
file source, watermarks, availableNow replay, foreachBatch DQ split,
dropDuplicatesWithinWatermark, applyInPandasWithState — produces the
same answers on the same data.

Sink choice per output mode: finalized-window append output needs the
watermark to pass, which a bounded replay never guarantees, so
aggregation tests read the memory sink in complete/update mode; row
streams (dedup) use the real file sink in append mode.
"""

from __future__ import annotations

import datetime

import pytest

import pyspark.sql.functions as F

from news_data_pipeline_spark import streaming as stx
from news_data_pipeline_spark.dq import NotNull
from news_data_pipeline_spark.streaming.ops import EVENT_SCHEMA
from news_data_pipeline_spark.streaming.state import batch_user_totals


def ts(minute: int, second: int = 0):
    return datetime.datetime(2024, 1, 1, 0, minute, second)


EVENTS = [
    (1, ts(1), 10, "view", 1.0, None),
    (2, ts(5), 10, "view", 2.0, None),
    (3, ts(7), 11, "click", 3.0, None),
    (4, ts(40), 10, "view", 4.0, None),   # new session for user 10
    (5, ts(40), 11, "click", 5.0, None),
    (2, ts(6), 10, "view", 2.0, None),    # duplicate event_id=2
    (6, ts(50), None, "view", None, None),  # null user -> DQ quarantine
]


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("events_landing"))
    spark.createDataFrame(EVENTS, EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    return path


def drain_to_memory(spark, stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def test_tumbling_stream_matches_batch(spark, landing):
    stream = stx.read_event_stream(spark, landing, max_files_per_trigger=1)
    assert stream.isStreaming
    agg = stx.tumbling_window_counts(stream, window="30 minutes")
    got = {
        (r["window_start"].minute, r["event_type"]): (r["n_events"], r["total_value"])
        for r in drain_to_memory(spark, agg, "t_tumbling", "complete").collect()
    }
    # [0:00,0:30): ids 1,2,3 + dup-2 (no dedup here); [0:30,1:00): 4,5,6
    assert got[(0, "view")] == (3, 5.0)
    assert got[(0, "click")] == (1, 3.0)
    assert got[(30, "view")] == (2, 4.0)
    assert got[(30, "click")] == (1, 5.0)


def test_sliding_stream_two_panes_per_event(spark, landing):
    stream = stx.read_event_stream(spark, landing)
    agg = stx.sliding_window_counts(stream, window="1 hour", slide="30 minutes")
    rows = drain_to_memory(spark, agg, "t_sliding", "complete").collect()
    # every event lands in exactly window/slide = 2 panes
    assert sum(r["n_events"] for r in rows) == 2 * len(EVENTS)


def test_session_windows_stream(spark, landing):
    stream = stx.read_event_stream(spark, landing)
    sess = stx.session_window_counts(stream, gap="10 minutes")
    rows = drain_to_memory(spark, sess, "t_sessions", "complete").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 10: events at 0:01,0:05,0:06,0:40 -> two sessions (3 + 1 events)
    assert sorted(s["n_events"] for s in by_user[10]) == [1, 3]
    # session end = last event in session + gap
    first = min(by_user[10], key=lambda r: r["session_start"])
    assert first["session_end"] == ts(16)


def test_watermarked_dedup_stream(spark, landing, tmp_path):
    stream = stx.read_event_stream(spark, landing)
    deduped = stx.watermarked_dedup(stream, ["event_id"])
    out = f"{tmp_path}/dedup/data"
    stx.run_available_now(
        deduped, checkpoint=f"{tmp_path}/dedup/ckpt", out_path=out
    )
    back = spark.read.schema(EVENT_SCHEMA).parquet(out)
    assert back.count() == 6  # 7 rows - 1 duplicate event_id
    assert back.select("event_id").distinct().count() == 6


def test_foreach_batch_dq_split(spark, landing, tmp_path):
    stream = stx.read_event_stream(spark, landing)
    q = stx.split_to_silver_and_quarantine(
        stream,
        [NotNull("user_id")],
        silver_path=str(tmp_path / "silver"),
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination()
    silver = spark.read.parquet(str(tmp_path / "silver"))
    quarantine = spark.read.parquet(str(tmp_path / "quarantine"))
    assert silver.count() == 6
    assert quarantine.count() == 1
    rec = quarantine.first()
    assert rec["source_table"] == "events"
    assert "not_null(user_id)" in rec["reason"]


def _data_files(path) -> list:
    return sorted(p.name for p in path.glob("*.parquet"))


def test_foreach_batch_dq_split_writes_one_file_per_side(spark, tmp_path):
    # A window rule shuffles the batch into spark.sql.shuffle.partitions
    # hash partitions inside the per-batch cache; AQE must be allowed to
    # coalesce them there, or each side is written as one file per
    # non-empty hash partition.
    from news_data_pipeline_spark.dq import Unique

    rows = [
        (i, ts(i % 60), None if i % 10 == 0 else i % 7, "view", float(i), None)
        for i in range(1, 41)
    ]
    # later copies of event_ids 1..8: Unique keeps the earliest by ts
    rows += [(i, ts(59, i), i % 7, "view", 0.0, None) for i in range(1, 9)]
    landing = str(tmp_path / "landing")
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(landing)
    q = stx.split_to_silver_and_quarantine(
        stx.read_event_stream(spark, landing),
        [
            NotNull("user_id"),
            Unique("event_id", quarantine_all=False, order_by=("ts",)),
        ],
        silver_path=str(tmp_path / "silver"),
        quarantine_path=str(tmp_path / "quarantine"),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination()
    assert len(_data_files(tmp_path / "silver" / "batch_id=0")) == 1
    assert len(_data_files(tmp_path / "quarantine" / "batch_id=0")) == 1
    silver = spark.read.parquet(str(tmp_path / "silver"))
    quarantine = spark.read.parquet(str(tmp_path / "quarantine"))
    # 40 originals minus 4 null users; the 8 later copies are extras
    assert sorted(r["event_id"] for r in silver.collect()) == [
        i for i in range(1, 41) if i % 10
    ]
    reasons = sorted(r["reason"] for r in quarantine.collect())
    assert reasons == ["not_null(user_id)"] * 4 + ["unique(event_id)"] * 8


def test_publish_snapshots_writes_one_file_per_snapshot(spark, tmp_path):
    # The complete-mode batch keeps the stream's state partitioning;
    # the sink rebalances the cached snapshot so AQE sizes it to its data.
    from news_data_pipeline_spark.sources.writers import VersionedLayer
    from news_data_pipeline_spark.streaming.sinks import publish_snapshots

    rows = [(i, ts(i % 60), i % 9, "view", 1.0, None) for i in range(40)]
    landing = str(tmp_path / "landing")
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(landing)
    agg = (
        stx.read_event_stream(spark, landing)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = publish_snapshots(
        agg,
        layer_path=str(tmp_path / "mv"),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination()
    layer = VersionedLayer(str(tmp_path / "mv"))
    current = layer.current_version(spark)
    assert len(_data_files(tmp_path / "mv" / current)) == 1
    got = {r["user_id"]: r["n_events"] for r in layer.read(spark).collect()}
    assert got == {u: sum(1 for i in range(40) if i % 9 == u) for u in range(9)}


def test_stateful_running_totals_stream(spark, landing):
    stream = stx.read_event_stream(spark, landing)
    totals = stx.running_user_totals(stream)
    got = drain_to_memory(spark, totals, "t_state", "update")
    # single micro-batch -> the last update per user == batch aggregation
    batch = batch_user_totals(spark.createDataFrame(EVENTS, EVENT_SCHEMA))
    got_map = {
        r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"])
        for r in got.collect()
    }
    want_map = {
        r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"])
        for r in batch.collect()
    }
    assert got_map == want_map


def test_stream_static_join_enrichment(spark, landing, tmp_path):
    # Stream-static join: each micro-batch joins the (broadcastable)
    # static dim fresh — the streaming enrichment pattern.
    stream = stx.read_event_stream(spark, landing)
    dim = spark.createDataFrame(
        [("view", "engagement"), ("click", "engagement"), ("signup", "conversion")],
        ["event_type", "category"],
    )
    enriched = stream.join(F.broadcast(dim), on="event_type", how="left")
    out = f"{tmp_path}/enrich/data"
    stx.run_available_now(
        enriched, checkpoint=f"{tmp_path}/enrich/ckpt", out_path=out
    )
    back = spark.read.parquet(out)
    assert back.count() == len(EVENTS)
    assert back.where("category = 'engagement'").count() == len(EVENTS)


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """Restarting from a checkpoint must process only NEW files and
    never re-emit old rows — the file-sink exactly-once contract."""
    landing2 = str(tmp_path / "landing")
    batch1 = [(i, ts(i % 50), 10, "view", 1.0, None) for i in range(1, 4)]
    spark.createDataFrame(batch1, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing2)

    def run_once():
        stream = stx.read_event_stream(spark, landing2)
        stx.run_available_now(
            stream,
            checkpoint=f"{tmp_path}/ckpt",
            out_path=f"{tmp_path}/out",
        )

    run_once()
    assert spark.read.parquet(f"{tmp_path}/out").count() == 3
    # land a second batch, restart from the SAME checkpoint
    batch2 = [(i, ts(i % 50), 11, "click", 2.0, None) for i in range(100, 105)]
    spark.createDataFrame(batch2, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing2)
    run_once()
    out = spark.read.parquet(f"{tmp_path}/out")
    assert out.count() == 8  # 3 + 5, nothing reprocessed
    assert out.select("event_id").distinct().count() == 8


def test_stateful_last_ts_survives_late_batches(spark, tmp_path):
    """A late-arriving micro-batch must not move last_ts backwards —
    the lifetime max lives in state, not per-batch."""
    landing3 = str(tmp_path / "landing")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    spark.createDataFrame(
        [(1, ts(30), 10, "view", 1.0, None)], EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(landing3)
    spark.createDataFrame(
        [(2, ts(5), 10, "view", 2.0, None)], EVENT_SCHEMA  # LATE event
    ).coalesce(1).write.mode("append").parquet(landing3)

    stream = stx.read_event_stream(spark, landing3, max_files_per_trigger=1)
    got = drain_to_memory(
        spark, stx.running_user_totals(stream), "t_state_late", "update"
    )
    updates = sorted(got.collect(), key=lambda r: r["n_events"])
    final = updates[-1]
    assert final["n_events"] == 2
    assert final["last_ts"] == ts(30)  # not dragged back to 0:05


def test_highwater_stream_matches_batch(spark, landing):
    from news_data_pipeline_spark.streaming.state import (
        batch_value_highwater,
        user_value_highwater,
    )

    stream = stx.read_event_stream(spark, landing)
    got = drain_to_memory(
        spark, user_value_highwater(stream), "t_highwater", "update"
    )
    want = batch_value_highwater(spark.createDataFrame(EVENTS, EVENT_SCHEMA))
    got_set = {(r["user_id"], r["ts"], r["value"]) for r in got.collect()}
    want_set = {(r["user_id"], r["ts"], r["value"]) for r in want.collect()}
    assert got_set == want_set
    # strictly fewer emissions than events — only new maxima fire
    assert len(got_set) < len(EVENTS)


def test_stream_stream_interval_join(spark, tmp_path):
    """Two event streams join on user within a time window; state stays
    bounded because both sides are watermarked and time-bounded."""
    import pyspark.sql.functions as SF

    views_dir = str(tmp_path / "views")
    clicks_dir = str(tmp_path / "clicks")
    views = [(1, ts(0), 10, "view", 1.0, None), (2, ts(30), 11, "view", 1.0, None)]
    clicks = [
        (91, ts(5), 10, "click", 1.0, None),    # within 15m of view 1
        (92, ts(25), 10, "click", 1.0, None),   # NOT within 15m of view 1
        (93, ts(31), 11, "click", 1.0, None),   # within 15m of view 2
    ]
    spark.createDataFrame(views, EVENT_SCHEMA).coalesce(1).write.parquet(views_dir)
    spark.createDataFrame(clicks, EVENT_SCHEMA).coalesce(1).write.parquet(clicks_dir)

    v = stx.read_event_stream(spark, views_dir).select(
        SF.col("user_id"), SF.col("ts").alias("l_ts"),
        SF.col("event_id").alias("view_id"),
    )
    c = stx.read_event_stream(spark, clicks_dir).select(
        SF.col("user_id").alias("c_user"), SF.col("ts").alias("r_ts"),
        SF.col("event_id").alias("click_id"),
    ).withColumnRenamed("c_user", "user_id")
    joined = stx.interval_join_streams(
        v, c.withColumnRenamed("user_id", "user_id"), on="user_id",
        within="15 minutes",
    ).select(v["user_id"], "view_id", "click_id")
    got = {
        (r["view_id"], r["click_id"])
        for r in drain_to_memory(spark, joined, "t_ssjoin", "append").collect()
    }
    assert got == {(1, 91), (2, 93)}


def test_watermark_drops_data_later_than_threshold(spark, tmp_path):
    """An event arriving AFTER the watermark passed its window must not
    resurrect the finalized window — the bounded-state contract."""
    landing4 = str(tmp_path / "landing")
    out = f"{tmp_path}/wm/data"

    def run():
        stream = stx.read_event_stream(spark, landing4)
        agg = stx.tumbling_window_counts(
            stream, window="30 minutes", watermark="10 minutes"
        )
        stx.run_available_now(agg, checkpoint=f"{tmp_path}/wm/ckpt", out_path=out)

    # run 1: event at 3:00 advances the watermark (10-minute delay) to
    # 2:50 and finalizes the [0:00, 0:30) window with ONE event
    b1 = [(1, datetime.datetime(2024, 1, 1, 3, 0), 10, "view", 1.0, None),
          (2, datetime.datetime(2024, 1, 1, 0, 5), 10, "view", 1.0, None)]
    spark.createDataFrame(b1, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing4)
    run()
    # run 2 (same checkpoint — the watermark PERSISTS across restarts):
    # a very late event for the long-finalized window must be dropped
    b2 = [(3, datetime.datetime(2024, 1, 1, 0, 10), 10, "view", 100.0, None)]
    spark.createDataFrame(b2, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing4)
    run()

    rows = {r["window_start"].strftime("%H:%M"): (r["n_events"], r["total_value"])
            for r in spark.read.parquet(out).collect()}
    # finalized with one event; the late 100.0 never resurrects the window
    assert rows.get("00:00") == (1, 1.0)


def test_publish_snapshots_atomic_materialized_view(spark, landing, tmp_path):
    # Complete-mode aggregate published through VersionedLayer: after the
    # replay, readers get exactly one committed, complete snapshot; a
    # second replay (new data unchanged) republished atomically and the
    # vacuum keeps version count bounded without ever touching current.
    from news_data_pipeline_spark.sources.writers import VersionedLayer
    from news_data_pipeline_spark.streaming.sinks import publish_snapshots

    layer_path = str(tmp_path / "mv")
    stream = stx.read_event_stream(spark, landing, max_files_per_trigger=1)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    q = publish_snapshots(
        agg,
        layer_path=layer_path,
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
        keep_versions=1,
    )
    q.awaitTermination()
    layer = VersionedLayer(layer_path)
    got = {r["event_type"]: r["n_events"] for r in layer.read(spark).collect()}
    assert got == {"view": 5, "click": 2}
    # the pointer resolves to a complete snapshot with a _SUCCESS marker
    current = layer.current_version(spark)
    assert (tmp_path / "mv" / current / "_SUCCESS").exists()


def test_ingest_deduplicated_across_batches(spark, tmp_path):
    """Streaming incremental dedup: each micro-batch drops documents
    already accepted in earlier batches (and its own internal dups);
    the corpus accumulates only unique survivors."""
    import os

    landing = tmp_path / "docs_in"
    os.makedirs(landing)
    schema = "doc_id long, text string"
    # file 1: two uniques + an internal duplicate (keep lowest id)
    spark.createDataFrame(
        [(1, "alpha document"), (2, "beta document"), (3, "Alpha DOCUMENT")],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(str(landing / "f1"))
    # file 2: one dup of batch-1 content, one genuinely new
    spark.createDataFrame(
        [(10, "alpha document"), (11, "gamma document")], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(landing / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing / "*"))
    )
    q = stx.ingest_deduplicated(
        stream,
        id_col="doc_id",
        text_col="text",
        corpus_path=str(tmp_path / "corpus"),
        checkpoint=str(tmp_path / "ckpt"),
        method="exact",
        available_now=True,
    )
    q.awaitTermination()
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}
    # 3 (fingerprint-dup of 1) and 10 (dup of batch-1 "alpha") dropped;
    # file ordering is lexicographic, so f1 is batch 0
    assert set(texts) == {1, 2, 11}
    assert corpus.select("batch_id").distinct().count() == 2


def test_ingest_deduplicated_lsh_near_dups(spark, tmp_path):
    import os

    landing = tmp_path / "docs_in"
    os.makedirs(landing)
    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog again and again"
    spark.createDataFrame([(1, base)], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(landing / "f1"))
    spark.createDataFrame(
        [(2, base), (3, "completely unrelated zebra xylophone quartz words")],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(str(landing / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing / "*"))
    )
    q = stx.ingest_deduplicated(
        stream,
        id_col="doc_id",
        text_col="text",
        corpus_path=str(tmp_path / "corpus"),
        checkpoint=str(tmp_path / "ckpt"),
        method="lsh",
        available_now=True,
    )
    q.awaitTermination()
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    assert {r["doc_id"] for r in corpus.collect()} == {1, 3}


def test_ingest_deduplicated_validates(spark, tmp_path):
    import os

    os.makedirs(tmp_path / "x")
    os.makedirs(tmp_path / "y")
    schema = "doc_id long, text string, batch_id long"
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "x"))
    with pytest.raises(ValueError, match="batch_id"):
        stx.ingest_deduplicated(
            stream,
            id_col="doc_id",
            text_col="text",
            corpus_path=str(tmp_path / "c"),
            checkpoint=str(tmp_path / "k"),
        )
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path / "y")
    )
    with pytest.raises(ValueError, match="method"):
        stx.ingest_deduplicated(
            stream2,
            id_col="doc_id",
            text_col="text",
            corpus_path=str(tmp_path / "c"),
            checkpoint=str(tmp_path / "k"),
            method="nope",
        )


@pytest.mark.parametrize("method", ["exact", "lsh"])
def test_ingest_deduplicated_replay_is_idempotent(spark, tmp_path, method):
    """A batch replayed after a crash between its corpus write and its
    checkpoint commit leaves the corpus as it was: the replay overwrites
    its own ``batch_id`` partition and its corpus read excludes that
    partition, so it cannot flag its own earlier output as duplicates."""
    import os

    landing = tmp_path / "docs_in"
    os.makedirs(landing)
    schema = "doc_id long, text string"
    fox = "the quick brown fox jumps over the lazy dog"
    spark.createDataFrame(
        [(1, fox), (2, "a completely separate note about sailing ships")],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(str(landing / "f1"))
    spark.createDataFrame(
        [(10, fox), (11, "zebra xylophone quartz words never seen before")],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(str(landing / "f2"))
    corpus_path = str(tmp_path / "corpus")
    ckpt = tmp_path / "ckpt"

    def ingest():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(landing / "*"))
        )
        stx.ingest_deduplicated(
            stream,
            id_col="doc_id",
            text_col="text",
            corpus_path=corpus_path,
            checkpoint=str(ckpt),
            method=method,
            available_now=True,
        ).awaitTermination()
        return sorted(
            (r["doc_id"], r["batch_id"])
            for r in spark.read.parquet(corpus_path).collect()
        )

    first = ingest()
    assert first == [(1, 0), (2, 0), (11, 1)]
    # drop the newest commit: the restarted query re-runs batch 1
    newest = max(
        int(n) for n in os.listdir(ckpt / "commits") if n.isdigit()
    )
    assert newest == 1
    os.remove(ckpt / "commits" / str(newest))
    os.remove(ckpt / "commits" / f".{newest}.crc")
    assert ingest() == first
    assert (ckpt / "commits" / str(newest)).exists()


@pytest.mark.parametrize("sink", ["cms", "bloom", "sq", "pq", "dq_split"])
def test_partition_sink_replay_is_idempotent(spark, tmp_path, sink):
    """Every per-batch partition sink survives a replay: a batch re-run
    after a crash between its write and its checkpoint commit
    overwrites its own ``batch_id`` partition, so the merged read is
    unchanged (sketch counters are not doubled) and the commit is
    written again."""
    import os

    from news_data_pipeline_spark.operators import pq, sq
    from news_data_pipeline_spark.streaming import sinks

    out = str(tmp_path / "out")
    docs = "doc_id long, text string"
    texts = [
        (1, "alpha alpha beta"),
        (2, "beta gamma"),
        (3, "alpha delta delta"),
        (4, "gamma gamma gamma"),
    ]
    vecs = "vec_id long, embedding array<double>"
    vec_rows = [
        (i, [float((i * 7 + d * 3) % 11) for d in range(4)]) for i in range(8)
    ]
    if sink == "cms":
        schema, rows = docs, texts

        def start(stream, ckpt):
            return sinks.maintain_cms_sketch(
                stream, id_col="doc_id", text_col="text", sketch_path=out,
                checkpoint=ckpt, depth=4, width=64, available_now=True,
            )

        def read():
            return sinks.read_cms_sketch(spark, out)
    elif sink == "bloom":
        schema, rows = "fp string", [(t,) for _, t in texts]

        def start(stream, ckpt):
            return sinks.maintain_bloom_filter(
                stream, term_col="fp", filter_path=out, checkpoint=ckpt,
                num_bits=64, num_hashes=3, available_now=True,
            )

        def read():
            return sinks.read_bloom_filter(spark, out)
    elif sink == "sq":
        schema, rows = vecs, vec_rows
        bounds = sq.sq_train(spark.createDataFrame(vec_rows, vecs))

        def start(stream, ckpt):
            return sinks.maintain_sq_codes(
                stream, bounds, id_col="vec_id", vec_col="embedding",
                codes_path=out, checkpoint=ckpt, available_now=True,
            )

        def read():
            return sinks.read_sq_codes(spark, out)
    elif sink == "pq":
        schema, rows = vecs, vec_rows
        every = spark.createDataFrame(vec_rows, vecs)
        cent = every.orderBy("vec_id").limit(2).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid")
        )
        cb = pq.pq_train(
            pq.pq_residuals(every, cent), id_col="id", vec_col="rvec",
            m=2, k=4, sub_dim=2, iters=1,
        )

        def start(stream, ckpt):
            return sinks.maintain_pq_codes(
                stream, cent, cb, id_col="vec_id", vec_col="embedding",
                sub_dim=2, codes_path=out, checkpoint=ckpt,
                available_now=True,
            )

        def read():
            return sinks.read_pq_codes(spark, out)
    else:
        schema, rows = EVENT_SCHEMA, EVENTS
        out = str(tmp_path / "silver")

        def start(stream, ckpt):
            return sinks.split_to_silver_and_quarantine(
                stream, [NotNull("user_id")], silver_path=out,
                quarantine_path=str(tmp_path / "quarantine"),
                checkpoint=ckpt, available_now=True,
            )

        def read():
            # a replay stamps a new ingestion time on its quarantine rows
            quarantine = spark.read.parquet(str(tmp_path / "quarantine"))
            return spark.read.parquet(out).unionByName(
                quarantine.drop("ingestion_time"), allowMissingColumns=True
            )

    landing = tmp_path / "landing"
    half = len(rows) // 2
    for name, part in (("f1", rows[:half]), ("f2", rows[half:])):
        spark.createDataFrame(part, schema).coalesce(1).write.parquet(
            str(landing / name)
        )
    ckpt = tmp_path / "ckpt"

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(landing / "*"))
        )
        start(stream, str(ckpt)).awaitTermination()
        return sorted(map(str, read().collect())), sorted(os.listdir(out))

    first = run()
    assert first[1] == ["batch_id=0", "batch_id=1"]
    # drop the newest commit: the restarted query re-runs batch 1
    newest = max(int(n) for n in os.listdir(ckpt / "commits") if n.isdigit())
    assert newest == 1
    os.remove(ckpt / "commits" / str(newest))
    os.remove(ckpt / "commits" / f".{newest}.crc")
    assert run() == first
    assert (ckpt / "commits" / str(newest)).exists()
    if sink == "cms":
        # each hash row counts every token exactly once
        n_tokens = sum(len(t.split()) for _, t in texts)
        for r in read().groupBy("row").agg(F.sum("counter")).collect():
            assert r[1] == n_tokens


def test_user_event_islands_model(spark):
    """Gaps-and-islands vs a driver-side model over sf0.001 events."""
    import pandas as pd

    from news_data_pipeline_spark.queries.streaming_batch import (
        user_event_islands,
    )
    from tests.conftest import SF_DIR

    out = user_event_islands(spark, SF_DIR).collect()
    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev = ev[ev["ts"].notna()].sort_values(["user_id", "ts", "event_id"])

    islands = {}
    for uid, grp in ev.groupby("user_id"):
        prev_type, key = object(), None
        for r in grp.itertuples():
            if r.event_type != prev_type:
                key = (uid, r.event_type, r.ts)
                islands[key] = [r.ts, r.ts, 0]
                prev_type = r.event_type
            islands[key][1] = r.ts
            islands[key][2] += 1

    got = {
        (r["user_id"], r["event_type"], r["island_start"]): [
            r["island_start"], r["island_end"], r["n_events"]
        ]
        for r in out
    }
    assert len(got) == len(out) == len(islands)
    assert got == {k: v for k, v in islands.items()}
    # islands partition the events: counts sum to the row count
    assert sum(v[2] for v in got.values()) == len(ev)


def test_stateful_funnel_stream_matches_batch(spark, tmp_path):
    # Purpose-built fixture with every stage represented, including the
    # ordering rule (user 23's view precedes signup -> signup_only).
    rows = [
        (101, ts(1), 20, "signup", 1.0, None),
        (102, ts(2), 20, "view", 1.0, None),
        (103, ts(3), 20, "purchase", 1.0, None),   # full funnel
        (104, ts(1), 21, "signup", 1.0, None),
        (105, ts(4), 21, "view", 1.0, None),       # viewed, no purchase
        (106, ts(2), 22, "view", 1.0, None),       # no signup at all
        (107, ts(5), 23, "signup", 1.0, None),
        (108, ts(2), 23, "view", 1.0, None),       # view BEFORE signup
        (109, ts(9), 24, "signup", 1.0, None),
        (110, ts(3), 24, "purchase", 1.0, None),   # purchase, never viewed
    ]
    path = str(tmp_path / "funnel_landing")
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    stream = stx.read_event_stream(spark, path)
    got = drain_to_memory(
        spark, stx.user_funnel_state(stream), "t_funnel", "update"
    )
    from news_data_pipeline_spark.streaming.state import batch_funnel_stages

    want = {
        r["user_id"]: r["funnel_stage"]
        for r in batch_funnel_stages(
            spark.createDataFrame(rows, EVENT_SCHEMA)
        ).collect()
    }
    got_map = {r["user_id"]: r["funnel_stage"] for r in got.collect()}
    assert got_map == want
    assert want[20] == "purchased"
    assert want[21] == "viewed"
    assert want[22] == "no_signup"
    assert want[23] == "signup_only"
    # no view event at all: the view gate fails before purchase is
    # even considered
    assert want[24] == "signup_only"


def test_stateful_funnel_converges_on_late_signup(spark, tmp_path):
    """The funnel fold is a min, so a LATE-arriving earlier signup must
    retroactively advance the stage: view-before-any-signup reads as
    no_signup, then the late signup (earlier event time) lands and the
    stage converges to viewed — identical to the batch answer over the
    union."""
    landing4 = str(tmp_path / "landing")
    spark.createDataFrame(
        [(1, ts(20), 10, "view", 1.0, None)], EVENT_SCHEMA
    ).coalesce(1).write.mode("append").parquet(landing4)
    spark.createDataFrame(
        [(2, ts(5), 10, "signup", 1.0, None)], EVENT_SCHEMA  # LATE, earlier
    ).coalesce(1).write.mode("append").parquet(landing4)

    stream = stx.read_event_stream(spark, landing4, max_files_per_trigger=1)
    got = drain_to_memory(
        spark, stx.user_funnel_state(stream), "t_funnel_late", "update"
    )
    stages = [r["funnel_stage"] for r in got.collect()]
    # one update per micro-batch; the final state is the converged one
    assert stages[-1] == "viewed"
    assert "no_signup" in stages[:-1] or len(stages) == 1


def test_streaming_rate_anomalies_match_batch_query(spark, tmp_path):
    """The stateful trailing-z detector must converge, across two
    micro-batches with late data, to EXACTLY the rows of the oracled
    batch query event_rate_anomalies run on the union — same hours,
    same 4dp-rounded means and z-scores."""
    import datetime as dt
    from news_data_pipeline_spark.queries.streaming_batch import (
        event_rate_anomalies,
    )

    def hr(h, minute=0):
        return dt.datetime(2024, 3, 1) + dt.timedelta(hours=h, minutes=minute)

    rows, eid = [], 0
    for h in range(30):
        n = 30 if h == 28 else 3 + (h % 3)   # spike at hour 28
        for i in range(n):
            eid += 1
            rows.append((eid, hr(h, i % 60), 10, "click", 1.0, None))
        for i in range(4):                    # flat 'view' baseline
            eid += 1
            rows.append((eid, hr(h, i), 11, "view", 1.0, None))
    # batch side: the REGISTERED query, pointed at a temp sf_dir
    spark.createDataFrame(rows, EVENT_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    want = {
        (r["event_type"], r["hour"]): (r["n_events"], r["mean_prev"], r["z"])
        for r in event_rate_anomalies(spark, str(tmp_path)).collect()
    }
    assert want, "fixture must produce at least one batch anomaly"
    assert any(k[1].hour == 4 for k in want), "spike hour must be flagged"

    # stream side: two files -> two micro-batches; the SECOND carries
    # the spike hour plus late rows for an early hour
    split = [r for r in rows if not (r[3] == "click" and r[1].hour == 4
                                     and r[1].day == 2)]
    late = [r for r in rows if r[3] == "click" and r[1].hour == 4
            and r[1].day == 2]
    landing5 = str(tmp_path / "landing")
    spark.createDataFrame(split, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing5)
    spark.createDataFrame(late, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing5)
    stream = stx.read_event_stream(spark, landing5, max_files_per_trigger=1)
    got_df = drain_to_memory(
        spark, stx.streaming_rate_anomalies(stream), "t_rate", "update"
    )
    # update stream: keep the LAST emission per key (micro-batch order
    # == arrival order in the memory sink; collect preserves it)
    per_key_rows = {}
    for r in got_df.collect():
        per_key_rows.setdefault(r["event_type"], []).append(r)
    got = {}
    # the final batch re-emits each key's full list; reconstruct it by
    # taking rows after the last emission boundary: simpler — rerun a
    # complete fold is what the LAST batch emitted, so dedupe to the
    # latest (hour) tuple per key
    for etype, rs in per_key_rows.items():
        for r in rs:
            got[(etype, r["hour"])] = (r["n_events"], r["mean_prev"], r["z"])
    assert got == want


def test_stateful_totals_exact_across_micro_batches(spark, tmp_path):
    # The integer-cent state (streaming/state.py) makes the stateful
    # fold order-independent: any micro-batch split must reproduce the
    # batch twin EXACTLY (==, not approx), even on values parked on
    # half-cent boundaries where a double accumulator drifts by
    # summation order. Three files + maxFilesPerTrigger=1 force three
    # micro-batches through the state transition.
    import math

    adversarial = [2.675, 0.005, 1.115, 3.335, 0.045, 9.995, 5.555]
    rows_per_file = [
        [
            (100 + f * 10 + i, ts(f * 3 + i % 3, i), 77 + (i % 2), "view",
             math.nextafter(v, 4.0 * (i % 2)), None)
            for i, v in enumerate(adversarial)
        ]
        for f in range(3)
    ]
    path = str(tmp_path / "adversarial_landing")
    for f, rows in enumerate(rows_per_file):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    stream = stx.read_event_stream(spark, path, max_files_per_trigger=1)
    got_df = drain_to_memory(
        spark, stx.running_user_totals(stream), "t_state_exact", "update"
    )
    # update mode appends one row per (user, batch); the LAST row per
    # user is the converged answer
    latest = {}
    for i, r in enumerate(got_df.collect()):
        latest[r["user_id"]] = (i, r["n_events"], r["total_value"], r["last_ts"])
    got = {u: v[1:] for u, v in latest.items()}

    all_rows = [r for rows in rows_per_file for r in rows]
    want = {
        r["user_id"]: (r["n_events"], r["total_value"], r["last_ts"])
        for r in batch_user_totals(
            spark.createDataFrame(all_rows, EVENT_SCHEMA)
        ).collect()
    }
    assert got == want


def test_streaming_jsonl_and_csv_quarantine_ingestion(spark, tmp_path):
    # The declared-schema + corrupt-line-quarantine readers run the SAME
    # stateless expressions under readStream — prove both formats parse
    # incrementally and quarantine the same lines the batch path does.
    from news_data_pipeline_spark.sources.csvio import read_csv
    from news_data_pipeline_spark.sources.jsonl import (
        read_jsonl,
        split_corrupt_records,
    )

    jdir = tmp_path / "jsonl_landing"
    jdir.mkdir()
    (jdir / "a.jsonl").write_text(
        '{"id": 1, "name": "ok"}\n'
        "this is not json\n"
        '{"id": 2, "name": "also ok"}\n'
    )
    stream = read_jsonl(spark, str(jdir), "id INT, name STRING", streaming=True)
    assert stream.isStreaming
    valid, corrupt = split_corrupt_records(stream)
    got_valid = drain_to_memory(spark, valid, "t_jsonl_valid", "append")
    got_corrupt = drain_to_memory(spark, corrupt, "t_jsonl_corrupt", "append")
    assert sorted(map(tuple, got_valid.collect())) == [(1, "ok"), (2, "also ok")]
    assert [r["payload"] for r in got_corrupt.collect()] == ["this is not json"]

    cdir = tmp_path / "csv_landing"
    cdir.mkdir()
    (cdir / "a.csv").write_text("id,name\n1,ok\nx,bad\n")
    cstream = read_csv(
        spark, str(cdir), "id INT, name STRING", skip_header=True, streaming=True
    )
    assert cstream.isStreaming
    cvalid, ccorrupt = split_corrupt_records(cstream)
    got_cv = drain_to_memory(spark, cvalid, "t_csv_valid", "append")
    got_cc = drain_to_memory(spark, ccorrupt, "t_csv_corrupt", "append")
    assert sorted(map(tuple, got_cv.collect())) == [(1, "ok")]
    assert [r["payload"] for r in got_cc.collect()] == ["x,bad"]


def test_apply_cdc_upserts_and_deletes(spark, tmp_path):
    """Streaming MERGE INTO: batch 1 bootstraps, batch 2 updates one
    key, inserts one, deletes one — last change per key wins inside a
    batch; readers see one committed table version per batch."""
    import os

    landing = tmp_path / "cdc_in"
    os.makedirs(landing)
    schema = "k long, tag string, version long, op string"
    spark.createDataFrame(
        [(1, "a", 1, "u"), (2, "b", 1, "u"), (3, "c", 1, "u")], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(landing / "f1"))
    # batch 2: k=2 updated twice (version 3 must win), k=3 deleted,
    # k=4 inserted, k=5 inserted-then-deleted (net: absent)
    spark.createDataFrame(
        [
            (2, "stale", 2, "u"),
            (2, "fresh", 3, "u"),
            (3, None, 2, "d"),
            (4, "d4", 2, "u"),
            (5, "ghost", 2, "u"),
            (5, None, 3, "d"),
        ],
        schema,
    ).coalesce(1).write.mode("overwrite").parquet(str(landing / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing / "*"))
    )
    q = stx.apply_cdc(
        stream,
        keys="k",
        layer_path=str(tmp_path / "table"),
        checkpoint=str(tmp_path / "cdc_ckpt"),
        dedup_order_col="version",
        op_col="op",
        available_now=True,
    )
    q.awaitTermination()

    from news_data_pipeline_spark.sources.writers import VersionedLayer

    layer = VersionedLayer(str(tmp_path / "table"))
    got = {r["k"]: r["tag"] for r in layer.read(spark).collect()}
    assert got == {1: "a", 2: "fresh", 4: "d4"}
    assert "op" not in layer.read(spark).columns
    # two committed versions — one per micro-batch; batch-1 state is
    # still time-travelable
    versions = layer.versions(spark)
    assert len(versions) == 2
    first = min(
        versions,
        key=lambda v: 0 if layer.read(spark, version=v).count() == 3 else 1,
    )
    old = {r["k"]: r["tag"] for r in layer.read(spark, version=first).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}


def test_apply_cdc_requires_order_col_with_op(spark, tmp_path):
    import os

    os.makedirs(tmp_path / "empty_in")
    stream = (
        spark.readStream.schema("k long, op string")
        .parquet(str(tmp_path / "empty_in"))
    )
    with pytest.raises(ValueError, match="dedup_order_col"):
        stx.apply_cdc(
            stream,
            keys="k",
            layer_path=str(tmp_path / "t"),
            checkpoint=str(tmp_path / "c"),
            op_col="op",
        )


def test_stream_static_dim_enrichment_matches_batch(spark, landing):
    # dim covers users 10 and 12 only: 11's events must survive with a
    # NULL segment (left join keeps orphans), 12 simply never appears.
    dim = spark.createDataFrame(
        [(10, "gold"), (12, "silver")], ["user_id", "segment"]
    )
    stream = stx.read_event_stream(spark, landing)
    enriched = stx.enrich_stream_with_dim(stream, dim, on="user_id")
    assert enriched.isStreaming
    got = sorted(
        (r["event_id"], r["segment"])
        for r in drain_to_memory(
            spark, enriched, "t_dim_enrich", "append"
        ).collect()
    )
    batch = spark.createDataFrame(EVENTS, EVENT_SCHEMA).join(
        dim, on="user_id", how="left"
    )
    assert got == sorted(
        (r["event_id"], r["segment"]) for r in batch.collect()
    )
    # user 11 rows present and unenriched
    assert (3, None) in got and (5, None) in got
