"""Streaming sinks: foreachBatch DQ split, availableNow runner.

``foreachBatch`` is where streaming meets the batch DQ engine: each
micro-batch is an ordinary DataFrame, so the same one-pass rule engine
(``dq.run_dq``) splits it and both sides are written transactionally per
batch — the streaming version of the reference's quarantine flow
(``02:43-52``).

Every sink starts through ``_start``. The partition sinks (DQ split,
dedup ingest, and the sketch and code-table maintenance sinks) write
each batch through ``_write_batch`` and read back through
``_read_batches``, so replay safety and what an unwritten path reads
as are decided in one place.
"""

from __future__ import annotations

import contextlib
import datetime
from collections.abc import Callable, Iterator

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from news_data_pipeline_spark.dq.engine import (
    DQResult,
    run_dq,
    to_quarantine_records,
)
from news_data_pipeline_spark.dq.rules import Rule
from news_data_pipeline_spark.sources.writers import write_layer

_AQE = "spark.sql.adaptive.enabled"


@contextlib.contextmanager
def _batch_aqe(spark: SparkSession) -> Iterator[None]:
    """Switch AQE on for the body of a ``foreachBatch`` call. Spark
    turns it off in a stateful stream's session to pin the state
    partitioning, but a batch frame is a plain batch plan over the
    already planned micro-batch, so AQE may size it like any other."""
    aqe = spark.conf.get(_AQE)
    spark.conf.set(_AQE, "true")
    try:
        yield
    finally:
        spark.conf.set(_AQE, aqe)


@contextlib.contextmanager
def _batch_cache(cached: DataFrame | DQResult) -> Iterator[None]:
    """Scope of one per-batch cache (a persisted frame, or a
    ``run_dq(cache=True)`` split) inside a ``foreachBatch`` call. The
    first job that reads it — typically an ``isEmpty()`` probe — builds
    it, the writes after it read it, and it is unpersisted on exit,
    also when a write fails: a retried batch would otherwise strand one
    cached frame per attempt.

    The cache is sized to its data: AQE may coalesce a cached plan's
    shuffle partitions (``canChangeCachedPlanOutputPartitioning`` in
    ``session.RUNTIME_CONFS``), so a small batch is a few tasks and
    one file per write, not one per shuffle partition.
    """
    try:
        yield
    finally:
        cached.unpersist()


def _start(
    stream: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool,
    output_mode: str | None = None,
) -> StreamingQuery:
    """Start ``process`` as the stream's ``foreachBatch`` body on
    ``checkpoint``; ``available_now`` drains the backlog, then stops."""
    writer = stream.writeStream
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    writer = writer.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _write_batch(
    batch: DataFrame | DQResult,
    batch_id: int,
    outputs: Callable[[], dict[str, DataFrame]],
    *,
    fmt: str = "parquet",
) -> None:
    """Write one micro-batch as its own ``batch_id=N`` partition of each
    output path: the replay contract of every partition sink here.

    ``foreachBatch`` alone is only at-least-once: a crash between a
    write and the checkpoint commit replays the batch under the same
    id. Each output therefore OVERWRITES ``path/batch_id=N``, so a
    replay rewrites its own directory instead of appending duplicates
    (or, for a sketch, double-counting), and readers scan the parent
    path with ``batch_id`` as an ordinary partition column
    (``_read_batches``). An empty batch writes nothing; ``outputs``
    (``{path: frame}``) is built only for a non-empty one. ``batch``
    may be a ``run_dq`` split, whose emptiness probe builds its cache.
    """
    if batch.isEmpty():
        return
    for path, frame in outputs().items():
        write_layer(
            frame, f"{path}/batch_id={batch_id}", mode="overwrite", fmt=fmt
        )


def _read_batches(
    spark: SparkSession,
    path: str,
    empty_schema: StructType | str,
    *,
    fmt: str = "parquet",
    skip_batch: int | None = None,
) -> DataFrame:
    """Every partition ``_write_batch`` wrote under ``path``, with
    ``batch_id`` dropped (``skip_batch`` leaves that batch out). A path
    no batch has written yet (empty stream, fresh deployment) reads as
    an empty frame of ``empty_schema``, the schema the sink writes, not
    as an ``AnalysisException``."""
    try:
        raw = spark.read.option("basePath", path).format(fmt).load(path)
        # force schema resolution: an unwritten path must fail here
        raw.schema
    except AnalysisException:
        return spark.createDataFrame([], empty_schema)
    if skip_batch is not None:
        raw = raw.where(F.col("batch_id") != skip_batch)
    return raw.drop("batch_id")


def split_to_silver_and_quarantine(
    stream: DataFrame,
    rules: list[Rule],
    *,
    silver_path: str,
    quarantine_path: str,
    checkpoint: str,
    source_table: str = "events",
    fmt: str = "parquet",
    available_now: bool = False,
) -> StreamingQuery:
    """Per-micro-batch DQ split: valid rows land under silver, violations
    (with JSON payload + reasons) under the quarantine audit path, each
    batch as its own replay-safe partition (``_write_batch``).

    The annotated frame both sides read is cached per batch and sized
    by AQE, so a small batch writes one file per side even when a
    window rule (``Unique``) shuffles it.
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        # Both split sides are consumed -> cache the annotated frame
        # once; the emptiness probe is the job that builds it.
        res = run_dq(batch, rules, cache=True)

        def sides() -> dict[str, DataFrame]:
            processed_at = datetime.datetime.now(
                datetime.timezone.utc
            ).strftime("%Y-%m-%d %H:%M:%S")
            return {
                silver_path: res.valid,
                quarantine_path: to_quarantine_records(
                    res.quarantined,
                    source_table=source_table,
                    ingestion_time=processed_at,
                ),
            }

        with _batch_cache(res):
            _write_batch(res, batch_id, sides, fmt=fmt)

    return _start(stream, _process, checkpoint, available_now)


def publish_snapshots(
    aggregated: DataFrame,
    *,
    layer_path: str,
    checkpoint: str,
    fmt: str = "parquet",
    available_now: bool = False,
    keep_versions: int = 2,
    vacuum_min_age_seconds: float = 3600.0,
) -> StreamingQuery:
    """Streaming materialized view with ATOMIC publishes.

    Each micro-batch of a complete-mode aggregate overwrites the whole
    result; writing it to a plain path would expose readers to Spark's
    delete-then-write window on every single batch. Routing the batch
    through ``VersionedLayer.overwrite`` makes each refresh a pointer
    swap: a reader always loads a complete snapshot — the previous one
    until the instant the new one commits. Old snapshots are vacuumed
    inline (never the current one, and never inside the vacuum grace
    window): with the default 1-hour ``vacuum_min_age_seconds``, a
    fast-triggering stream accumulates up to an hour of snapshots on
    disk before pruning — lower it (to, say, 2-3 trigger intervals) for
    high-frequency refreshes of large aggregates.

    This is the Spark-native answer to the reference's Delta gold
    tables refreshed per run (``_lib_dq_helpers.py:216,226``): the same
    always-consistent-read behavior, no table format required.
    """
    from news_data_pipeline_spark.sources.writers import VersionedLayer

    layer = VersionedLayer(layer_path, fmt=fmt)

    def _publish(batch: DataFrame, batch_id: int) -> None:
        # both the emptiness probe and the write consume the aggregate —
        # cache so the (possibly expensive) complete-mode result computes
        # once per trigger, like the DQ sink's split. The batch keeps the
        # stream's state partitioning (one file per state partition);
        # a rebalance lets AQE size the snapshot to its data instead.
        # Spark drops the REBALANCE hint when AQE is off, so the hint is
        # resolved inside the AQE scope.
        with _batch_aqe(batch.sparkSession):
            snapshot = batch.hint("rebalance").persist()
            with _batch_cache(snapshot):
                if snapshot.isEmpty():
                    return
                layer.overwrite(snapshot)
        layer.vacuum(
            batch.sparkSession,
            keep=keep_versions,
            min_age_seconds=vacuum_min_age_seconds,
        )

    return _start(aggregated, _publish, checkpoint, available_now, "complete")


def ingest_deduplicated(
    stream: DataFrame,
    *,
    id_col: str,
    text_col: str,
    corpus_path: str,
    checkpoint: str,
    method: str = "exact",
    fmt: str = "parquet",
    available_now: bool = False,
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
) -> StreamingQuery:
    """Continuously ingest documents, deduplicating each micro-batch
    against everything already accepted — the streaming twin of
    ``dedup.exact_dedup_against_corpus`` / ``lsh_dedup_against_corpus``.

    Per batch: batch-internal exact dedup first (deterministic
    keep-lowest-id — a batch can carry its own duplicates), then the
    against-corpus probe (``method='exact'`` fingerprint anti-join, or
    ``'lsh'`` MinHash band-bucket probe for near-dups), and survivors
    append to the corpus as their own ``batch_id=N`` partition. A
    Bloom prefilter in front of the exact anti-join keeps the same rows
    and measured slower (SCALE.md "Retired paths").

    Replay-safe per ``_write_batch``, and the corpus read EXCLUDES the
    current ``batch_id``: otherwise a replay would see its own prior
    output as "corpus", flag every row duplicate, and overwrite the
    partition with nothing. The exclusion is partition pruning, not a
    scan-and-filter.
    """
    from news_data_pipeline_spark.operators.dedup import (
        exact_dedup_against_corpus,
        fingerprint_dedup,
        lsh_dedup_against_corpus,
    )

    if method not in ("exact", "lsh"):
        raise ValueError(f"method must be 'exact' or 'lsh', got {method!r}")
    if "batch_id" in stream.columns:
        raise ValueError(
            "ingest_deduplicated reserves 'batch_id' for the corpus "
            "partition column; rename it first"
        )

    def _process(batch: DataFrame, batch_id: int) -> None:
        def survivors() -> dict[str, DataFrame]:
            deduped = fingerprint_dedup(batch, text_col, id_col)
            corpus = _read_batches(
                batch.sparkSession,
                corpus_path,
                batch.schema,
                fmt=fmt,
                skip_batch=batch_id,
            )
            if method == "exact":
                deduped = exact_dedup_against_corpus(deduped, corpus, text_col)
            else:
                deduped = lsh_dedup_against_corpus(
                    deduped,
                    corpus,
                    id_col,
                    text_col,
                    shingle_n=shingle_n,
                    bands=bands,
                    rows_per_band=rows_per_band,
                )
            return {corpus_path: deduped}

        _write_batch(batch, batch_id, survivors, fmt=fmt)

    return _start(stream, _process, checkpoint, available_now)


def run_available_now(
    df: DataFrame, *, checkpoint: str, out_path: str | None = None,
    fmt: str = "parquet", output_mode: str = "append",
) -> None:
    """Run a streaming plan over everything currently available, then stop.

    ``availableNow`` processes the backlog in bounded batches and
    terminates — the batch-replay mode used by tests and backfills.
    """
    writer = df.writeStream.trigger(availableNow=True).outputMode(output_mode)
    if out_path is None:
        q = writer.format("noop").start()
    else:
        q = (
            writer.format(fmt)
            .option("path", out_path)
            .option("checkpointLocation", checkpoint)
            .start()
        )
    q.awaitTermination()


def apply_cdc_batch(
    batch: DataFrame,
    layer,
    key_list: list[str],
    *,
    dedup_order_col: str | None = None,
    op_col: str | None = None,
    delete_value: str = "d",
) -> None:
    """One CDC micro-batch against a ``VersionedLayer``: resolve the
    latest change per key (``dedup_order_col`` descending), split the
    delete arm, MERGE both arms, commit one new version. This IS the
    body ``apply_cdc`` runs per micro-batch — public so a bounded batch
    replay (backfill, test, the ``cdc_apply_final_state`` registry
    query) exercises the identical code path the streaming sink does.
    """
    from pyspark.sql import Window

    from news_data_pipeline_spark.operators.upsert import merge_upsert

    if not batch.head(1):
        return
    b = batch
    if dedup_order_col is not None:
        w = Window.partitionBy(*key_list).orderBy(F.desc(dedup_order_col))
        b = (
            b.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    if op_col is not None:
        dels = b.where(F.col(op_col) == delete_value).select(*key_list)
        ups = b.where(
            (F.col(op_col) != delete_value) | F.col(op_col).isNull()
        ).drop(op_col)
    else:
        dels, ups = None, b
    spark = b.sparkSession
    try:
        merged = merge_upsert(layer.read(spark), ups, key_list)
    except IOError:  # first batch bootstraps the table
        merged = ups
    if dels is not None:
        merged = merge_upsert(merged, dels, key_list, delete=True)
    layer.overwrite(merged)


def apply_cdc(
    stream: DataFrame,
    *,
    keys: str | list[str],
    layer_path: str,
    checkpoint: str,
    dedup_order_col: str | None = None,
    op_col: str | None = None,
    delete_value: str = "d",
    fmt: str = "parquet",
    available_now: bool = False,
) -> StreamingQuery:
    """Continuously apply a change stream to a keyed table — the
    streaming MERGE INTO (the pattern every CDC/changefeed consumer
    runs): per micro-batch, keep the LATEST change per key, route
    deletes, and commit one new table version atomically.

    * ``dedup_order_col`` (a version/timestamp column on the stream)
      resolves multiple changes to one key inside a micro-batch —
      REQUIRED with ``op_col``, because whether the key ends deleted or
      upserted depends on which change is last; without ``op_col`` it
      is optional and batches must then carry unique keys.
    * ``op_col``/``delete_value``: rows whose op equals ``delete_value``
      remove their key; all other rows upsert (the op column itself is
      not stored).

    Semantics per batch are exactly ``operators.upsert.merge_upsert``
    (update arm, then delete arm) against the current
    ``VersionedLayer`` version, committed with the pointer swap —
    readers always see a complete table. Replay-idempotent: applying
    the same resolved batch to the already-merged table is a no-op
    (upserts rewrite identical values, deletes find nothing), so a
    crash between commit and checkpoint is safe.

    Scale: one full-outer shuffle per batch on the key — copy-on-write
    over the whole table each commit, the honest no-log baseline (a
    table format prunes rewrites to matched files; see
    ``operators/upsert`` module notes).
    """
    from news_data_pipeline_spark.sources.writers import VersionedLayer

    key_list = [keys] if isinstance(keys, str) else list(keys)
    if op_col is not None and dedup_order_col is None:
        raise ValueError(
            "op_col requires dedup_order_col: last-change-wins per key "
            "is undefined without an ordering column"
        )
    layer = VersionedLayer(layer_path, fmt=fmt)

    def _process(batch: DataFrame, batch_id: int) -> None:
        apply_cdc_batch(
            batch,
            layer,
            key_list,
            dedup_order_col=dedup_order_col,
            op_col=op_col,
            delete_value=delete_value,
        )

    return _start(stream, _process, checkpoint, available_now, "update")


def maintain_cms_sketch(
    stream: DataFrame,
    *,
    id_col: str,
    text_col: str,
    sketch_path: str,
    checkpoint: str,
    depth: int = 4,
    width: int = 256,
    available_now: bool = False,
) -> StreamingQuery:
    """Maintain a count-min token sketch over a document stream — the
    streaming twin of ``operators.sketches.cms_heavy_hitters``'s build
    phase, and the reason the sketch is a monoid: each micro-batch
    contributes its own constant-size sketch, and the current corpus
    sketch is just the counter-sum of all of them.

    Each batch writes ITS OWN sketch (``depth * width`` rows at most,
    regardless of batch size) as a replay-safe partition
    (``_write_batch``), so a replay cannot double-count. Readers merge
    with ``read_cms_sketch``; a compaction job may fold old partitions
    into one at any time without changing any estimate, because counter
    addition is associative.
    """
    from news_data_pipeline_spark.operators.dedup import word_shingles
    from news_data_pipeline_spark.operators.sketches import cms_sketch

    def _process(batch: DataFrame, batch_id: int) -> None:
        def sketch() -> dict[str, DataFrame]:
            tokens = word_shingles(
                batch, id_col, text_col, n=1, distinct=False
            ).withColumnRenamed("shingle", "token")
            counts = tokens.groupBy("token").agg(
                F.count(F.lit(1)).cast("long").alias("n")
            )
            return {
                sketch_path: cms_sketch(
                    counts, "token", "n", depth=depth, width=width
                )
            }

        _write_batch(batch, batch_id, sketch)

    return _start(stream, _process, checkpoint, available_now)


def read_cms_sketch(spark, sketch_path: str):
    """Merge every per-batch sketch partition into the current corpus
    sketch: one groupBy-sum over at most ``n_batches * depth * width``
    rows. Point-query it with ``operators.sketches.cms_estimates``.

    A sketch path no batch has written yet (empty stream, fresh
    deployment) reads as the EMPTY sketch — the monoid identity — not
    an error: every estimate against it is 0, which is the true count
    of everything an empty stream has seen."""
    raw = _read_batches(
        spark, sketch_path, "row int, bucket bigint, counter bigint"
    )
    return raw.groupBy("row", "bucket").agg(
        F.sum("counter").cast("long").alias("counter")
    )


def maintain_bloom_filter(
    stream: DataFrame,
    *,
    term_col: str,
    filter_path: str,
    checkpoint: str,
    num_bits: int = 4096,
    num_hashes: int = 4,
    available_now: bool = False,
) -> StreamingQuery:
    """Maintain a Bloom membership filter over a stream — the
    set-membership twin of ``maintain_cms_sketch``. Probe the merged
    filter with ``operators.sketches.bloom_probe``; it is not a dedup
    access path (SCALE.md "Retired paths").

    Each batch writes ITS OWN bit set (at most ``num_bits`` rows
    regardless of batch size) as a replay-safe partition
    (``_write_batch``); since the merge is union+distinct (bit-OR —
    idempotent, unlike CMS counter addition), even a duplicated
    partition could never corrupt the filter. A compaction job may
    fold old partitions into one at any time.
    """
    from news_data_pipeline_spark.operators.sketches import bloom_bits

    def _process(batch: DataFrame, batch_id: int) -> None:
        _write_batch(
            batch,
            batch_id,
            lambda: {
                filter_path: bloom_bits(
                    batch, term_col, num_bits=num_bits, num_hashes=num_hashes
                )
            },
        )

    return _start(stream, _process, checkpoint, available_now)


def read_bloom_filter(spark, filter_path: str):
    """Merge every per-batch bit partition into the current corpus
    filter: one distinct over at most ``n_batches * num_bits`` rows.
    Probe it with ``operators.sketches.bloom_probe``.

    A filter path no batch has written yet reads as the EMPTY filter
    (no bits set — every probe reports definitely-not-a-member, which
    is true of an empty corpus), not an error."""
    return _read_batches(spark, filter_path, "bit bigint").select(
        "bit"
    ).distinct()


def maintain_sq_codes(
    stream: DataFrame,
    bounds: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    codes_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Maintain an SQ8 code table over a vector stream — the
    quantized-index twin of ``maintain_cms_sketch`` for the ANN
    family: each micro-batch encodes its vectors under the FROZEN
    ``bounds`` artifact (operators.sq.sq_train output — frozen is what
    makes per-batch codes mergeable; re-training bounds per batch
    would silently re-scale history) and writes them as its own
    replay-safe partition (``_write_batch``). Readers merge with
    ``read_sq_codes``; re-quantize from raw vectors if the bounds
    artifact is ever retrained.
    """
    from news_data_pipeline_spark.operators.sq import sq_encode

    def _process(batch: DataFrame, batch_id: int) -> None:
        _write_batch(
            batch,
            batch_id,
            lambda: {
                codes_path: sq_encode(
                    batch, bounds, id_col=id_col, vec_col=vec_col
                )
            },
        )

    return _start(stream, _process, checkpoint, available_now)


def read_sq_codes(spark, codes_path: str):
    """The current merged code table: every batch partition, batch_id
    dropped (each vector id appears in exactly one batch, so the union
    IS the table — no re-aggregation needed, unlike the CMS counters).
    An unwritten path reads as the empty table — declared with the
    schema ``sq_encode`` actually writes (``j``/``code`` are INT from
    posexplode's position; ``id`` takes the caller's id type, assumed
    bigint here), so a union with freshly encoded codes neither fails
    nor silently widens on the empty branch."""
    return _read_batches(
        spark, codes_path, "id bigint, j int, code int"
    ).select("id", "j", "code")


def maintain_pq_codes(
    stream: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    codes_path: str,
    checkpoint: str,
    sub_dim: int = 16,
    available_now: bool = False,
) -> StreamingQuery:
    """Maintain a residual IVF×PQ code table over a vector stream —
    the ``by_residual=true`` twin of ``maintain_sq_codes``, completing
    the streamed-index family for the FAISS-default layout: each
    micro-batch encodes its vectors under the FROZEN (centroids,
    codebooks) artifacts (``operators.pq.pq_residual_encode`` —
    frozen is what makes per-batch codes mergeable; re-training either
    artifact per batch would silently re-quantize history against a
    different geometry) and writes them, cell id stored with every
    code, as its own replay-safe partition (``_write_batch``). Readers
    merge with ``read_pq_codes``; re-encode from raw vectors if either
    artifact is ever retrained (an explicit re-index, exactly as in
    FAISS)."""
    from news_data_pipeline_spark.operators.pq import pq_residual_encode

    def _process(batch: DataFrame, batch_id: int) -> None:
        # rebalance before the shard write (guide §6): the r14
        # row-local encode is narrow, so the shard would otherwise
        # inherit the batch's input partitioning — tiny files the
        # merged reader then pays per probe; the hint coalesces to
        # advisory-sized outputs at any batch size
        _write_batch(
            batch,
            batch_id,
            lambda: {
                codes_path: pq_residual_encode(
                    batch,
                    centroids,
                    codebooks,
                    id_col=id_col,
                    vec_col=vec_col,
                    sub_dim=sub_dim,
                ).hint("rebalance")
            },
        )

    return _start(stream, _process, checkpoint, available_now)


def read_pq_codes(spark, codes_path: str):
    """The current merged residual-code table: every batch partition,
    batch_id dropped (each vector id appears in exactly one batch, so
    the union IS the table — no re-aggregation needed). An unwritten
    path reads as the empty table, declared with the schema
    ``pq_residual_encode`` actually writes (``sub``/``code`` INT,
    ``cid`` from the centroid frame's id type — bigint here, matching
    the first-``nlist``-by-id convention; ``id`` assumed bigint)."""
    return _read_batches(
        spark, codes_path, "id bigint, sub int, code int, cid bigint"
    ).select("id", "sub", "code", "cid")
