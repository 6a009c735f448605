"""Training-sequence packing: lay documents end-to-end in a
deterministic global order and split at fixed context-length
boundaries — the layout step between a curated corpus and a
pretraining data loader.

The reference has no counterpart (it stops at gold tables); this is
part of the beyond-reference LLM-data surface. The standard recipe
("concatenate and chunk") needs one global running sum of token
counts — the textbook implementation is a global window
(``sum().over(Window.orderBy(...))``), which Spark executes on a
SINGLE partition: a non-starter at 100 TB. This module reuses the
two-pass range-partition pattern from ``functions.ids.global_row_number``:
``repartitionByRange`` on the order key, per-partition running sums,
then broadcast per-partition offsets — every stage is parallel and the
only driver-side data is one row per partition.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from news_data_pipeline_spark.functions.ids import global_running_sum


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens: Column | str,
    *,
    ctx_len: int,
    salt: str = "pack:",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign every document a position in the packed token stream and
    the context windows it lands in (concatenate-and-chunk packing).

    Documents are laid end-to-end in a deterministic hash order
    (``md5(salt || id)``, tie-broken by id — stable across runs,
    engines, and corpus repartitioning, and it shuffles correlated
    documents apart, which is exactly what the training loader wants).
    The stream is then cut every ``ctx_len`` tokens; a document may
    span a cut (standard pretraining packing — the loader masks or
    crosses the boundary; this operator just reports the layout).

    Returns one row per input document:

    * ``start_offset`` — 0-based token offset of the document's first
      token in the global stream;
    * ``seq_first`` / ``seq_last`` — first / last context-window index
      the document's tokens touch (zero-token documents sit at their
      offset: ``seq_last == seq_first``, ``n_ctx == 1``);
    * ``n_ctx`` — number of context windows spanned.

    Cost: one range shuffle + one broadcast join (see
    ``functions.ids.global_running_sum``); everything else is codegen
    arithmetic.

    Determinism contract: ``id_col`` must be unique and non-null.
    Duplicate ids (or >1 NULL id) tie on the full sort key, so their
    relative layout order — and therefore their offsets — is arbitrary
    per run; NULL ids additionally order differently across engines
    (Spark sorts NULL first, most SQL engines last). Dedup first
    (``operators.dedup``) if the corpus can violate this.
    """
    if ctx_len <= 0:
        raise ValueError(f"ctx_len must be positive, got {ctx_len}")
    tok = F.col(tokens) if isinstance(tokens, str) else tokens
    keyed = df.select(
        F.col(id_col).alias("id"),
        tok.cast("long").alias("n_tokens"),
        F.md5(
            F.concat(
                F.lit(salt),
                F.coalesce(F.col(id_col).cast("string"), F.lit("<NULL>")),
            )
        ).alias("__ok"),
    )
    run = global_running_sum(
        keyed,
        ["__ok", "id"],
        "n_tokens",
        out_col="__cum",
        num_partitions=num_partitions,
    )
    start = F.col("__cum") - F.col("n_tokens")
    seq_first = F.floor(start / ctx_len)
    # last token sits at __cum - 1; greatest() pins zero-token docs to
    # their start window instead of window (start-1)/ctx
    seq_last = F.floor(F.greatest(F.col("__cum") - 1, start) / ctx_len)
    return run.select(
        F.col("id"),
        F.col("n_tokens"),
        start.alias("start_offset"),
        seq_first.cast("long").alias("seq_first"),
        seq_last.cast("long").alias("seq_last"),
        (seq_last - seq_first + 1).cast("long").alias("n_ctx"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ctx_len: int,
    stride: int | None = None,
) -> DataFrame:
    """Split each document into word-level chunks of up to ``ctx_len``
    tokens starting every ``stride`` tokens (overlap = ``ctx_len -
    stride``) — the per-document window step a fine-tuning / retrieval
    pipeline uses where ``pack_sequences`` is the cross-document one.

    One row per (document, chunk): ``chunk_id`` (0-based),
    ``chunk_start`` (0-based token offset), ``chunk_tokens`` (token
    count, == ``ctx_len`` except the tail), ``chunk_text`` (the tokens
    re-joined with single spaces). Whitespace-only and NULL documents
    yield no chunks. Tokens are whitespace runs over trimmed text —
    the same split ``word_shingles`` uses, reproducible in ANSI SQL.

    Everything is codegen: one split per document, chunk indices from
    ``sequence`` + a single explode (the unavoidable row expansion),
    chunk text via ``slice`` (an O(ctx_len) copy per chunk — NOT a
    per-token higher-order lambda). No shuffle at all: chunking is a
    narrow map, so a 100-TB corpus chunks as a pure scan.
    """
    if ctx_len <= 0:
        raise ValueError(f"ctx_len must be positive, got {ctx_len}")
    stride = ctx_len if stride is None else stride
    if not 0 < stride <= ctx_len:
        raise ValueError(
            f"stride must be in (0, ctx_len], got {stride} (ctx_len={ctx_len})"
        )
    words = F.col("__words")
    n = F.size(words)
    # ceil((n - ctx)/stride) + 1 in exact integer arithmetic (// floor
    # division matches across engines); single chunk when n <= ctx
    n_chunks = F.when(n <= ctx_len, F.lit(1)).otherwise(
        F.floor((n - ctx_len + stride - 1) / F.lit(stride)) + 1
    )
    start = F.col("chunk_id") * stride
    piece = F.slice(words, start + 1, ctx_len)
    from news_data_pipeline_spark.operators.fanout import fan_out

    base = fan_out(
        df.where(F.length(F.trim(F.col(text_col))) > 0).select(
            F.col(id_col).alias("id"), F.col(text_col).alias("__t")
        )
    )
    return (
        base.select(
            "id", F.split(F.trim(F.col("__t")), r"\s+").alias("__words")
        )
        .select(
            "id",
            words,
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            start.cast("long").alias("chunk_start"),
            F.size(piece).cast("long").alias("chunk_tokens"),
            F.array_join(piece, " ").alias("chunk_text"),
        )
    )


def shard_plan(
    df: DataFrame,
    id_col: str,
    size_col: str,
    *,
    n_shards: int = 8,
    n_groups: int = 64,
    salt: str = "shard:",
) -> DataFrame:
    """Token-balanced export sharding without a global sort: assign
    every document to one of ``n_shards`` output shards so shard TOKEN
    totals (not row counts) come out even — the export planning step
    before writing training shards, where a size-skewed shard becomes
    the straggler of every downstream epoch.

    Exact LPT (longest-processing-time) scheduling is inherently
    sequential; the scalable approximation is partition-local LPT:
    documents hash into ``n_groups`` deterministic groups, each group
    ranks its members by size descending and deals them round-robin
    (rank mod n_shards) — the window partitions on the group key, so
    no stage ever sees a global sort or a single-partition funnel.
    Each group's contribution to any two shards differs by at most one
    document, so the cross-shard spread is bounded by ``n_groups *
    max_doc_size`` regardless of corpus size, and grouping by hash
    (not by size) keeps every group a size-representative sample.

    Returns ``(id, size, shard)`` — feed to
    ``write_layer(partition_by="shard")`` or the round-robin exporter.
    """
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    grouped = df.select(
        F.col(id_col).alias("id"),
        F.col(size_col).alias("size"),
        (bucket % n_groups).alias("__g"),
    )
    w = Window.partitionBy("__g").orderBy(F.desc("size"), F.asc("id"))
    return (
        grouped.withColumn(
            "shard",
            ((F.row_number().over(w) - 1) % n_shards).cast("int"),
        )
        .select("id", "size", "shard")
    )
