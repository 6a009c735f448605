"""Mergeable set/frequency sketches: count-min and Bloom filter.

The reference pipeline reports exact token frequencies (its corpora fit
one node); at 100 TB the exact groupBy is still linear but its full
distinct-token table may not be, so streaming/telemetry consumers want
a fixed-size mergeable summary instead. A count-min sketch is the
standard answer: ``depth`` hash rows of ``width`` counters, updated by
adding each token's count to one counter per row, queried by taking the
min over its row counters. The sketch is a monoid — counters add — so
it partial-aggregates map-side, merges across partitions, executors,
days, or streams, and never exceeds ``depth * width`` BIGINTs.

Hashes are the repo's cross-engine scheme (md5 + substring + base-16,
as ``operators.dedup.simhash``): every bucket index reproduces exactly
in ANSI SQL, so the sketch is value-verifiable by the DuckDB oracle —
unlike xxhash64, which has no SQL twin.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _bucket(col, row: int, width: int):
    """Counter index of ``col`` in hash row ``row``: the first 32 hash
    bits of md5('cms{row}:' || token) mod width. Non-negative, so plain
    ``%`` agrees between engines."""
    digest = F.md5(F.concat(F.lit(f"cms{row}:"), col))
    return (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % F.lit(width)
    ).cast("long")


def cms_sketch(
    weighted: DataFrame,
    term_col: str,
    weight_col: str,
    *,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-min sketch of a weighted term table: (row, bucket, counter).

    One shuffle: the depth bucket columns melt through ``stack`` (still
    whole-stage codegen) and group to at most ``depth * width`` rows
    with map-side partial sums — the full sketch is a broadcastable
    constant-size frame no matter the corpus size. Union two sketches
    and re-group to merge streams/partitions/days.
    """
    term = F.col(term_col)
    stack_args: list = []
    for j in range(depth):
        stack_args.append(F.lit(j))
        stack_args.append(_bucket(term, j, width))
    melted = weighted.select(
        F.stack(F.lit(depth), *stack_args).alias("row", "bucket"),
        F.col(weight_col).alias("__w"),
    )
    return melted.groupBy("row", "bucket").agg(
        F.sum("__w").cast("long").alias("counter")
    )


def cms_estimates(
    terms: DataFrame,
    term_col: str,
    sketch: DataFrame,
    *,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query every term against the sketch: adds ``cms_estimate``.

    The estimate is the min over the term's ``depth`` counters; it
    over-counts (hash collisions only ever add), never under-counts.
    Each row's counters arrive by a broadcast join against the
    constant-size sketch — the probe side never shuffles. The sketch
    subtree re-executes once per hash row, each broadcast build running
    in parallel inside one job.
    """
    est = terms
    for j in range(depth):
        row_j = (
            sketch.where(F.col("row") == j)
            .select("bucket", F.col("counter").alias(f"__c{j}"))
        )
        # left join + coalesce(0): a term whose hashed bucket has no
        # counter row in the sketch was never seen at build time — it
        # must report estimate 0, not vanish from the output
        est = est.join(
            F.broadcast(row_j),
            _bucket(F.col(term_col), j, width) == F.col("bucket"),
            "left",
        ).drop("bucket")
    estimate = F.least(
        *[F.coalesce(F.col(f"__c{j}"), F.lit(0)) for j in range(depth)]
    )
    return est.withColumn("cms_estimate", estimate.cast("long")).drop(
        *[f"__c{j}" for j in range(depth)]
    )


def cms_heavy_hitters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    depth: int = 4,
    width: int = 256,
    k: int = 30,
) -> DataFrame:
    """Top-k corpus tokens by count-min estimate, with exact counts.

    Pipeline: exact token counts (one map-side-combined shuffle — the
    same linear pass any frequency query pays) -> constant-size sketch
    -> broadcast point-queries -> TakeOrderedAndProject top-k on
    (estimate DESC, token ASC). Emitting the exact count beside the
    estimate makes the sketch's one-sided error auditable:
    ``cms_estimate >= exact_count`` always (pinned in tests and by the
    oracle's value hash). At 100 TB, drop the exact-count column and the
    distinct-token table feeds ONLY the fixed-size sketch, which then
    answers point queries without rescanning the corpus.

    The sketch is probed lazily, never collected: a collect-once
    probe lost at sf0.1 (2.05 vs 1.14 s) and at 400k docs (3.37 vs
    1.78 s; SCALE.md "Retired paths").
    """
    from news_data_pipeline_spark.operators.dedup import word_shingles

    tokens = word_shingles(
        df, id_col, text_col, n=1, distinct=False
    ).withColumnRenamed("shingle", "token")
    counts = tokens.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    sketch = cms_sketch(
        counts, "token", "exact_count", depth=depth, width=width
    )
    est = cms_estimates(counts, "token", sketch, depth=depth, width=width)
    return (
        est.select("token", "cms_estimate", "exact_count")
        .orderBy(F.col("cms_estimate").desc(), F.col("token").asc())
        .limit(k)
    )


def _bloom_bit(col, j: int, num_bits: int):
    """Bit index of ``col`` under hash function ``j``: first 32 hash
    bits of md5('bloom{j}:' || value) mod num_bits — the same
    cross-engine md5-substring scheme as ``_bucket``, so every set bit
    reproduces exactly in ANSI SQL."""
    digest = F.md5(F.concat(F.lit(f"bloom{j}:"), col))
    return (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
        % F.lit(num_bits)
    ).cast("long")


def bloom_bits(
    members: DataFrame,
    term_col: str,
    *,
    num_bits: int = 4096,
    num_hashes: int = 4,
) -> DataFrame:
    """Bloom filter of a member set as its table of set bit positions.

    Each member melts into ``num_hashes`` (still codegen'd ``stack``)
    bit indices; one distinct bounds the result at ``num_bits`` rows no
    matter the member count — a broadcastable constant-size frame, the
    set-membership twin of ``cms_sketch``. The filter is a monoid under
    union+distinct (bit-OR), so per-partition / per-day / per-stream
    filters merge without rescanning members.

    Sizing is the standard calculus: false-positive rate ~
    (1 - e^(-kn/m))^k for k hashes, n members, m bits; at 100 TB pick
    m ~ 10n bits (k=4 gives ~2% fpp) — a 10^10-member corpus is a
    ~12 GiB filter, which no longer broadcasts; shard it by
    ``bit % num_shards`` and probe with a co-partitioned join instead.

    NULL members are excluded (md5(NULL) is NULL, which would emit a
    meaningless NULL "bit"); symmetrically a NULL probe value matches
    no bit and reports ``maybe_member = 0`` — NULL is never a member.
    """
    term = F.col(term_col)
    stack_args: list = []
    for j in range(num_hashes):
        stack_args.append(_bloom_bit(term, j, num_bits))
    melted = members.where(term.isNotNull()).select(
        F.stack(F.lit(num_hashes), *stack_args).alias("bit")
    )
    return melted.distinct()


def bloom_probe(
    df: DataFrame,
    term_col: str,
    bits: DataFrame,
    *,
    num_bits: int = 4096,
    num_hashes: int = 4,
) -> DataFrame:
    """Membership-test every row against a Bloom filter: adds
    ``maybe_member`` (1 = possibly in the set, 0 = DEFINITELY not).

    No false negatives ever — a true member's bits are all set by
    construction; collisions only flip non-members to 1. Each of the
    ``num_hashes`` checks is a broadcast LEFT join against the
    constant-size bit table (probe side never shuffles), and the flag
    is the AND of the per-hash hits. As a prefilter in front of the
    exact dedup anti-join it lost its A/B (SCALE.md "Retired paths").
    """
    probed = df
    hit_cols = []
    for j in range(num_hashes):
        bit_j = F.col(f"__bit{j}")
        probed = probed.join(
            F.broadcast(bits.select(F.col("bit").alias(f"__bit{j}"))),
            _bloom_bit(F.col(term_col), j, num_bits) == bit_j,
            how="left",
        )
        hit_cols.append(bit_j.isNotNull())
    all_hit = hit_cols[0]
    for h in hit_cols[1:]:
        all_hit = all_hit & h
    return probed.withColumn(
        "maybe_member", all_hit.cast("int")
    ).drop(*[f"__bit{j}" for j in range(num_hashes)])
