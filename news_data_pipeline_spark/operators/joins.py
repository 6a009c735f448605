"""Join operators: the full Spark join surface plus engine idioms.

The reference uses three join shapes (SURVEY §2.3): inner equi-joins to
attach dim keys (``03:54-55``), an inner join against a bad-key set
(``_lib_dq_helpers.py:159``), and a left-anti subtraction (``:160``).
Here those become explicit, scale-annotated operators; semi/anti pairs
replace the reference's multiplicity-hazardous inner-against-keys.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def dim_join(
    fact: DataFrame, dim: DataFrame, on: str | Sequence[str], how: str = "inner"
) -> DataFrame:
    """Fact-to-dimension equi-join with an explicit broadcast hint.

    Dims are bounded by member count, so the build side always fits —
    broadcasting avoids shuffling the (huge) fact side entirely.
    """
    return fact.join(F.broadcast(dim), on=on, how=how)


def semi_join(df: DataFrame, keys: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``df`` whose key appears in ``keys`` — preserves ``df``'s
    multiplicity exactly once per row (unlike the reference's inner join
    against a key set, which multiplies on duplicate keys)."""
    return df.join(keys, on=on, how="left_semi")


def anti_join(df: DataFrame, keys: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """Rows of ``df`` whose key does NOT appear in ``keys``
    (reference ``_lib_dq_helpers.py:160``)."""
    return df.join(keys, on=on, how="left_anti")


def partition_valid_invalid(
    df: DataFrame, bad_keys: DataFrame, on: str | Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """One-call valid/invalid split against a key set — the reference's
    ``get_valid_invalid`` (``_lib_dq_helpers.py:157-163``) as a semi/anti
    pair. Prefer ``dq.run_dq`` (no key-set materialization) when the
    rules are expressible as row predicates."""
    return anti_join(df, bad_keys, on), semi_join(df, bad_keys, on)


def salted_join(
    big: DataFrame,
    skewed: DataFrame,
    on: str | Sequence[str],
    *,
    salt_buckets: int = 16,
    salt_from: Sequence[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Skew-spreading equi-join: the big side gets a deterministic
    per-row salt in ``[0, salt_buckets)`` (Murmur3 over ``salt_from``
    — by default every non-key column), the small side replicates once
    per salt value, and the join keys become ``(on…, salt)`` — a hot
    key's rows spread over ``salt_buckets`` reducers instead of one
    straggler. For hot keys (e.g. the reference's ``fillna("UNKNOWN")``
    author bucket, ``03:42-44`` — SURVEY §7.3) in the shapes AQE's
    skew split cannot serve — measured
    (SCALE.md round-9c; the probe is in "Retired paths"): on a 40%-hot
    key over 50M sort-merge-joined rows the penalty is ~5× and AQE's
    split erases it when it CAN engage, but a consumer aggregating on
    the join key suppresses the split (splitting would break the
    partitioning the aggregate reuses; marker-verified) and the
    straggler returns (21 s vs 6.5 s). Salting is the fix for exactly
    those shapes — 12.9 s vs 21-27 s there, its (key, salt) output
    paying one honest re-shuffle into the aggregate — and for
    engines/regimes without AQE. When the split can engage, let it.

    The salt is a CONTENT hash, not ``rand(seed)``: a seeded rand
    still depends on partition layout, so the physical spread (and any
    sampling downstream of it) would vary with
    ``spark.sql.shuffle.partitions`` — the determinism class the
    round-5 probe watches. The small side replicates ``salt_buckets``
    times, so keep it genuinely small — and prefer ``dim_join``'s
    broadcast whenever it fits (a broadcast join has no skew problem
    at all); salting is for the big-big case.

    **Salt-cardinality contract**: because the salt is content-derived,
    ``salt_from`` must vary WITHIN each hot key — rows of a hot key
    that are byte-identical across ``salt_from`` land in one bucket and
    the straggler survives untouched (results stay correct; the
    mitigation is silently zero). That is inherent to any deterministic
    layout-independent salt: identical rows cannot be separated without
    partition information, which is exactly what determinism forbids.
    So when the frame has a row-unique column (an id, a line number),
    pass it in ``salt_from`` explicitly; the all-non-key-columns
    default only spreads as well as the payload's per-key cardinality,
    and the degenerate ``salt_from=keys`` fallback (key-only frames)
    spreads nothing by construction. ``salt_spread`` measures the
    achieved spread per key — run it once when adopting this operator
    on a new shape (the skew probe asserts through it).

    ``how`` supports the multiplicities salting preserves unchanged
    (``inner``/``left``: every big-side row still meets exactly the
    matching small-side rows, each existing once per salt).
    """
    if how not in ("inner", "left"):
        # right/full would emit each unmatched small-side row once per
        # salt replica — salt_buckets-fold inflation
        raise ValueError(f"salted_join supports how='inner'|'left', got {how!r}")
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    keys = [on] if isinstance(on, str) else list(on)
    if salt_from is None:
        salt_from = [c for c in big.columns if c not in keys]
        if not salt_from:
            salt_from = keys  # key-only frame: degenerate but valid
    if "__salt" in big.columns or "__salt" in skewed.columns:
        raise ValueError("salted_join reserves the '__salt' column")
    salted_big = big.withColumn(
        "__salt", F.pmod(F.hash(*salt_from), F.lit(salt_buckets))
    )
    exploded_small = skewed.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = salted_big.join(exploded_small, on=keys + ["__salt"], how=how)
    return out.drop("__salt")


def salt_spread(
    big: DataFrame,
    on: str | Sequence[str],
    *,
    salt_buckets: int = 16,
    salt_from: Sequence[str] | None = None,
) -> DataFrame:
    """Diagnostic for ``salted_join``'s salt-cardinality contract: per
    join key, how many rows there are and how many distinct salt
    buckets they actually spread over under the same salt derivation
    ``salted_join`` would use. A hot key with ``distinct_salts == 1``
    (payload constant within the key — e.g. skew born from a
    ``fillna`` default bucket with identical rows) gets ZERO skew
    mitigation from salting; pick higher-cardinality ``salt_from``
    columns (ideally a row-unique id) or accept the straggler. One
    aggregation over the big side — run it when adopting the operator
    on a new shape, not per query."""
    keys = [on] if isinstance(on, str) else list(on)
    if salt_from is None:
        salt_from = [c for c in big.columns if c not in keys]
        if not salt_from:
            salt_from = keys
    return (
        big.withColumn(
            "__salt", F.pmod(F.hash(*salt_from), F.lit(salt_buckets))
        )
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("__salt").alias("distinct_salts"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    right_order: Sequence[str] = (),
) -> DataFrame:
    """As-of (backward) join: for each left row, attach the most recent
    right row with ``right_ts <= left_ts`` for the same key.

    Spark has no native as-of join; the naive range-join formulation
    (join on key + inequality, then max per left row) explodes
    quadratically inside hot keys. This is the scale-sound composition:
    union both sides tagged, ONE shuffle by key, and a forward-fill
    window (``last(ignorenulls)`` over rows up to current) carries the
    latest right payload onto each left row. Cost is a sort within key
    partitions — the same price as a windowed aggregate, independent of
    time-range density. Right rows tie-breaking at equal timestamps sort
    BEFORE left rows, so the match is inclusive (>= semantics, like
    DuckDB's ASOF JOIN). ``right_order`` breaks ties among right rows
    sharing a timestamp (the LAST by that order wins) — without it the
    winner among equal-timestamp right rows is partition-order dependent.
    """
    keys = [on] if isinstance(on, str) else list(on)
    # reserved-name / output-collision guards (mirrors run_dq's reserved-
    # column checks): internal columns must not shadow inputs, and a
    # right payload column landing next to a same-named left column
    # would emit duplicate output names
    reserved = {"__ts", "__side", "__rpayload"}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(
            f"asof_join reserves internal column names {sorted(reserved)}; "
            f"inputs use {sorted(clash)} — rename them before joining"
        )
    dup_out = [c for c in right_cols if c in left.columns]
    if dup_out:
        raise ValueError(
            f"asof_join: right_cols {dup_out} collide with left columns — "
            "alias them on the right side before joining"
        )
    # The right payload travels as ONE struct, null on left-side rows, so
    # the forward-fill carries a whole right ROW atomically. Filling each
    # column independently would stitch values from different right rows
    # whenever a right column is legitimately NULL.
    payload_type = right.select(
        F.struct(*[F.col(c) for c in right_cols]).alias("__p")
    ).schema["__p"].dataType
    l_tag = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(payload_type).alias("__rpayload"),
        *[F.col(c) for c in left.columns if c not in keys],
    )
    # a null right timestamp can never legitimately match (<= NULL is
    # never true) but would sort FIRST in the window and pollute every
    # early left row's fill — exclude such rows up front
    r_tag = right.where(F.col(right_ts).isNotNull()).select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.struct(*[F.col(c) for c in right_cols]).alias("__rpayload"),
        *[
            F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
            for c in left.columns
            if c not in keys
        ],
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(
            "__ts",
            "__side",
            *[F.col(f"__rpayload.{c}").asc_nulls_last() for c in right_order],
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_tag.unionByName(r_tag).select(
        *keys,
        "__side",
        *[F.col(c) for c in left.columns if c not in keys],
        F.last("__rpayload", ignorenulls=True).over(w).alias("__rpayload"),
    )
    return (
        filled.where(F.col("__side") == 1)
        .select(
            *keys,
            *[F.col(c) for c in left.columns if c not in keys],
            *[F.col(f"__rpayload.{c}").alias(c) for c in right_cols],
        )
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_value: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Interval join: left rows against right ranges ``[lo, hi)``.

    A raw inequality join is a broadcast-nested-loop (O(n*m)) in Spark.
    Bucketizing makes it an equi-join: each left value hashes to one
    bucket; each right range explodes into the buckets it overlaps
    (``(hi-lo)/bucket_width`` rows — bounded when ranges are narrow
    relative to ``bucket_width``); the exact predicate then filters
    within bucket-matched candidates. Pick ``bucket_width`` near the
    typical range length: too small explodes the right side, too large
    degrades toward all-pairs within a bucket.
    """
    if how not in ("inner", "left"):
        # right/full would emit each unmatched right range once per
        # bucket replica (the explode happens before the join)
        raise ValueError(f"range_join supports how='inner'|'left', got {how!r}")
    lv, lo, hi = F.col(left_value), F.col(right_lo), F.col(right_hi)
    l_b = left.withColumn("__bucket", F.floor(lv / bucket_width))
    r_b = right.withColumn(
        "__rbucket",
        F.explode(
            F.sequence(
                F.floor(lo / bucket_width),
                # hi is exclusive: a range ending exactly on a bucket
                # boundary does not reach into the next bucket
                F.floor((hi - 1e-9) / bucket_width),
            )
        ),
    )
    # The range predicate is part of the JOIN CONDITION, not a post-join
    # filter — a post-join where() would silently drop the null-extended
    # rows a left join exists to keep.
    cond = (F.col("__bucket") == F.col("__rbucket")) & (lv >= lo) & (lv < hi)
    out = l_b.join(r_b, on=cond, how=how)
    return out.drop("__bucket", "__rbucket")


_INTERVAL_UNITS_S = {
    "second": 1, "seconds": 1,
    "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600,
    "day": 86400, "days": 86400,
}


def interval_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str | Sequence[str],
    left_ts: str,
    right_ts: str,
    within: str = "15 minutes",
) -> DataFrame:
    """Two-sided time-window join: pairs sharing ``on`` with
    ``|right_ts - left_ts| <= within`` (both edges inclusive) — the
    batch-scale form of ``streaming.ops.interval_join_streams``.

    The streaming form's plan (equi-join on the key with the time
    bound as a join residual) is per-key-quadratic in batch: the
    sort-merge join materializes left(k) x right(k) candidates before
    the residual filters — SCALE.md "Interval-join family rewrites"
    measured 909 s for a 400k-row hot key at 4M rows, against 0.72 s
    for this form (1268x), with an extra 22x constant from the
    residual doing per-pair interval arithmetic (codegen does NOT
    hoist single-side ``ts +/- interval`` out of a join condition;
    jstack shows ``Instant.atZone`` per evaluation). This operator
    bakes in both fixes:

    - the time axis is bucketed at the window width (the
      ``range_join`` trick, one epoch grid instead of value bands):
      the left side explodes into its bucket and both neighbors, the
      join is an equi-join on (key, bucket), and an in-window pair —
      whose bucket distance is at most 1 — survives exactly one
      exploded copy, so the multiset is identical with no dedup step;
    - the window edges are projected ONCE per exploded left row
      (``__lo``/``__hi``), so the residual is two plain timestamp
      compares.

    Buckets come from ``timestampdiff`` against a same-typed epoch
    literal: pure wall-clock arithmetic for TIMESTAMP_NTZ (no
    session-timezone shear against the equally tz-free residual) and
    absolute seconds for TIMESTAMP. ``within`` accepts day-time units
    only (second/minute/hour/day) — calendar months have no fixed
    width to bucket by. Inner join only: each unmatched left row would
    otherwise surface once per bucket replica.

    Per-key cost falls from left(k) x right(k) to the per-epoch
    products — linear for time-spread activity, bounded by 3x the true
    output when everything co-buckets. Parity pinned against the
    registered residual-join form in tests/test_psa_asof_candidate.py
    (the three-SF, DuckDB-oracle and synthetic-skew parity runs are in
    SCALE.md "Retired paths").
    """
    try:
        qty_s, unit = within.split()
        width_s = int(qty_s) * _INTERVAL_UNITS_S[unit.lower()]
    except (ValueError, KeyError):
        raise ValueError(
            f"within={within!r} must be '<n> <unit>' with unit in "
            f"{sorted(set(_INTERVAL_UNITS_S))}"
        ) from None
    if width_s < 1:
        raise ValueError(f"within={within!r} must be at least 1 second")
    keys = [on] if isinstance(on, str) else list(on)
    reserved = {"__tb", "__lo", "__hi"}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(
            f"interval_join_bucketed reserves column names "
            f"{sorted(reserved)}; inputs use {sorted(clash)} — rename "
            "them before joining"
        )
    dup_out = [
        c for c in right.columns if c not in keys and c in left.columns
    ]
    if dup_out:
        raise ValueError(
            f"interval_join_bucketed: non-key columns {dup_out} exist on "
            "both sides — alias one side before joining"
        )

    def bucket(df: DataFrame, ts_name: str):
        kind = df.schema[ts_name].dataType.simpleString()
        epoch = {
            "timestamp_ntz": "TIMESTAMP_NTZ '1970-01-01 00:00:00'",
            "timestamp": "TIMESTAMP '1970-01-01 00:00:00'",
        }.get(kind)
        if epoch is None:
            raise ValueError(
                f"interval_join_bucketed: column {ts_name!r} is {kind}, "
                "need timestamp or timestamp_ntz"
            )
        secs = F.expr(f"timestampdiff(SECOND, {epoch}, {ts_name})")
        return F.floor(secs / width_s)

    tb = bucket(left, left_ts)
    l_x = left.withColumn(
        "__tb", F.explode(F.array(tb - 1, tb, tb + 1))
    ).withColumns(
        {
            "__lo": F.col(left_ts) - F.expr(f"interval {within}"),
            "__hi": F.col(left_ts) + F.expr(f"interval {within}"),
        }
    )
    r_b = right.withColumn("__tb", bucket(right, right_ts))
    out = l_x.join(r_b, on=[*keys, "__tb"], how="inner").where(
        (F.col(right_ts) >= F.col("__lo"))
        & (F.col(right_ts) <= F.col("__hi"))
    )
    return out.drop("__tb", "__lo", "__hi")
