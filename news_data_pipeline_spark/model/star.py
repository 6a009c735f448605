"""Star-schema builders: dims, facts, date dimension.

Reference parity: gold modeling at
``03_gold_modeling_news_articles.py:34-77`` builds ``dim_source`` /
``dim_author`` via ``distinct -> row_number over a GLOBAL window ->
substr(1,5)`` and a 14-column fact via two inner joins. Two scale bugs
engineered away (SURVEY §2.5, §4):

* global ``Window.orderBy`` collapses to one partition — replaced by
  content-hash surrogate keys (no exchange at all);
* ``substr(1,5)`` collides row 123456 with 12345 — hash keys don't
  truncate.

``dim_date`` exists in the reference README (``README.md:66``) but was
never implemented — implemented for real here.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from news_data_pipeline_spark.functions.ids import surrogate_key


def build_dim(
    df: DataFrame,
    natural_key: str,
    *,
    id_col: str | None = None,
    fill_unknown: str | None = "UNKNOWN",
    extra_cols: Sequence[str] = (),
    compat_reference: bool = False,
) -> DataFrame:
    """Distinct natural keys + deterministic surrogate key.

    Mirrors ``03:36-44`` (incl. the ``fillna("UNKNOWN")`` for null members)
    with hash keys instead of the global-window row_number.

    ``compat_reference=True`` reproduces the reference's ID SCHEME
    byte-for-byte — sequential ``row_number`` by natural-key order, cast
    to string, truncated to 5 chars (``03:39,44``) — for migrations that
    must re-emit the reference's gold tables. The sequence comes from
    ``global_row_number`` (range-partition + offsets), NOT the
    reference's single-partition window, so even compat mode scales;
    the 5-char truncation (a collision generator past row 99999) is
    kept because byte-compat is the entire point of the flag.
    """
    id_col = id_col or f"{natural_key}_id"
    if fill_unknown is not None and dict(df.dtypes)[natural_key] != "string":
        # fillna with a string is a silent no-op on non-string columns —
        # the UNKNOWN member would never exist and null keys would slip
        # through as null surrogate ids
        raise TypeError(
            f"fill_unknown needs a string natural key; {natural_key} is "
            f"{dict(df.dtypes)[natural_key]} — cast it or pass fill_unknown=None"
        )
    out = df.select(natural_key, *extra_cols)
    if fill_unknown is not None:
        out = out.fillna(fill_unknown, subset=[natural_key])
    out = out.distinct()
    if extra_cols:
        # the surrogate key hashes the natural key alone, so the dim must
        # hold ONE row per key — attribute variants would fan out every
        # fact join. Keep the first by the extra columns, deterministically.
        w = Window.partitionBy(natural_key).orderBy(*[F.col(c) for c in extra_cols])
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
    if compat_reference:
        from news_data_pipeline_spark.functions.ids import global_row_number

        out = global_row_number(out, natural_key, id_col="__gid")
        return out.withColumn(
            id_col, F.col("__gid").cast("string").substr(1, 5)
        ).drop("__gid")
    return out.withColumn(id_col, surrogate_key(natural_key))


def build_fact(
    df: DataFrame,
    dims: dict[str, DataFrame],
    *,
    fact_id_cols: Sequence[str],
    fact_id_name: str = "fact_id",
    select: Sequence[str] | None = None,
    fill_unknown: str | None = "UNKNOWN",
) -> DataFrame:
    """Attach dim surrogate keys by joining on each natural key.

    Mirrors ``03:51-77``. Dims are broadcast (they are bounded
    by distinct member count); the fact side never shuffles for the
    joins. The fact's own id is a hash of its natural identity columns,
    not a global row_number (``03:58-59``). ``fill_unknown`` must match
    the dims' ``build_dim`` setting: null natural keys fill BEFORE the
    join so they resolve to the dim's UNKNOWN member instead of a null
    surrogate id (null join keys match nothing).
    """
    out = df
    if fill_unknown is not None:
        dtypes = dict(df.dtypes)
        non_string = [k for k in dims if dtypes.get(k) != "string"]
        if non_string:
            raise TypeError(
                f"fill_unknown needs string natural keys; non-string: "
                f"{non_string} — cast them or pass fill_unknown=None"
            )
        out = out.fillna(fill_unknown, subset=list(dims.keys()))
    for natural_key, dim in dims.items():
        out = out.join(F.broadcast(dim), on=natural_key, how="left")
    out = out.withColumn(fact_id_name, surrogate_key(*fact_id_cols))
    if select:
        out = out.select(*select)
    return out


def dim_date(df: DataFrame, date_col: str) -> DataFrame:
    """Calendar dimension derived from the distinct dates present.

    Fills the reference's documented-but-missing ``dim_date``
    (``README.md:66``; SURVEY §1.4). ``day_of_week`` is 0=Sunday
    (DuckDB ``EXTRACT(dow)`` convention; Spark's ``dayofweek`` is
    1=Sunday, hence the -1).
    """
    d = F.col("date_key")
    return (
        df.select(F.to_date(date_col).alias("date_key"))
        .where(d.isNotNull())
        .distinct()
        .select(
            d,
            F.year(d).alias("year"),
            F.quarter(d).alias("quarter"),
            F.month(d).alias("month"),
            F.dayofmonth(d).alias("day"),
            (F.dayofweek(d) - F.lit(1)).alias("day_of_week"),
            F.weekofyear(d).alias("week_of_year"),
            (F.dayofweek(d).isin(1, 7)).alias("is_weekend"),
        )
    )


def upsert_dim(
    existing: DataFrame, updates: DataFrame, *, key: str | Sequence[str]
) -> DataFrame:
    """SCD type-1 upsert: latest attributes win, no history.

    The incremental alternative to the reference's wholesale dim
    overwrite (``write_to_datalake(..., "overwrite")`` per run): rows in
    ``updates`` replace same-key rows in ``existing``; everything else
    passes through. Pure unionByName + left_anti — on Delta-enabled
    clusters ``MERGE INTO`` replaces this with the same semantics.
    """
    keys = [key] if isinstance(key, str) else list(key)
    untouched = existing.join(updates.select(*keys), on=keys, how="left_anti")
    return updates.unionByName(untouched)


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    *,
    key: str | Sequence[str],
    attrs: Sequence[str],
    effective_ts: str,
) -> DataFrame:
    """SCD type-2: close changed current rows, append new versions.

    ``dim`` carries ``valid_from``/``valid_to``/``is_current``;
    ``changes`` carries key + attrs. A current row whose attributes
    differ from its incoming change is closed (``valid_to`` =
    ``effective_ts``) and a new current version is appended. New keys
    insert directly; unchanged rows pass through untouched.

    One equi-join on the key (broadcastable when changes are a trickle)
    + unions — no window over the full dimension. ``changes`` must hold
    ONE row per key: the full-outer join would fan duplicates out into
    multiple closed rows and multiple ``is_current`` versions, silently
    corrupting the dimension — so duplicates raise (one small aggregate
    job over the changes side; matching ``run_dq``'s degenerate-input
    guards). Pre-deduplicate upstream if several updates per key can
    arrive in one batch.
    """
    keys = [key] if isinstance(key, str) else list(key)
    dup = (
        changes.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "scd2_apply: changes frame has multiple rows per key "
            f"{keys} — deduplicate to the intended final version per key "
            "before applying (duplicates would fan out the join and "
            "corrupt the dimension)"
        )
    ts = F.lit(effective_ts).cast("timestamp_ntz")

    # null is_current is malformed input — treat as historical (safe,
    # lossless) rather than letting it vanish through both filters
    flag = F.coalesce(F.col("is_current"), F.lit(False))
    current = dim.where(flag).withColumn("__c", F.lit(True))
    historical = dim.where(~flag)

    cmp = current.alias("c").join(
        changes.withColumn("__u", F.lit(True)).alias("u"),
        on=keys,
        how="full_outer",
    )
    differs = reduce_or(
        [~F.col(f"c.{a}").eqNullSafe(F.col(f"u.{a}")) for a in attrs]
    )
    # explicit presence markers — attr values can be legitimately NULL,
    # so nullness of data columns can't signal side-presence
    in_updates = F.col("u.__u").isNotNull()
    in_current = F.col("c.__c").isNotNull()

    unchanged = cmp.where(in_current & (~in_updates | ~differs)).select(
        *keys, *[F.col(f"c.{a}").alias(a) for a in attrs],
        F.col("c.valid_from").alias("valid_from"),
        F.col("c.valid_to").alias("valid_to"),
        F.col("c.is_current").alias("is_current"),
    )
    closed = cmp.where(in_current & in_updates & differs).select(
        *keys, *[F.col(f"c.{a}").alias(a) for a in attrs],
        F.col("c.valid_from").alias("valid_from"),
        ts.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    fresh = cmp.where(in_updates & (~in_current | differs)).select(
        *keys, *[F.col(f"u.{a}").alias(a) for a in attrs],
        ts.alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return historical.unionByName(unchanged).unionByName(closed).unionByName(fresh)


def reduce_or(cols):
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out
