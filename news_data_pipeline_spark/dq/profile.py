"""One-pass column profiling: the "what am I looking at" DQ primitive.

The reference's DQ framework checks rules it's told about
(`/root/reference/notebooks/_lib_dq_helpers.py:105-190`); profiling is
the discovery step before that — per-column null rates, cardinalities,
and value ranges over an arbitrary frame, so rule thresholds (NotNull,
Unique, min_rows) are chosen from measured data instead of guessed.

Shape at scale: ONE aggregation job for the whole profile. Every
column's exact `count(DISTINCT)` is computed in the same aggregate,
which Spark plans as an Expand (input replicated once per distinct
aggregate) feeding a single shuffle — fine into the tens of columns,
but the replication factor IS the column count.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from news_data_pipeline_spark.dq.rules import InRange, NotNull, Rule, Unique


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
) -> DataFrame:
    """Profile ``cols`` (default: all) into one row per column:
    ``(col_name, n_rows, n_non_null, n_distinct, min_value, max_value)``.

    min/max evaluate in each column's NATIVE ordering (numeric min, not
    lexicographic) and cast to string afterwards, so heterogeneous
    column types fit one output schema without changing semantics.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile_columns: no such columns {missing}")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `__nn_{c}`, `__nd_{c}`, `__min_{c}`, `__max_{c}`"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n_non_null, n_distinct, min_value, max_value)",
        "n_rows",
    ).select(
        "col_name", "n_rows", "n_non_null", "n_distinct", "min_value", "max_value"
    )


_NUMERIC_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
)


def suggest_rules(
    df: DataFrame,
    profile: DataFrame | None = None,
    *,
    not_null_threshold: float = 1.0,
    range_pad: float = 0.0,
) -> list[Rule]:
    """Turn a profile of ``df`` into enforceable rules — the
    discovery-to-enforcement bridge the reference's config dict leaves
    manual (thresholds guessed instead of measured). ``df`` supplies
    column TYPES (the profile frame carries only stringified extremes);
    pass ``profile`` to reuse an existing ``profile_columns(df)``
    result, else one is computed here.

    Per profiled column, in profile order:

    * ``NotNull`` when the observed non-null ratio >= ``not_null_threshold``
      (default 1.0: only columns with zero observed nulls — the profile
      says the producer always fills it, so a null later is a defect).
      For string and binary columns the profiled minimum must also be
      non-empty: the ``NotNull`` RULE treats a value casting to ``''``
      as null for ANY type, and the lexicographic/bytewise minimum
      casts to ``''`` exactly when an empty ``''``/``b''`` was observed
      — a suggestion that would quarantine the very rows it was
      profiled from is never emitted;
    * ``Unique`` when every row holds a distinct non-null value
      (``n_distinct == n_non_null == n_rows``) — a natural key;
    * ``InRange[min, max]`` (padded by ``range_pad`` x span per side)
      for NUMERIC columns only — observed bounds become the
      plausibility envelope. String/date/other columns never get a
      range rule: their profiled extremes are lexicographic, so parsing
      them as floats would invert or truncate the range (and enforcing
      float bounds on a string column aborts under ANSI mode the first
      time a non-numeric value arrives).

    The profile is one row per column, so the collect here is bounded by
    the schema width, never the data. Suggested rules feed ``run_dq``
    unchanged; tighten or drop suggestions before enforcing in
    production — these encode "what the data looked like today", not
    business intent.
    """
    if profile is None:
        profile = profile_columns(df)
    dtypes = dict(df.dtypes)
    rules: list[Rule] = []
    for row in profile.collect():
        col = row["col_name"]
        dtype = dtypes.get(col, "")
        n_rows, n_non_null = row["n_rows"], row["n_non_null"]
        if n_rows == 0 or n_non_null == 0:
            continue
        # the NotNull RULE flags cast-to-string == '' for ANY type; the
        # profiled min casts to '' exactly when an empty value was
        # observed in a string OR binary column (b'' is the bytewise
        # minimum), so both need the never-quarantine-profiled-rows guard
        blank_seen = dtype in ("string", "binary") and row["min_value"] == ""
        if n_non_null / n_rows >= not_null_threshold and not blank_seen:
            rules.append(NotNull(col))
        if row["n_distinct"] == n_non_null == n_rows:
            rules.append(Unique(col))
        if dtype in _NUMERIC_TYPES or dtype.startswith("decimal"):
            try:
                lo, hi = float(row["min_value"]), float(row["max_value"])
            except (TypeError, ValueError):
                continue
            if (
                lo == lo and hi == hi  # not NaN
                and abs(lo) != float("inf") and abs(hi) != float("inf")
                and lo <= hi
            ):
                pad = range_pad * (hi - lo)
                rules.append(InRange(col, lo - pad, hi + pad))
    return rules
