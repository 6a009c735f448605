"""Column-shape operators: rename normalization, struct flattening.

Reference behaviors generalized here:

* ``format_column_names_upper_spaces`` — uppercase + space->underscore
  rename over all columns via a withColumnRenamed loop
  (``_lib_dq_helpers.py:68-72``; a conflicting variant at ``02:165-169``
  replaces underscores *with* spaces — SURVEY §1.2 picks the helpers-lib
  convention as operative). Implemented as ONE select with aliases so
  plan-build cost stays O(1) in depth at hundreds of columns.
* conditional struct flatten (``02:32-33``).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def normalize_column_names(df: DataFrame, *, case: str = "upper") -> DataFrame:
    """Canonical column naming in a single Project (no rename loop):
    whitespace runs become ``_``, then the name is upper- or
    lower-cased."""

    def norm(name: str) -> str:
        out = re.sub(r"\s+", "_", name)
        return out.upper() if case == "upper" else out.lower()

    return df.select([F.col(f"`{c}`").alias(norm(c)) for c in df.columns])


def flatten_structs(df: DataFrame, sep: str = "_") -> DataFrame:
    """Flatten one level of struct columns: ``source.name`` -> ``source_name``.

    Generalizes the reference's hardcoded single-field flatten
    (``02_silver_transformation_news_articles.py:32-33``) to every struct
    column present — schema-driven, so it composes with dynamic inputs.
    """
    cols = []
    for field in df.schema.fields:
        if isinstance(field.dataType, StructType):
            for sub in field.dataType.fields:
                cols.append(
                    F.col(f"`{field.name}`.`{sub.name}`").alias(
                        f"{field.name}{sep}{sub.name}"
                    )
                )
        else:
            cols.append(F.col(f"`{field.name}`"))
    return df.select(cols)


def require_columns(df: DataFrame, required: list[str]) -> list[str]:
    """Schema predicate: which required columns are missing
    (reference ``check_column_exists``, ``_lib_dq_helpers.py:133-136``)."""
    have = set(df.columns)
    return [c for c in required if c not in have]


# Widening lattice for union_evolved: integrals widen among themselves,
# decimal pairs (and decimal+integral) widen to the covering decimal
# (max integer digits + max scale) while it fits Spark's 38-digit cap,
# any float presence (or a decimal overflow past 38) widens numerics to
# double, date widens to timestamp, and a genuine type conflict falls
# back to string (the one cast every type supports losslessly-enough to
# keep rows flowing; the DQ layer can quarantine on it downstream).
_INTEGRAL_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FLOATY = {"float", "double"}
# max base-10 digits each integral can need when represented as
# decimal(digits, 0) — bigint's 9223372036854775807 is 19 digits, but
# unsigned-looking 20-digit strings upcast through bigint never occur
# in Spark, so 19 is exact for every value the type can hold
_INT_DIGITS = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}


def _decimal_shape(t: str) -> "tuple[int, int] | None":
    """(integer_digits, scale) for types that widen into decimal
    EXACTLY (decimal itself and the integrals); None for float/double,
    whose values a decimal cannot cover exactly."""
    import re

    base = t.split("(")[0]
    if base == "decimal":
        m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t)
        p, s = (int(m.group(1)), int(m.group(2))) if m else (10, 0)
        return p - s, s
    if base in _INT_DIGITS:
        return _INT_DIGITS[base], 0
    return None


def _widen(a: str, b: str) -> str:
    if a == b:
        return a
    if a in _INTEGRAL_RANK and b in _INTEGRAL_RANK:
        return a if _INTEGRAL_RANK[a] >= _INTEGRAL_RANK[b] else b
    abase, bbase = a.split("(")[0], b.split("(")[0]
    numerics = _FLOATY | set(_INTEGRAL_RANK) | {"decimal"}
    if "decimal" in (abase, bbase) and {abase, bbase} <= numerics:
        # decimal vs a NUMERIC peer only — decimal vs string/date/
        # boolean is a true conflict and must fall through to the
        # string fallback below (casting a string frame to double
        # would NULL or, under ANSI mode, throw on non-numeric rows)
        da, db = _decimal_shape(a), _decimal_shape(b)
        if da is not None and db is not None:
            # covering decimal: every value of either input type is
            # exactly representable iff it fits the 38-digit cap;
            # double would silently round past ~15-16 significant
            # digits (e.g. decimal(38,18) vs decimal(38,10))
            ints = max(da[0], db[0])
            scale = max(da[1], db[1])
            if ints + scale <= 38:
                return f"decimal({ints + scale},{scale})"
        # decimal + float/double, or a decimal pair past the cap
        return "double"
    if abase in numerics and bbase in numerics:
        return "double"
    if {a, b} == {"date", "timestamp"}:
        return "timestamp"
    return "string"


def union_evolved(frames: list[DataFrame]) -> DataFrame:
    """Union frames whose schemas drifted apart — the FIX side of
    ``dq.drift.schema_drift`` (detect) for the multi-batch ingestion
    case: yesterday's export has ``int`` ids and no ``lang``; today's
    has ``bigint`` ids and the new column. The result carries the
    UNION of all columns (first-seen order), each at the widest type
    observed (int family by rank; decimal pairs and decimal+integral →
    the covering decimal(max int digits + max scale) while that fits
    the 38-digit cap, double past it; any float → double;
    date+timestamp → timestamp; true conflicts → string), with typed
    NULLs where a frame lacks a column.

    Scale shape: pure per-frame Projects feeding one unionByName — no
    shuffle, no data movement beyond the casts, exactly what
    ``mergeSchema`` does inside the parquet reader but applicable to
    frames from ANY source (REST batches, JDBC extracts, per-day
    layers already loaded). Not for silently papering over real schema
    breaks: pair with ``schema_drift_report`` so the widenings are
    observed, not accidental. Struct columns whose inner fields drift
    fall to the string conflict branch (structs don't widen here) —
    ``flatten_structs`` first, then union, is the supported route.
    """
    if not frames:
        raise ValueError("union_evolved needs at least one frame")
    target: dict[str, str] = {}
    for df in frames:
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            target[f.name] = (
                _widen(target[f.name], t) if f.name in target else t
            )
    aligned = []
    for df in frames:
        have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        cols = []
        for name, t in target.items():
            if name not in have:
                cols.append(F.lit(None).cast(t).alias(name))
            elif have[name] != t:
                cols.append(F.col(name).cast(t).alias(name))
            else:
                cols.append(F.col(name))
        aligned.append(df.select(*cols))
    out = aligned[0]
    for df in aligned[1:]:
        out = out.unionByName(df)
    return out
