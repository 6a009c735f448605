"""Line-oriented corpus interchange: declared-schema reads with
corrupt-record quarantine, and bounded-shard writes.

JSON-lines is the lingua franca of LLM training corpora (one document
object per line; WebDataset/HF dumps, filtering-pipeline handoffs).
The reference ingests REST JSON with a DECLARED StructType rather than
inference (`01_bronze_ingestion_news_articles.py:26-35`); this module
applies the same discipline to files: schema is an input, never
inferred (inference costs a full extra pass at 100 TB and silently
widens types on dirty data), and malformed lines are captured, not
dropped — the quarantine philosophy of the DQ engine extended to the
parse boundary.

``_parse_lines`` is the one parse-and-quarantine core: ``read_jsonl``
and ``sources.csvio`` (``read_csv``, ``parse_csv_lines``) differ only
in the parser expression they hand it. A NULL, empty or
whitespace-only line is not a record: the core drops it before
parsing, so it is neither a valid all-NULL row nor a quarantined
payload.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from news_data_pipeline_spark.sources.writers import _shard_writer

CORRUPT_COL = "_corrupt_record"

# Java's \s class: a line made only of these holds no record
_BLANK = " \t\n\x0b\f\r"


def _as_struct(spark: SparkSession, schema: str | StructType) -> StructType:
    if isinstance(schema, StructType):
        return schema
    return StructType.fromDDL(schema)


def _read_lines(spark: SparkSession, path: str, streaming: bool) -> DataFrame:
    """The ``value`` text scan of ``path``; ``streaming=True`` reads the
    landing directory incrementally through ``readStream``."""
    if streaming:
        return spark.readStream.format("text").load(path)
    return spark.read.text(path)


def _parse_lines(
    lines: DataFrame,
    struct: StructType,
    parse: Callable[[Column, StructType, dict[str, str]], Column],
    value_col: str = "value",
) -> DataFrame:
    """Parse the string column ``value_col`` against ``struct`` with
    ``parse(raw, schema, options)`` (``from_json``, or ``from_csv`` with
    its ``sep``) in PERMISSIVE mode: ``struct``'s columns plus
    ``_corrupt_record``, which holds the raw line when the parser flags
    it or yields no row at all, and is NULL otherwise. Blank lines are
    dropped first (module docstring)."""
    if CORRUPT_COL in struct.fieldNames():
        raise ValueError(
            f"schema must not declare {CORRUPT_COL!r}; it is appended "
            "automatically"
        )
    with_corrupt = StructType(
        list(struct.fields) + [StructField(CORRUPT_COL, StringType(), True)]
    )
    raw = F.col(value_col)
    # ltrim, not trim: a line is blank iff its left trim is empty, and
    # one trim copies each line once
    parsed = lines.where(F.ltrim(raw, F.lit(_BLANK)) != "").select(
        parse(
            raw,
            with_corrupt,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL},
        ).alias("__row"),
        raw,
    )
    return parsed.select(
        *[F.col(f"__row.{f.name}") for f in struct.fields],
        F.when(
            F.col(f"__row.{CORRUPT_COL}").isNotNull() | F.col("__row").isNull(),
            raw,
        ).alias(CORRUPT_COL),
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str | StructType,
    *,
    streaming: bool = False,
) -> DataFrame:
    """Read JSONL with a DECLARED schema; malformed lines surface in the
    ``_corrupt_record`` column instead of vanishing.

    ``streaming=True`` swaps the text scan for ``readStream.text`` —
    every downstream expression here is stateless, so the same parse +
    quarantine semantics run incrementally over a landing directory
    (``split_corrupt_records`` stays two plain filters on the stream).

    Implementation: the file is scanned as TEXT and each line parsed
    with ``from_json`` in PERMISSIVE mode — a line that is not valid
    JSON (or whose values cannot fit the declared types) yields nulls
    plus the raw line in ``_corrupt_record``; a missing field is sparse
    (NULL), not corrupt. Parsing as an expression rather than via the
    JSON file source deliberately sidesteps SPARK-26243 (the file
    source forbids plans that reference only its internal corrupt
    column, which breaks exactly the quarantine queries this reader
    exists for); the text scan still splits, prunes, and parallelizes
    like any file source, and the parse is JVM-side Jackson either way.
    Use :func:`split_corrupt_records` to separate the populations.
    """
    return _parse_lines(
        _read_lines(spark, path, streaming), _as_struct(spark, schema), F.from_json
    )


def split_corrupt_records(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, corrupt) split of a ``read_jsonl`` frame.

    Valid rows drop the corrupt column; corrupt rows keep only the raw
    line as ``payload`` (the quarantine-record shape — feed it to the
    audit sink with lineage columns as needed). Both filters are
    ordinary column predicates because ``read_jsonl`` computes the
    corrupt column as an expression — the JSON file source's
    corrupt-column query restriction (SPARK-26243) does not apply.
    """
    if CORRUPT_COL not in df.columns:
        raise ValueError(
            f"frame has no {CORRUPT_COL!r} column — was it read with "
            "read_jsonl?"
        )
    data_cols = [c for c in df.columns if c != CORRUPT_COL]
    valid = df.where(F.col(CORRUPT_COL).isNull()).select(data_cols)
    corrupt = df.where(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("payload")
    )
    return valid, corrupt


def write_jsonl(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
    compression: str | None = None,
) -> None:
    """Write a frame as JSONL, optionally bounding rows per shard
    (``writers._shard_writer``: the cap rolls files inside each task,
    no extra shuffle, so downstream loaders that map one worker per
    file see bounded shards). ``compression='gzip'/'zstd'`` trades CPU
    for the ~5-10x text compression JSONL invites; leave None when the
    consumer needs splittable files (gzip is not splittable — one giant
    .gz file serializes the next scan).
    """
    _shard_writer(df, mode, max_records_per_file, compression).json(path)
