"""CSV corpus interchange: declared-schema reads with corrupt-record
quarantine, and bounded-shard writes.

The CSV twin of ``sources/jsonl.py``, with the same discipline: schema
is an INPUT, never inferred (inference costs a full extra pass at
100 TB and silently widens types on dirty data), and malformed lines
are captured, not dropped. ``from_csv`` in PERMISSIVE mode marks a
line corrupt for type mismatches, missing fields, AND extra fields
(probed: all three populate the corrupt column), while quoted
delimiters parse correctly — so the quarantine boundary is the CSV
grammar itself, not a naive split.

Reads go through the text scan and the parse-and-quarantine core of
``read_jsonl`` (``jsonl._parse_lines``, which also drops blank lines)
with a ``from_csv`` expression, rather than the CSV file source: the
file source forbids plans referencing only its internal corrupt column
(SPARK-26243), which breaks exactly the quarantine queries this reader
exists for. The text scan still splits, prunes, and parallelizes like
any file source, and the parse is JVM-side Univocity either way.

Headers: a text scan has no per-file "first line" notion, so
``skip_header=True`` drops lines that EXACTLY match the canonical
header (schema field names joined by the delimiter) — the header shape
``write_csv(header=True)`` produces. Exotic headers (reordered,
re-quoted, renamed) are data errors and surface in quarantine, where
they belong.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from news_data_pipeline_spark.sources.jsonl import (
    _as_struct,
    _parse_lines,
    _read_lines,
)
from news_data_pipeline_spark.sources.writers import _shard_writer


def parse_csv_lines(
    lines: DataFrame,
    schema: str | StructType,
    *,
    delimiter: str = ",",
    value_col: str = "value",
) -> DataFrame:
    """The expression core of ``read_csv``: parse a string column of CSV
    lines against a declared schema, surfacing malformed lines in
    ``_corrupt_record``. Public so in-memory line streams (a Kafka
    value column, a constructed frame) get the identical quarantine
    grammar as file reads — one parser definition, one corrupt taxonomy.
    """
    return _parse_lines(
        lines,
        _as_struct(lines.sparkSession, schema),
        lambda raw, struct, options: F.from_csv(
            raw, struct.simpleString(), {**options, "sep": delimiter}
        ),
        value_col,
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | StructType,
    *,
    delimiter: str = ",",
    skip_header: bool = False,
    streaming: bool = False,
) -> DataFrame:
    """Read CSV with a DECLARED schema; malformed lines surface in the
    ``_corrupt_record`` column instead of vanishing. Compose with
    ``sources.jsonl.split_corrupt_records`` for the (valid, quarantine)
    split — the corrupt column is an ordinary expression here, so both
    populations are plain filters. ``streaming=True`` reads the same
    landing directory incrementally (``readStream.text``); parse,
    header-skip, and split are all stateless expressions, so batch and
    stream produce identical rows per file.
    """
    struct = _as_struct(spark, schema)
    lines = _read_lines(spark, path, streaming)
    if skip_header:
        header = delimiter.join(f.name for f in struct.fields)
        lines = lines.where(F.col("value") != F.lit(header))
    return parse_csv_lines(lines, struct, delimiter=delimiter)


def write_csv(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    delimiter: str = ",",
    header: bool = True,
    max_records_per_file: int | None = None,
    compression: str | None = None,
) -> None:
    """Write a frame as CSV with bounded shards (``maxRecordsPerFile``
    rolls files inside each task — no extra shuffle). Same compression
    caveat as ``write_jsonl``: gzip is not splittable; leave ``None``
    when the next scan must parallelize per file."""
    _shard_writer(df, mode, max_records_per_file, compression).option(
        "sep", delimiter
    ).option("header", str(header).lower()).csv(path)
