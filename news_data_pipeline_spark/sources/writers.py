"""Layered-lake writers.

Generalizes the reference's ``write_to_datalake`` /
``write_to_datalake_and_hive`` (``_lib_dq_helpers.py:21-54, 198-233``):
partitioned writes to a layer path plus optional metastore registration.

Two deliberate fixes over the reference:

* The reference executes the full plan twice per gold table (Delta save
  then ``saveAsTable``, ``_lib_dq_helpers.py:216,226``). Here we write
  the files once and register the table *over the written path* — zero
  recompute.
* Delta Lake isn't available in this container, so the physical format
  is parquet behind the same API; the format is a parameter, not a
  hardcode, so a Delta-enabled cluster just passes ``fmt="delta"``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, DataFrameWriter, SparkSession



def default_layer_format(spark: SparkSession) -> str:
    """``"delta"`` when the session is Delta-enabled, else ``"parquet"``.

    Closes the one physical-format gap vs the reference (its layers are
    Delta tables, ``_lib_dq_helpers.py:36-47``; ``README.md:29-33``)
    without adding a dependency: this container has no Delta jar, so the
    default stays parquet, but a session built with
    ``--packages io.delta:delta-spark...`` + the standard two confs
    (``spark.sql.extensions`` including ``DeltaSparkSessionExtension``
    and the ``DeltaCatalog`` as ``spark.sql.catalog.spark_catalog``)
    makes every ``fmt=None`` writer/reader below produce real Delta
    tables — ACID overwrite and ``VERSION AS OF`` then come from the
    transaction log instead of ``VersionedLayer``'s pointer swap.

    Installability checked round 10, re-checked rounds 11-14
    (r12: the index resolved but served no matching distribution —
    ``pip install delta-spark`` ended "from versions: none"; r14: DNS
    resolution fails outright, no network path at all; ``import
    delta`` absent, zero delta jars under pyspark/jars or anywhere on
    the filesystem): delta-spark is NOT obtainable
    offline in this sandbox (no pip/network for ``--packages``
    resolution, no delta jar anywhere on the filesystem, and
    ``spark.sql.extensions`` is a static conf that cannot be injected
    into a running JVM), so the delta branch cannot execute in CI
    here; ``tests/test_sources.py::
    test_write_layer_delta_roundtrip_or_documented_skip`` exercises
    the sniffing path on every run and carries the delta round-trip
    arm as a documented skip that activates on a Delta-enabled
    cluster.
    """
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
        cat = spark.conf.get("spark.sql.catalog.spark_catalog", "") or ""
    except Exception:  # conf lookup should never break a write
        return "parquet"
    if "DeltaSparkSessionExtension" in ext or "DeltaCatalog" in cat:
        return "delta"
    return "parquet"


def write_layer(
    df: DataFrame,
    path: str,
    *,
    partition_by: str | Sequence[str] | None = None,
    mode: str = "append",
    fmt: str | None = "parquet",
) -> None:
    """Write ``df`` to ``path`` with optional partitioning.

    Mirrors ``write_to_datalake`` (``_lib_dq_helpers.py:21-54``) minus the
    cloud-path assembly: callers pass a full path/URI so the same code
    serves local disk, HDFS, or object stores. ``fmt=None`` resolves via
    ``default_layer_format`` — parquet here, Delta on a Delta-enabled
    session (reference format parity without a bundled jar).
    """
    if fmt is None:
        fmt = default_layer_format(df.sparkSession)
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        writer = writer.partitionBy(*cols)
    writer.save(path)


def write_layer_and_register(
    df: DataFrame,
    path: str,
    table: str,
    *,
    database: str = "news_articles",
    partition_by: str | Sequence[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write once, then register an external table over the files.

    Replaces ``write_to_datalake_and_hive`` (``_lib_dq_helpers.py:198-233``)
    without the double execution: ``CREATE TABLE ... USING <fmt> LOCATION``
    is a metadata-only operation.
    """
    spark: SparkSession = df.sparkSession
    write_layer(df, path, partition_by=partition_by, mode=mode, fmt=fmt)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    spark.sql(f"DROP TABLE IF EXISTS {database}.{table}")
    spark.sql(
        f"CREATE TABLE {database}.{table} USING {fmt} LOCATION '{path}'"
    )
    if partition_by:
        spark.sql(f"MSCK REPAIR TABLE {database}.{table}")


def read_layer(
    spark: SparkSession,
    path: str,
    *,
    fmt: str | None = "parquet",
    merge_schema: bool = False,
    require_success: bool = True,
) -> DataFrame:
    """Read a written layer back.

    ``require_success`` (on by default) refuses directories without the
    ``_SUCCESS`` marker: a writer that died mid-job leaves files but no
    marker, and a plain read would silently return truncated data (the
    parquet-layer stand-in for Delta's transaction-log guarantee,
    ``_lib_dq_helpers.py:39-47``). ``fmt=None`` resolves via
    ``default_layer_format``, mirroring ``write_layer`` so a write/read
    pair under ``fmt=None`` always agrees on the format.

    ``merge_schema=True`` unions the schemas of all files, so a layer
    whose shape evolved across appends (new columns in later batches)
    reads as one frame with nulls for rows written before a column
    existed. Schema evolution is the reference's declared future work
    (``docs/pipeline_overview.md:161``); Delta-enabled clusters get the
    same from ``mergeSchema`` on the Delta reader. Merging reads every
    file footer, so leave it off for stable-schema layers (the
    default).
    """
    if fmt is None:
        fmt = default_layer_format(spark)
    if require_success:
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/_SUCCESS")
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(p):
            raise IOError(
                f"layer at {path} has no _SUCCESS marker — refusing to read "
                "a possibly partial write (pass require_success=False to force)"
            )
    reader = spark.read.format(fmt)
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.load(path)


class VersionedLayer:
    """Atomic-overwrite layer: commit-by-pointer, never delete-then-write.

    Plain ``mode("overwrite")`` deletes the live directory before the new
    job writes — any reader (or writer crash) in that window sees a
    missing or partial layer. Delta closes the window with a transaction
    log (``_lib_dq_helpers.py:39-47``); without Delta in this container,
    the same guarantee comes from the classic pointer-swap commit:

    * every overwrite writes a FRESH immutable directory ``v_<uuid>``
      under the layer root (full job + ``_SUCCESS``), touching nothing
      readers might hold;
    * the commit is a single atomic rename of a tiny ``_CURRENT`` file
      naming the new version (``FileContext.rename(OVERWRITE)`` — atomic
      on POSIX and HDFS);
    * readers resolve ``_CURRENT`` then load that version dir. A crash
      before the commit leaves the pointer — and every reader — on the
      previous complete version; there is no delete-before-write window
      at any point.

    ``vacuum(keep=n)`` prunes old version dirs, never the current one.
    Object-store caveat: rename-as-commit assumes atomic rename; on
    S3-class stores use a real table format instead.
    """

    POINTER = "_CURRENT"

    def __init__(self, path: str, *, fmt: str = "parquet") -> None:
        self.path = path.rstrip("/")
        self.fmt = fmt

    # -- internals --------------------------------------------------------
    def _fs(self, spark: SparkSession):
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(self.path)
        return jvm, p.getFileSystem(spark._jsc.hadoopConfiguration())

    def _commit(self, spark: SparkSession, version: str) -> None:
        jvm, fs = self._fs(spark)
        tmp = jvm.org.apache.hadoop.fs.Path(
            f"{self.path}/{self.POINTER}.tmp.{version}"
        )
        out = fs.create(tmp, True)
        out.write(bytearray(version, "utf-8"))
        out.close()
        # FileContext.rename(OVERWRITE): the one rename primitive that
        # atomically replaces an existing destination on both local FS
        # and HDFS (FileSystem.rename refuses existing destinations).
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            spark._jsc.hadoopConfiguration()
        )
        # rename takes Java varargs — py4j must pass an explicit array
        gateway = spark.sparkContext._gateway
        opts = gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        dst = jvm.org.apache.hadoop.fs.Path(f"{self.path}/{self.POINTER}")
        fc.rename(tmp, dst, opts)

    def current_version(self, spark: SparkSession) -> str | None:
        jvm, fs = self._fs(spark)
        p = jvm.org.apache.hadoop.fs.Path(f"{self.path}/{self.POINTER}")
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            raw = []
            b = stream.read()
            while b != -1:
                raw.append(b)
                b = stream.read()
        finally:
            stream.close()
        return bytes(raw).decode("utf-8").strip()

    # -- public API -------------------------------------------------------
    def overwrite(
        self,
        df: DataFrame,
        *,
        partition_by: str | Sequence[str] | None = None,
        _failpoint: str | None = None,
    ) -> str:
        """Write a new version and atomically commit the pointer to it.

        ``_failpoint`` is a crash-injection hook for tests: the named
        point raises BEFORE the commit, proving readers stay on the
        previous complete version.
        """
        import uuid

        spark = df.sparkSession
        version = f"v_{uuid.uuid4().hex[:12]}"
        write_layer(
            df,
            f"{self.path}/{version}",
            partition_by=partition_by,
            mode="error",
            fmt=self.fmt,
        )
        if _failpoint == "after_stage":
            raise RuntimeError("injected crash: staged but not committed")
        self._commit(spark, version)
        return version

    def versions(self, spark: SparkSession) -> list[str]:
        """Retained COMPLETE versions (staged with ``_SUCCESS``),
        oldest-first by modification time, current included. The
        time-travel horizon is whatever ``vacuum(keep=n)`` retains —
        same contract as Delta's ``VACUUM`` truncating ``VERSION AS OF``
        history."""
        jvm, fs = self._fs(spark)
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        if not fs.exists(root):
            return []
        out = []
        for f in fs.listStatus(root):
            name = f.getPath().getName()
            if (
                f.isDirectory()
                and name.startswith("v_")
                and fs.exists(
                    jvm.org.apache.hadoop.fs.Path(
                        f"{self.path}/{name}/_SUCCESS"
                    )
                )
            ):
                out.append((f.getModificationTime(), name))
        out.sort()
        return [name for _, name in out]

    def read(
        self, spark: SparkSession, *, version: str | None = None
    ) -> DataFrame:
        """Read the current version, or — time travel — any retained
        complete version by name (``versions()`` lists them)."""
        if version is None:
            version = self.current_version(spark)
            if version is None:
                raise IOError(
                    f"versioned layer at {self.path} has no committed version"
                )
        elif version not in self.versions(spark):
            raise IOError(
                f"version {version!r} is not a retained complete version "
                f"of {self.path} (vacuumed, never staged, or incomplete)"
            )
        return read_layer(
            spark, f"{self.path}/{version}", fmt=self.fmt, require_success=True
        )

    def diff(
        self,
        spark: SparkSession,
        keys: list[str],
        *,
        v_old: str,
        v_new: str | None = None,
    ) -> DataFrame:
        """Row-level diff between two retained versions: one row per
        key whose content differs, ``change`` in {'added', 'removed',
        'changed'} — what a reviewer asks of any versioned table
        ("what did the last refresh actually do?") and the audit twin
        of time travel. ``v_new=None`` diffs against the current
        version.

        Content equality is an md5 over the JSON of the sorted non-key
        columns COMMON to both versions — a column added or dropped
        between versions is a schema change, reported by
        ``dq.drift.schema_drift_report``, not silently folded into
        row-change verdicts. Keys must be non-null (a null key never
        joins and would surface as an added+removed pair).

        Scale shape: each side reduces to (keys, hash) before the one
        full-outer sort-merge join on the key — the same single-join
        plan as ``merge_upsert``; unchanged rows drop before any
        wide-row materialization.
        """
        import pyspark.sql.functions as F

        new = self.read(spark, version=v_new)
        old = self.read(spark, version=v_old)
        common = sorted(
            (set(old.columns) & set(new.columns)) - set(keys)
        )

        def hashed(df: DataFrame, alias: str) -> DataFrame:
            # fully-keyed layer (no non-key columns): content is the
            # key itself, so only added/removed verdicts are possible
            content = (
                F.to_json(F.struct(*[F.col(c) for c in common]))
                if common
                else F.lit("")
            )
            return df.select(*keys, F.md5(content).alias(alias))

        joined = hashed(old, "__h_old").join(
            hashed(new, "__h_new"), on=keys, how="full_outer"
        )
        change = (
            F.when(F.col("__h_old").isNull(), F.lit("added"))
            .when(F.col("__h_new").isNull(), F.lit("removed"))
            .otherwise(F.lit("changed"))
        )
        return (
            joined.where(
                F.col("__h_old").isNull()
                | F.col("__h_new").isNull()
                | (F.col("__h_old") != F.col("__h_new"))
            )
            .select(*keys, change.alias("change"))
        )

    def vacuum(
        self, spark: SparkSession, *, keep: int = 2, min_age_seconds: float = 3600.0
    ) -> list[str]:
        """Delete all but the ``keep`` most recent UNREFERENCED versions.

        Two protections make this safe to run concurrently with writers:
        the current version is never a candidate regardless of age, and
        nothing younger than ``min_age_seconds`` is touched — a version
        dir that is fully staged but whose ``_commit`` hasn't landed yet
        is unreferenced but about to become current; deleting it would
        let the racing commit point ``_CURRENT`` at a void. The grace
        window must exceed the longest plausible stage-to-commit gap.
        Orphaned ``_CURRENT.tmp.*`` pointer files past the same age
        (a writer died mid-commit) are swept too.
        """
        import time

        jvm, fs = self._fs(spark)
        current = self.current_version(spark)
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        cutoff_ms = (time.time() - min_age_seconds) * 1000.0
        stale, tmp_orphans = [], []
        for f in fs.listStatus(root):
            name = f.getPath().getName()
            if f.getModificationTime() > cutoff_ms:
                continue  # inside the grace window — possibly mid-commit
            if f.isDirectory() and name.startswith("v_") and name != current:
                stale.append((f.getModificationTime(), name))
            elif not f.isDirectory() and name.startswith(f"{self.POINTER}.tmp."):
                tmp_orphans.append(name)
        stale.sort()
        doomed = [name for _, name in stale[: max(len(stale) - keep, 0)]]
        for name in doomed + tmp_orphans:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{self.path}/{name}"), True)
        return doomed


def quarantine_writer(path: str, fmt: str = "parquet"):
    """Append-only audit sink for DQ-failed rows.

    The payload/reason/lineage shaping happens in ``dq.engine`` (mirrors
    ``02_silver_transformation_news_articles.py:44-49``); this is just the
    append-mode sink those rows flow into.
    """

    def _write(df: DataFrame) -> None:
        write_layer(df, path, mode="append", fmt=fmt)

    return _write


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_by: str | Sequence[str],
    num_buckets: int,
    sort_by: str | Sequence[str] | None = None,
    database: str = "news_articles",
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write a table bucketed (and optionally sorted) by join/agg keys.

    Bucketing is the co-located-join story at 100 TB: two tables
    bucketed by the same key into the same bucket count join with NO
    exchange on either side — the shuffle happens once at write time
    and every subsequent join/aggregation on the key is free. Requires
    the metastore (``saveAsTable``); plain path writes can't record
    bucket metadata.
    """
    spark: SparkSession = df.sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    bucket_cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    writer = (
        df.write.format(fmt)
        .mode(mode)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_by:
        sort_cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(f"{database}.{table}")


def write_clustered(
    df: DataFrame,
    path: str,
    *,
    cluster_by: str | Column | Sequence[str | Column],
    num_files: int | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write a layer ordered by ``cluster_by`` for data skipping.

    ``repartitionByRange`` + ``sortWithinPartitions`` makes every output
    file's min/max footer stats for the cluster keys narrow and
    DISJOINT, so a filtered scan prunes whole files (and row groups)
    instead of reading everything — the parquet-native cousin of
    Delta/Iceberg clustering, and the single cheapest read-amplification
    fix for selective queries over 100-TB fact tables. Cluster by the
    columns your filters actually use (time, tenant, key ranges).
    """
    cols = (
        [cluster_by]
        if isinstance(cluster_by, (str, Column))
        else list(cluster_by)
    )
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    out = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    out.write.format(fmt).mode(mode).save(path)


def compact_layer(
    spark: SparkSession,
    path: str,
    *,
    target_partitions: int | None = None,
    partition_by: str | Sequence[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Rewrite a layer to healthy file counts (small-files compaction).

    Streaming sinks and frequent small appends leave thousands of tiny
    files per partition; scans then pay per-file open cost and lose
    row-group pruning. This rewrites the layer in one pass —
    ``repartition`` to ``target_partitions`` (or let AQE coalesce when
    None) — into a temp directory, then swaps it in via the Hadoop
    FileSystem API (local disk, HDFS, or any mounted FS).

    The delete+rename swap is NOT atomic: a concurrent reader can catch
    the gap, and object stores rename by copy. Under concurrency or on
    S3-class storage use a table format instead (Delta ``OPTIMIZE`` is
    this operation with a transactional commit).
    """
    import uuid

    df = spark.read.format(fmt).load(path)
    out = df.repartition(target_partitions) if target_partitions else df.coalesce(
        max(spark.sparkContext.defaultParallelism // 4, 1)
    )
    tmp = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    write_layer(out, tmp, partition_by=partition_by, mode="overwrite", fmt=fmt)
    jvm = spark._jvm
    dst = jvm.org.apache.hadoop.fs.Path(path)
    src = jvm.org.apache.hadoop.fs.Path(tmp)
    old = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}__pre_compact")
    fs = dst.getFileSystem(spark._jsc.hadoopConfiguration())
    # Rename the live layer ASIDE first — deleting it before the swap
    # would leave NO copy if the rename then failed or the process died.
    fs.delete(old, True)
    if not fs.rename(dst, old):
        raise IOError(f"compaction: could not move {path} aside")
    if not fs.rename(src, dst):
        fs.rename(old, dst)  # restore the original layer
        raise IOError(f"compaction rename failed: {tmp} -> {path}; original restored")
    fs.delete(old, True)


def write_sharded(
    df: DataFrame,
    path: str,
    *,
    max_records_per_file: int,
    num_shards: int | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Export a corpus in bounded-size shards — the layout training-data
    loaders want: no shard larger than ``max_records_per_file`` rows, so
    downstream readers (dataloader workers, sampling jobs, backfills)
    get uniform parallel units instead of one task per whatever file
    sizes the upstream job happened to leave.

    ``maxRecordsPerFile`` does the per-file capping inside each write
    task (rolls to a new file at the cap — no extra shuffle);
    ``num_shards`` optionally repartitions first to bound the file
    COUNT too (coarse x fine: tasks x per-file cap). Without it the
    file count is input-partitions x ceil(rows_per_partition / cap).
    """
    if num_shards is not None and num_shards < 1:
        # a dynamically-computed 0 (rows // shard_size) must fail fast,
        # not silently skip the repartition and emit an unbounded count
        raise ValueError(f"num_shards must be >= 1 or None, got {num_shards}")
    out = df.repartition(num_shards) if num_shards is not None else df
    _shard_writer(out, mode, max_records_per_file).format(fmt).save(path)


def _shard_writer(
    df: DataFrame,
    mode: str,
    max_records_per_file: int | None,
    compression: str | None = None,
) -> DataFrameWriter:
    """``df.write`` in ``mode`` with the optional per-file row cap
    (``maxRecordsPerFile`` rolls files inside each task, no extra
    shuffle) and ``compression`` — the bounded-shard options of
    ``write_sharded``, ``jsonl.write_jsonl`` and ``csvio.write_csv``."""
    if max_records_per_file is not None and max_records_per_file < 1:
        raise ValueError(
            f"max_records_per_file must be >= 1, got {max_records_per_file}"
        )
    options = {"maxRecordsPerFile": max_records_per_file, "compression": compression}
    return df.write.mode(mode).options(
        **{k: v for k, v in options.items() if v is not None}
    )
