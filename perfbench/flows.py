"""The benchmark's flows: each drives the engine through its public
functions on generated inputs, then checks the outputs.

A flow has three steps:

* ``generate(root, seed)`` writes its inputs (``gen``) and keeps the
  manifest of what was planted;
* ``run(spark, out, tr)`` runs the engine from the landed input to the
  final output written under ``out`` and returns what the checks need;
* ``check(out, info)`` compares the outputs with the manifest and returns
  the failures found plus a digest of the outputs.

``tr`` is a ``Tracer``. Untraced, its spans cost nothing and ``mat``
returns its frame unchanged, so the flow is the lazy plan a user would
write. Traced, every layer call sits in a span and ``mat`` materializes
the layer's output inside that span (``localCheckpoint``), so the Spark
work of each layer is attributed to it instead of to the writer that
would otherwise trigger the whole plan.
"""

from __future__ import annotations

import hashlib
import os
import statistics
from contextlib import nullcontext

import gen

INGESTION_TIME = "2024-03-02 12:00:00"


class Tracer:
    """Span and materialization hooks; a no-op unless ``recorder`` is set."""

    def __init__(self, recorder=None) -> None:
        self.recorder = recorder

    def span(self, name: str):
        return self.recorder.span(name) if self.recorder else nullcontext()

    def mat(self, df):
        return df.localCheckpoint(eager=True) if self.recorder else df

    @property
    def on(self) -> bool:
        return self.recorder is not None


# --------------------------------------------------------------------------
# Output helpers (pyarrow only: checks never go through Spark)


def data_files(path: str) -> list[str]:
    """Data files a Spark writer left under ``path`` (no markers/CRCs)."""
    out = []
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out += [os.path.join(dirpath, f) for f in files if not f.startswith((".", "_"))]
    return out


def data_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(path))


def read_table(path: str):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def frame_digest(table, drop: tuple[str, ...] = ()) -> str:
    """Order-insensitive digest of a table's rows (sum of row hashes)."""
    import pandas as pd

    cols = sorted(c for c in table.column_names if c not in drop)
    df = table.select(cols).to_pandas()
    for c in df.columns:
        if df[c].dtype.name == "category":
            df[c] = df[c].astype(str)
    total = int(pd.util.hash_pandas_object(df, index=False).sum()) & (2**64 - 1)
    return f"{len(df)}:{total:016x}:{','.join(cols)}"


def combine(*parts: str) -> str:
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


def _expect(fails: list[str], what: str, got, want) -> None:
    if got != want:
        fails.append(f"{what}: got {got}, want {want}")


# --------------------------------------------------------------------------
# medallion batch


def _rules():
    from news_data_pipeline_spark.dq import NotNull, Unique

    return [NotNull("title"), Unique("url", quarantine_all=False, order_by=("publishedAt",))]


class MedallionBatch:
    """Landing JSON -> bronze -> DQ split + quarantine -> silver -> star
    schema -> registered fact -> gold aggregates."""

    name = "medallion_batch"

    def __init__(self, files_per_country: int, rows_per_file: int) -> None:
        self.files_per_country = files_per_country
        self.rows_per_file = rows_per_file

    def generate(self, root: str, seed: int) -> None:
        self.landing = gen.land_articles(
            root,
            seed,
            files_per_country=self.files_per_country,
            rows_per_file=self.rows_per_file,
        )
        self.input_rows = self.landing.rows
        self.input_bytes = self.landing.bytes

    def run(self, spark, out: str, tr: Tracer) -> dict:
        import pyspark.sql.functions as F

        from news_data_pipeline_spark.dq import run_dq, to_quarantine_records
        from news_data_pipeline_spark.functions.columns import flatten_structs
        from news_data_pipeline_spark.model.star import build_dim, build_fact, dim_date
        from news_data_pipeline_spark.plans.medallion import silver_enrichment
        from news_data_pipeline_spark.sources import rest, writers

        with tr.span("sources"):
            frames = [
                rest.ingest_json_landing(
                    spark, path, country=country, ingestion_time=INGESTION_TIME
                )
                for country, path in sorted(self.landing.dirs.items())
            ]
            bronze = frames[0]
            for f in frames[1:]:
                bronze = bronze.unionByName(f)
            bronze = tr.mat(bronze)
        with tr.span("writers"):
            writers.write_layer(bronze, f"{out}/bronze", mode="overwrite")
        with tr.span("dq"):
            flat = flatten_structs(writers.read_layer(spark, f"{out}/bronze"))
            res = run_dq(flat, _rules())
            valid = tr.mat(res.valid)
            quarantined = tr.mat(res.quarantined)
        with tr.span("writers"):
            writers.quarantine_writer(f"{out}/quarantine")(
                to_quarantine_records(
                    quarantined, source_table="news_articles", ingestion_time=INGESTION_TIME
                )
            )
        with tr.span("plans"):
            silver = silver_enrichment().run(valid)
            with tr.span("functions"):
                silver = tr.mat(silver)
        with tr.span("writers"):
            writers.write_layer(
                silver, f"{out}/silver", partition_by="COUNTRY", mode="overwrite"
            )
        with tr.span("model"):
            sb = writers.read_layer(spark, f"{out}/silver")
            dims = {
                "SOURCE": tr.mat(build_dim(sb, "SOURCE", id_col="SOURCE_ID")),
                "AUTHOR": tr.mat(build_dim(sb, "AUTHOR", id_col="AUTHOR_ID")),
            }
            dates = tr.mat(dim_date(sb, "PUBLISHED_DATE"))
            fact = tr.mat(
                build_fact(sb, dims, fact_id_cols=["URL"], fact_id_name="ARTICLE_ID")
            )
        with tr.span("writers"):
            for key, dim in dims.items():
                writers.write_layer(dim, f"{out}/gold/dim_{key.lower()}", mode="overwrite")
            writers.write_layer(dates, f"{out}/gold/dim_date", mode="overwrite")
            db = f"perfbench_{os.path.basename(out)}"
            with tr.span("writers") as register:
                writers.write_layer_and_register(
                    fact, f"{out}/gold/fact_news_articles", "fact_news_articles", database=db
                )
        with tr.span("model"), tr.span("gold"):
            registered = spark.table(f"{db}.fact_news_articles")
            gold = {
                "top_publishers": registered.groupBy("SOURCE").agg(F.count(F.lit(1)).alias("n")),
                "sentiment_trends": registered.groupBy("PUBLISHED_DATE", "SENTIMENT_LABEL").agg(
                    F.count(F.lit(1)).alias("n")
                ),
                "country_distribution": registered.groupBy("COUNTRY").agg(
                    F.count(F.lit(1)).alias("n")
                ),
            }
            collected = {k: [r.asDict() for r in v.collect()] for k, v in gold.items()}
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        return {"gold": collected, "register_span": register}

    def check(self, out: str, info: dict) -> tuple[list[str], str]:
        import pyarrow.compute as pc

        m = self.landing
        fails: list[str] = []
        bronze = read_table(f"{out}/bronze")
        quarantine = read_table(f"{out}/quarantine")
        silver = read_table(f"{out}/silver")
        fact = read_table(f"{out}/gold/fact_news_articles")
        dims = {k: read_table(f"{out}/gold/dim_{k}") for k in ("source", "author", "date")}
        _expect(fails, "bronze rows", bronze.num_rows, m.rows)
        _expect(fails, "quarantine rows", quarantine.num_rows, m.quarantine_rows)
        reasons = pc.value_counts(quarantine["reason"]).to_pylist()
        _expect(
            fails,
            "quarantine reasons",
            sorted((r["values"], r["counts"]) for r in reasons),
            sorted([("not_null(title)", m.null_titles), ("unique(url)", m.dup_urls)]),
        )
        _expect(fails, "silver rows", silver.num_rows, m.valid_rows)
        _expect(fails, "fact rows", fact.num_rows, bronze.num_rows - quarantine.num_rows)
        for fk in ("SOURCE_ID", "AUTHOR_ID"):
            _expect(fails, f"null {fk}", fact[fk].null_count, 0)
        _expect(fails, "dim_source", dims["source"].num_rows, m.dim_source)
        _expect(fails, "dim_author", dims["author"].num_rows, m.dim_author)
        _expect(fails, "dim_date", dims["date"].num_rows, m.dim_date)
        for name, rows in info["gold"].items():
            _expect(fails, f"{name} total", sum(r["n"] for r in rows), fact.num_rows)
        _expect(
            fails,
            "country_distribution",
            {r["COUNTRY"]: r["n"] for r in info["gold"]["country_distribution"]},
            m.valid_by_country,
        )
        _expect(
            fails,
            "top_publishers",
            {r["SOURCE"]: r["n"] for r in info["gold"]["top_publishers"]},
            m.valid_by_source,
        )
        digest = combine(
            frame_digest(quarantine, drop=("ingestion_time",)),
            frame_digest(fact),
            *(frame_digest(d) for _, d in sorted(dims.items())),
        )
        return fails, digest

    def layer_notes(self, out: str, info: dict, by_layer: dict) -> dict[str, float]:
        silver_rows = read_table(f"{out}/silver").num_rows
        return {
            "model.silver_scans": by_layer.get("model", {}).get("records_in", 0.0)
            / silver_rows,
            "dq.quarantine_rows": float(read_table(f"{out}/quarantine").num_rows),
            # driver time of the registering write outside its Spark jobs
            "writers.register_s": info["register_span"].duration
            - info["register_span"].counters["job_s"],
        }


# --------------------------------------------------------------------------
# medallion micro-batch


class MedallionStream:
    """Many small landed files drained by the foreachBatch DQ split with
    ``availableNow`` and a small ``maxFilesPerTrigger``."""

    name = "medallion_stream"

    def __init__(self, files: int, rows_per_file: int, files_per_trigger: int) -> None:
        self.files = files
        self.rows_per_file = rows_per_file
        self.files_per_trigger = files_per_trigger

    def generate(self, root: str, seed: int) -> None:
        self.landing = gen.land_articles(
            root,
            seed + 7919,
            countries=("us",),
            files_per_country=self.files,
            rows_per_file=self.rows_per_file,
            n_sources=10,
            n_authors=50,
        )
        self.input_rows = self.landing.rows
        self.input_bytes = self.landing.bytes

    def run(self, spark, out: str, tr: Tracer) -> dict:
        from news_data_pipeline_spark.functions.columns import flatten_structs
        from news_data_pipeline_spark.sources import rest
        from news_data_pipeline_spark.streaming.sinks import split_to_silver_and_quarantine

        with tr.span("stream"):
            raw = (
                spark.readStream.schema(rest.ARTICLE_SCHEMA)
                .option("maxFilesPerTrigger", self.files_per_trigger)
                .json(self.landing.dirs["us"])
            )
            stream = flatten_structs(rest.with_ingestion_metadata(raw, "us", INGESTION_TIME))
            query = split_to_silver_and_quarantine(
                stream,
                _rules(),
                silver_path=f"{out}/silver",
                quarantine_path=f"{out}/quarantine",
                checkpoint=f"{out}/_checkpoint",
                source_table="news_articles",
                available_now=True,
            )
            query.awaitTermination()
        progress = [p for p in query.recentProgress if p.get("numInputRows", 0) > 0]
        return {"progress": progress}

    def check(self, out: str, info: dict) -> tuple[list[str], str]:
        m = self.landing
        fails: list[str] = []
        silver = read_table(f"{out}/silver")
        quarantine = read_table(f"{out}/quarantine")
        _expect(fails, "silver + quarantine rows", silver.num_rows + quarantine.num_rows, m.rows)
        _expect(fails, "quarantine rows", quarantine.num_rows, m.quarantine_rows)
        want_batches = -(-self.files // self.files_per_trigger)
        _expect(fails, "micro-batches", len(info["progress"]), want_batches)
        # batch ids and processing times vary run to run; rows must not
        digest = combine(
            frame_digest(silver, drop=("batch_id",)),
            frame_digest(quarantine, drop=("batch_id", "ingestion_time")),
        )
        return fails, digest

    def layer_notes(self, out: str, info: dict, by_layer: dict) -> dict[str, float]:
        progress = info["progress"]
        notes: dict[str, float] = {
            "dq.quarantine_rows": float(read_table(f"{out}/quarantine").num_rows),
        }
        keys = {
            "add_batch": "addBatch",
            "query_planning": "queryPlanning",
            "wal_commit": "walCommit",
            "latest_offset": "latestOffset",
            "commit_offsets": "commitOffsets",
        }
        for short, key in keys.items():
            vals = [p["durationMs"].get(key, 0) / 1e3 for p in progress]
            notes[f"stream.{short}_s"] = statistics.median(vals) if vals else 0.0
        trig = sorted(p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress)
        if trig:
            notes["stream.batch_p50_s"] = statistics.median(trig)
            notes["stream.batch_p90_s"] = trig[min(len(trig) - 1, int(0.9 * len(trig)))]
        return notes


# --------------------------------------------------------------------------
# corpus preparation


CORPUS_SCHEMA = "doc_id BIGINT, source STRING, text STRING"


class CorpusPrep:
    """JSONL -> corrupt split -> NFKC -> repetition gate -> exact dedup
    -> temperature mixture -> packed layout."""

    name = "corpus_prep"

    def __init__(self, n_docs: int) -> None:
        self.n_docs = n_docs

    def generate(self, root: str, seed: int) -> None:
        self.landing = gen.land_corpus(root, seed, n_docs=self.n_docs)
        self.input_rows = self.landing.lines
        self.input_bytes = self.landing.bytes

    def run(self, spark, out: str, tr: Tracer) -> dict:
        import pyspark.sql.functions as F

        from news_data_pipeline_spark.functions.arrow_text import (
            compression_ratio,
            normalize_unicode,
        )
        from news_data_pipeline_spark.operators.dedup import fingerprint_dedup
        from news_data_pipeline_spark.operators.packing import pack_sequences
        from news_data_pipeline_spark.operators.sampling import (
            mixture_sample_by_rates,
            temperature_mixture_rates,
        )
        from news_data_pipeline_spark.sources import writers
        from news_data_pipeline_spark.sources.jsonl import read_jsonl, split_corrupt_records

        with tr.span("sources"):
            valid, corrupt = split_corrupt_records(
                read_jsonl(spark, self.landing.path, CORPUS_SCHEMA)
            )
            valid = tr.mat(valid)
        with tr.span("writers"):
            writers.quarantine_writer(f"{out}/corrupt")(corrupt)
        with tr.span("functions"):
            corpus = valid.withColumn("text", normalize_unicode(F.col("text")))
            corpus = tr.mat(corpus.where(compression_ratio(F.col("text")) > gen.REPETITION_GATE))
        with tr.span("dedup"):
            kept = tr.mat(fingerprint_dedup(corpus, "text", "doc_id"))
        info = {}
        if tr.on:
            info["deduped_ids"] = [r[0] for r in kept.select("doc_id").collect()]
        with tr.span("sampling"):
            rates = temperature_mixture_rates(kept, "source", alpha=0.3)
            mixed = tr.mat(mixture_sample_by_rates(kept, "doc_id", "source", rates))
        with tr.span("packing"):
            tokens = mixed.withColumn("n_tokens", F.size(F.split(F.trim("text"), r"\s+")))
            layout = tr.mat(pack_sequences(tokens, "doc_id", "n_tokens", ctx_len=gen.CTX_LEN))
        with tr.span("writers"):
            writers.write_layer(layout, f"{out}/packed", mode="overwrite")
        return info

    def check(self, out: str, info: dict) -> tuple[list[str], str]:
        m = self.landing
        fails: list[str] = []
        _expect(fails, "corrupt lines", read_table(f"{out}/corrupt").num_rows, m.corrupt)
        layout = read_table(f"{out}/packed").sort_by("start_offset")
        ids = layout["id"].to_pylist()
        n_tok = layout["n_tokens"].to_pylist()
        starts = layout["start_offset"].to_pylist()
        kept = set(ids)
        _expect(fails, "duplicate ids in layout", len(ids) - len(kept), 0)
        _expect(fails, "planted twins kept", sorted(kept & m.twins)[:5], [])
        _expect(fails, "spam kept", sorted(kept & m.spam)[:5], [])
        fps = [gen.fingerprint(m.docs[i][1]) for i in ids]
        _expect(fails, "kept docs sharing a fingerprint", len(fps) - len(set(fps)), 0)
        want_tokens = [len(m.docs[i][1].split()) for i in ids]
        _expect(fails, "token counts", n_tok == want_tokens, True)
        tiled = starts[:1] == [0] and all(
            starts[k + 1] == starts[k] + n_tok[k] for k in range(len(starts) - 1)
        )
        _expect(fails, "pack offsets tile the token stream", tiled, True)
        if ids:
            _expect(fails, "stream end", starts[-1] + n_tok[-1], sum(n_tok))
        return fails, combine(frame_digest(layout))

    def layer_notes(self, out: str, info: dict, by_layer: dict) -> dict[str, float]:
        m = self.landing
        gated = set(m.gated())
        kept = set(info["deduped_ids"])
        dropped = gated - kept
        useful = dropped & (m.twins | m.near_dups)
        layout = read_table(f"{out}/packed")
        n_ctx = (max(layout["seq_last"].to_pylist()) + 1) if layout.num_rows else 0
        tokens = sum(layout["n_tokens"].to_pylist())
        return {
            "dedup.candidate_pairs": float(len(dropped)),
            "dedup.candidate_precision": len(useful) / len(dropped) if dropped else 0.0,
            "packing.fill": tokens / (n_ctx * gen.CTX_LEN) if n_ctx else 0.0,
        }


# --------------------------------------------------------------------------
# registered query suite


class QuerySuite:
    """A fixed list of registered queries over a generated fixture,
    results written as parquet."""

    name = "query_suite"

    def __init__(self, queries: tuple[str, ...], n_docs: int, n_vecs: int) -> None:
        self.queries = queries
        self.n_docs = n_docs
        self.n_vecs = n_vecs
        self.row_counts: dict[str, int] = {}

    def generate(self, root: str, seed: int) -> None:
        self.fixture = gen.write_query_fixture(
            root, seed, n_docs=self.n_docs, n_vecs=self.n_vecs
        )
        self.input_rows = self.fixture.documents + self.fixture.embeddings
        self.input_bytes = self.fixture.bytes
        self.row_counts = {}

    def run(self, spark, out: str, tr: Tracer) -> dict:
        from news_data_pipeline_spark.queries import query_map

        qmap = query_map()
        for name in self.queries:
            with tr.span("queries"):
                df = qmap[name](spark, self.fixture.root)
            with tr.span("operators"):
                df.write.mode("overwrite").parquet(f"{out}/{name}")
        return {}

    def check(self, out: str, info: dict) -> tuple[list[str], str]:
        fails: list[str] = []
        parts = []
        for name in self.queries:
            table = read_table(f"{out}/{name}")
            want = self.row_counts.setdefault(name, table.num_rows)
            _expect(fails, f"{name} rows", table.num_rows, want)
            if table.num_rows == 0:
                fails.append(f"{name}: empty result")
            parts.append(frame_digest(table))
        return fails, combine(*parts)

    def oracle_check(self, spark, root: str, seed: int) -> list[str]:
        """Each listed query against its DuckDB SQL twin, on a small
        fixture of the same shape."""
        import duckdb

        from news_data_pipeline_spark.queries import oracle_map, query_map

        fx = gen.write_query_fixture(
            root, seed, n_docs=max(self.n_docs // 8, 1000), n_vecs=max(self.n_vecs // 8, 500)
        )
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fx.root}/{t}.parquet'")
            fails = []
            qmap, omap = query_map(), oracle_map()
            for name in self.queries:
                got = _canon_rows(qmap[name](spark, fx.root).toPandas())
                want = _canon_rows(con.execute(omap[name]).fetchdf())
                if got != want:
                    fails.append(f"{name}: spark and its SQL twin disagree")
            return fails
        finally:
            con.close()

    def layer_notes(self, out: str, info: dict, by_layer: dict) -> dict[str, float]:
        return {}


def _canon_value(v):
    import datetime
    import math

    import numpy as np

    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(float(v)) else ("n", float(v))
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("n", float(v))
    if isinstance(v, (datetime.date, datetime.datetime)):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("l", tuple(_canon_value(x) for x in v))
    return ("s", str(v))


def _canon_rows(df) -> list:
    cols = sorted(df.columns)
    rows = [tuple(_canon_value(r[c]) for c in cols) for r in df.to_dict("records")]
    return [tuple(cols)] + sorted(rows, key=repr)
