"""Reproduce the SCALE.md dedup probe: 100k duplicate-heavy docs.

Generates the corpus JVM-side (no driver transfer), then times
winnowing, SimHash, cluster-representative dedup, and (optionally,
``--pairs``) the quadratic-output pair enumeration for contrast.

    python tools/scale_probe.py [--docs 100000] [--pairs]

``--pq N1,N2,...`` runs the IVF x PQ crossover sweep instead: at each
synthetic corpus size (dim-64 vectors, codebooks trained once on a
fixed sample, corpus pre-encoded — the index-build steps a real system
amortizes at ingest), times the flat ADC scan vs IVF cell pruning with
the assignment pass inline vs IVF with pre-assigned cells. Results
feed SCALE.md "IVF x PQ crossover".

    python tools/scale_probe.py --pq 2000,10000,50000,200000
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402

from news_data_pipeline_spark.operators import dedup  # noqa: E402
from news_data_pipeline_spark.session import get_spark  # noqa: E402


def pq_sweep(spark, sizes: list[int]) -> None:
    """Measure where IVF cell pruning beats the flat ADC scan.

    Synthetic dim-64 vectors from a 16-cluster mixture (cluster center
    + deterministic per-coordinate jitter) so the IVF cells are
    non-degenerate. Codebooks train once on a fixed 2k sample and the
    corpus is encoded + persisted untimed at every size — those are
    index-BUILD costs a real system pays at ingest. Three timed arms
    per size, 5 queries each, k=10, m=4 subspaces, nprobe/nlist=4/16:

    - flat:        pq_adc_topk over all codes
    - ivf_inline:  pq_ivf_adc_topk assigning corpus cells in-query
    - ivf_stored:  pq_ivf_adc_topk with pre-assigned cells (the
                   production layout: cell stored with the code)
    """
    from news_data_pipeline_spark.operators import pq  # noqa: E402
    from news_data_pipeline_spark.operators.similarity import (  # noqa: E402
        _assign_cells,
        dot,
    )

    dim, nlist, nprobe, k = 64, 16, 4, 10
    # m = dim / sub_dim subspaces; ADC cost per candidate scales with
    # m, so PQ_SWEEP_SUBDIM=4 (m=16, the FAISS-typical setting) makes
    # scoring dominate the scan and is where pruning earns its keep
    sub_dim = int(os.environ.get("PQ_SWEEP_SUBDIM", "16"))

    def vectors(n: int):
        # cluster = id % 16; coord c = center(cluster, c) + jitter(id, c)
        cols = [
            (
                ((F.col("id") % nlist) * F.lit(17 + c) % 29).cast("double")
                + ((F.col("id") * F.lit(31 + c) % 97) / 97.0)
            )
            for c in range(dim)
        ]
        return spark.range(n).select(
            F.col("id").alias("vec_id"), F.array(*cols).alias("embedding")
        )

    train = vectors(2_000)
    codebooks = pq.pq_train(train, sub_dim=sub_dim).persist()
    codebooks.count()
    n_queries = int(os.environ.get("PQ_SWEEP_QUERIES", "5"))
    queries = vectors(200_000 + n_queries).where(
        F.col("vec_id") >= 200_000
    )

    def timed(name, thunk):
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            n = thunk().count()
            reps.append(time.perf_counter() - t0)
        reps.sort()
        print(
            f"  {name}: median {reps[1]:.2f}s "
            f"(min {reps[0]:.2f} max {reps[2]:.2f}, {n} rows)"
        )

    for n in sizes:
        corpus = vectors(n).persist()
        corpus.count()
        codes = pq.pq_encode(corpus, codebooks, sub_dim=sub_dim).persist()
        codes.count()
        centroids = (
            corpus.orderBy("vec_id")
            .limit(nlist)
            .select(
                F.col("vec_id").alias("cid"),
                F.col("embedding").cast("array<double>").alias("c_vec"),
            )
            .withColumn("c2", dot(F.col("c_vec"), F.col("c_vec")))
            .persist()
        )
        cells = _assign_cells(
            corpus, centroids, "vec_id", "embedding", "neighbor_id", 1
        ).select("neighbor_id", "cid").persist()
        cells.count()
        # production layout: cell id stored WITH the code (ingest-time
        # join, amortized) — lets the query plan prune via a broadcast
        # of the probed cells instead of shuffling the code table
        codes_cid = (
            codes.join(cells, codes.id == F.col("neighbor_id"))
            .select("id", "sub", "code", "cid")
            .persist()
        )
        codes_cid.count()
        print(f"corpus n={n}:")
        timed(
            "flat",
            lambda: pq.pq_adc_topk(
                queries, codes, codebooks, sub_dim=sub_dim, k=k
            ),
        )
        timed(
            "ivf_inline",
            lambda: pq.pq_ivf_adc_topk(
                queries, corpus, codebooks, sub_dim=sub_dim, k=k,
                nlist=nlist, nprobe=nprobe, codes=codes,
            ),
        )
        timed(
            "ivf_joincells",
            lambda: pq.pq_ivf_adc_topk(
                queries, corpus, codebooks, sub_dim=sub_dim, k=k,
                nlist=nlist, nprobe=nprobe, codes=codes,
                centroids=centroids.drop("c2"), cells=cells,
            ),
        )
        timed(
            "ivf_stored",
            lambda: pq.pq_ivf_adc_topk(
                queries, corpus, codebooks, sub_dim=sub_dim, k=k,
                nlist=nlist, nprobe=nprobe, codes=codes_cid,
                centroids=centroids.drop("c2"),
            ),
        )
        for frame in (codes_cid, cells, centroids, codes, corpus):
            frame.unpersist()


def dedup_sweep(spark, sizes: list[int]) -> None:
    """Measured SLOPES for the dedup family (SCALE.md round 9): run the
    linear-by-design operators at N, 10N, 100N and print wall-clock +
    output rows per size, so the table can state t(10N)/t(N) directly.

    Corpus model: ~40-word docs over a 50k-word vocabulary, each doc's
    words seeded by its own id EXCEPT every 20th doc, which repeats its
    predecessor — a 5% duplicate rate, the realistic web-crawl regime
    (the duplicate-heavy 500-way corpus in the default probe stresses
    OUTPUT size instead; this one isolates input-size scaling). The
    jaccard arm runs with the registered query's max_df=100 cap and
    reports its candidate-pair count — the postings-boundedness
    evidence (pairs track the duplicate count, not corpus^2).
    """
    for n_docs in sizes:
        seed = F.when(
            F.col("id") % 20 == 19, F.col("id") - 1
        ).otherwise(F.col("id"))
        # Murmur3 word index — a LINEAR map here aliases (gcd with the
        # vocab size makes distinct seeds collide wholesale)
        words = F.array(
            *[
                F.concat(
                    F.lit("w"),
                    F.pmod(F.hash(seed * 40 + F.lit(i)), F.lit(50_000))
                    .cast("string"),
                )
                for i in range(40)
            ]
        )
        docs = (
            spark.range(n_docs)
            .select(
                F.col("id").alias("doc_id"),
                F.concat_ws(" ", words).alias("text"),
            )
            .persist()
        )
        print(f"\n=== dedup sweep: {docs.count()} docs ===")

        def timed(name, thunk):
            t0 = time.perf_counter()
            n = thunk().count()
            print(f"{name}: {time.perf_counter() - t0:.1f}s, {n} rows")

        timed(
            "fingerprint_dedup",
            lambda: dedup.fingerprint_dedup(docs, "text", "doc_id"),
        )
        timed(
            "minhash_signatures",
            lambda: dedup.minhash_signatures(
                dedup.word_shingles(docs, "doc_id", "text")
            ),
        )
        timed(
            "lsh_dedup_representatives",
            lambda: dedup.lsh_dedup_representatives(docs, "doc_id", "text"),
        )
        timed(
            "span_dedup_stats",
            lambda: dedup.span_dedup_stats(docs, "doc_id", "text"),
        )
        timed("simhash", lambda: dedup.simhash(docs, "doc_id", "text"))
        timed(
            "ngram_jaccard_pairs(max_df=100)",
            lambda: dedup.ngram_jaccard_pairs(
                docs, "doc_id", "text", max_df=100
            ),
        )
        docs.unpersist()


def graph_sweep(spark, sizes: list[int]) -> None:
    """Measured SLOPES for the iterative graph family: nodes at N,
    10N, 100N (edges = 10 per node), timing pagerank (10 iters),
    connected_components (bounded-hop, checkpoint_every=2) and
    triangle_counts. Same synthetic generator as the default probe —
    modular-hash destinations, so components/ranks are non-trivial."""
    from news_data_pipeline_spark.operators import graph

    for n_nodes in sizes:
        dsts = F.array(
            *[
                (
                    (F.col("id") * F.lit(7 + 2 * k) + F.lit(k * k))
                    % n_nodes
                )
                for k in range(10)
            ]
        )
        edges = (
            spark.range(n_nodes)
            .select(F.col("id").alias("src"), F.explode(dsts).alias("dst"))
            .persist()
        )
        print(f"\n=== graph sweep: {edges.count()} edges, {n_nodes} nodes ===")

        def timed(name, thunk):
            t0 = time.perf_counter()
            n = thunk().count()
            print(f"{name}: {time.perf_counter() - t0:.1f}s, {n} rows")

        timed(
            "pagerank iters=10",
            lambda: graph.pagerank(edges, "src", "dst", iters=10),
        )
        timed(
            "connected_components max_iter=10",
            lambda: graph.connected_components(
                edges, "src", "dst", max_iter=10, checkpoint_every=2
            ),
        )
        timed(
            "triangle_counts",
            lambda: graph.triangle_counts(edges, "src", "dst"),
        )
        edges.unpersist()


def ingest_sweep(
    spark,
    batch_counts: list[int],
    methods: tuple = ("exact", "bloom", "bloom+compact"),
) -> None:
    """Continuous-ingestion dedup slope: total wall-clock of
    ``ingest_deduplicated`` (availableNow, one file per trigger) for
    growing batch counts, per method. 2k docs per batch, each batch
    carrying a 5% duplicate tail of the PREVIOUS batch — the probe
    every batch must win against the whole accepted corpus. The slope
    across batch counts is the evidence: exact anti-joins the full
    corpus per trigger (per-batch cost grows with corpus), bloom
    probes a constant-size bit table and anti-joins only the
    maybe-rows (per-batch cost ~flat)."""
    import shutil
    import tempfile

    from news_data_pipeline_spark.streaming import sinks as stx

    batch_docs = 2000
    for n_batches in batch_counts:
        # "bloom+compact" = method='bloom' with compact_after=8: the
        # round-10 sidecar/compaction path that keeps the per-trigger
        # partition listing and probe-read footer count O(1).
        # "bloom+compact:N" overrides the cadence (round-11 cadence
        # study: how often SHOULD production compact?).
        for method in methods:
            compact_after = None
            if method.startswith("bloom+compact"):
                compact_after = (
                    int(method.split(":", 1)[1]) if ":" in method else 8
                )
                if compact_after < 1:
                    raise ValueError(
                        f"ingest-sweep method {method!r}: compaction "
                        "cadence must be >= 1 trigger"
                    )
            root = tempfile.mkdtemp(prefix="ingest_sweep_")
            landing = os.path.join(root, "landing")
            for b in range(n_batches):
                base = b * batch_docs
                # dup rows repeat a BATCH-0 doc (same residue class, so
                # the target's own seed is itself): every batch b>=1
                # carries exactly 5% true duplicates of the accepted
                # corpus, the probe each trigger must catch
                seed = F.when(
                    (F.col("id") % 20 == 19) & (F.col("id") >= batch_docs),
                    F.col("id") % batch_docs,
                ).otherwise(F.col("id"))
                words = F.array(
                    *[
                        F.concat(
                            F.lit("w"),
                            F.pmod(
                                F.hash(seed * 40 + F.lit(i)), F.lit(50_000)
                            ).cast("string"),
                        )
                        for i in range(40)
                    ]
                )
                (
                    spark.range(base, base + batch_docs)
                    .select(
                        F.col("id").alias("doc_id"),
                        F.concat_ws(" ", words).alias("text"),
                    )
                    .coalesce(1)
                    .write.mode("overwrite")
                    .parquet(os.path.join(landing, f"b{b:03d}"))
                )
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(landing, "*"))
            )
            t0 = time.perf_counter()
            q = stx.ingest_deduplicated(
                stream,
                id_col="doc_id",
                text_col="text",
                corpus_path=os.path.join(root, "corpus"),
                checkpoint=os.path.join(root, "ckpt"),
                method="bloom" if compact_after is not None else method,
                available_now=True,
                compact_after=compact_after,
            )
            q.awaitTermination()
            dt = time.perf_counter() - t0
            n = spark.read.parquet(os.path.join(root, "corpus")).count()
            print(
                f"ingest {method}: {n_batches} batches x {batch_docs} docs"
                f" -> {dt:.1f}s total, {dt / n_batches:.2f}s/batch,"
                f" corpus {n} rows",
                flush=True,
            )
            shutil.rmtree(root, ignore_errors=True)


def crossmodal_sweep(spark, doc_counts: list[int]) -> None:
    """Frozen-index economics vs corpus size: for each synthetic corpus
    size, time (a) the one-time index BUILD (render + embed + train +
    encode + store — ``_build_xmodal_artifacts``) and (b) a warm
    RETRIEVAL against the stored artifacts (text tower + LUT +
    stored-cid ADC probe + exact rerank), vs (c) the in-plan-build
    query shape (``multimodal_crossmodal_topk``'s flow) that re-derives
    everything per run. The 100-TB claim under test: build cost is
    linear in the corpus and paid once; retrieval cost grows only with
    the probed cells + rerank set, so the frozen/in-plan gap widens
    with corpus size."""
    import shutil
    import statistics

    import pyspark.sql.functions as SF

    from news_data_pipeline_spark.operators import multimodal as mm
    from news_data_pipeline_spark.operators.pq import (
        pq_ivf_rerank_topk,
        pq_train,
    )
    from news_data_pipeline_spark.operators.fanout import fan_out
    from news_data_pipeline_spark.queries.llmdata import (
        _build_xmodal_artifacts,
    )

    def synth_docs(n):
        words = SF.array(
            *[
                SF.concat(
                    SF.lit("w"),
                    SF.pmod(
                        SF.hash(SF.col("id") * 17 + SF.lit(i)),
                        SF.lit(50_000),
                    ).cast("string"),
                )
                for i in range(24)
            ]
        )
        return spark.range(n).select(
            SF.col("id").alias("doc_id"),
            SF.concat_ws(" ", words).alias("text"),
        )

    def render(docs):
        def build(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "payload": [
                            mm.fake_image_bytes(
                                t or "", 4 + int(i) % 8, 4 + int(i) % 4
                            )
                            for i, t in zip(pdf["doc_id"], pdf["text"])
                        ],
                    }
                )

        return fan_out(docs).mapInPandas(
            build, "doc_id long, payload binary"
        )

    for n in doc_counts:
        docs = synth_docs(n)
        queries = mm.text_embeddings(
            docs.where(SF.col("doc_id") < 5)
            .withColumn("w", (SF.lit(4) + SF.col("doc_id") % 8).cast("int"))
            .withColumn("h", (SF.lit(4) + SF.col("doc_id") % 4).cast("int")),
            "doc_id",
            "text",
            "w",
            "h",
            dim=16,
        )
        # (a) one-time build
        t0 = time.perf_counter()
        root, cb_rows, cent_rows = _build_xmodal_artifacts(spark, docs)
        build_s = time.perf_counter() - t0
        corpus = spark.read.schema(
            "id long, embedding array<double>"
        ).parquet(os.path.join(root, "vectors"))
        codes = spark.read.schema(
            "id long, sub int, code int, cid bigint"
        ).parquet(os.path.join(root, "codes"))
        cb = spark.createDataFrame(
            cb_rows, "sub int, cid int, j int, value double"
        )
        centroids = spark.createDataFrame(
            cent_rows, "cid bigint, c_vec array<double>"
        )

        def frozen():
            return pq_ivf_rerank_topk(
                queries, corpus, cb, id_col="id", sub_dim=4, k=5,
                rerank=20, nlist=16, nprobe=4, centroids=centroids,
                codes=codes,
            ).collect()

        def inplan():
            emb = mm.image_embeddings(
                render(docs), "doc_id", "payload", dim=16
            ).localCheckpoint(eager=True)
            cbl = pq_train(emb, id_col="id", m=4, k=16, sub_dim=4, iters=1)
            cents = (
                mm.image_embeddings(
                    render(docs.where(SF.col("doc_id") < 16)),
                    "doc_id",
                    "payload",
                    dim=16,
                )
                .select(
                    SF.col("id").alias("cid"),
                    SF.col("embedding").cast("array<double>").alias(
                        "c_vec"
                    ),
                )
            )
            return pq_ivf_rerank_topk(
                queries, emb, cbl, id_col="id", sub_dim=4, k=5,
                rerank=20, nlist=16, nprobe=4, centroids=cents,
            ).collect()

        frozen()  # warm
        f_ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            f_rows = frozen()
            f_ts.append(time.perf_counter() - t0)
        inplan()  # warm
        p_ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            p_rows = inplan()
            p_ts.append(time.perf_counter() - t0)
        assert sorted(map(tuple, f_rows)) == sorted(map(tuple, p_rows))
        print(
            f"crossmodal n={n}: build {build_s:.1f}s,"
            f" frozen retrieval {statistics.median(f_ts):.2f}s,"
            f" in-plan {statistics.median(p_ts):.2f}s",
            flush=True,
        )
        shutil.rmtree(root, ignore_errors=True)


def headline_partitions_sweep(spark, partition_counts: list[int]) -> None:
    """Headline-suite wall-clock vs the initial shuffle-partition count
    (``spark.sql.shuffle.partitions`` with AQE coalescing ON — the
    engine default). The 100-TB-relevant property under test: with AQE
    enabled the initial count is a CEILING the runtime coalesces down
    from, so the suite should be broadly insensitive to it — nobody
    hand-tunes per query on a 1000-executor cluster. A strong
    sensitivity here would mean the engine's plans secretly depend on
    the local test harness's value (32). Uses bench.py's headline tier
    and noop-sink execution, one warm pass then two timed sweeps per
    setting, medians per query summed."""
    import importlib.util
    import statistics

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from news_data_pipeline_spark.queries import query_map

    qmap = query_map()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # restore whatever the session had (not a hard-coded 32), and do it
    # even if a sweep setting blows up mid-run (round-11 ADVICE)
    prior_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in partition_counts:
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            for name in bench.HEADLINE_QUERIES:  # warm pass
                bench.run_query(qmap[name], spark, sf_dir)
            reps = {name: [] for name in bench.HEADLINE_QUERIES}
            for _ in range(2):
                for name in bench.HEADLINE_QUERIES:
                    reps[name].append(
                        bench.run_query(qmap[name], spark, sf_dir)
                    )
            total = sum(statistics.median(ts) for ts in reps.values())
            worst = max(
                (statistics.median(ts), name) for name, ts in reps.items()
            )
            print(
                f"headline partitions={parts}: total {total:.2f}s"
                f" (worst {worst[1]} {worst[0]:.2f}s)",
                flush=True,
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior_parts)


def bucketed_sweep(spark, sizes: list[int]) -> None:
    """Bucketed co-located join vs plain sort-merge join at growing
    fact volume (SCALE.md "Storage layout") — the round-10 verdict
    asked for the same measurement discipline the other levers got.
    Per size: dim (n/4 keys) and fact (n rows, ~32B incompressible
    pad so the exchange moves real bytes) are written plain AND
    bucketed-by-key (32 buckets, write cost reported separately —
    the lever is write-once/read-many, so the join+agg read is the
    amortized cost); the consumer joins on the key and aggregates by
    segment with broadcast defeated so the sort-merge shape is
    visible. Exchange counts come from each executed plan."""
    import shutil
    import statistics
    import tempfile
    import uuid

    import pyspark.sql.functions as SF

    from news_data_pipeline_spark.sources.writers import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    db = f"bucketed_sweep_{uuid.uuid4().hex[:8]}"
    loc = tempfile.mkdtemp(prefix="bucketed_sweep_")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    try:
        for n in sizes:
            dim_n = max(n // 4, 1)
            dim = spark.range(dim_n).select(
                SF.col("id").alias("k"),
                SF.concat(
                    SF.lit("SEG"), (SF.col("id") % 5).cast("string")
                ).alias("seg"),
            )
            fact = spark.range(n).select(
                (SF.col("id") % dim_n).alias("k"),
                (SF.col("id") % 97).cast("double").alias("v"),
                SF.md5(SF.col("id").cast("string")).alias("pad"),
            )
            plain_root = tempfile.mkdtemp(prefix="bucketed_sweep_plain_")
            t0 = time.perf_counter()
            dim.write.mode("overwrite").parquet(f"{plain_root}/dim")
            fact.write.mode("overwrite").parquet(f"{plain_root}/fact")
            t_plain_write = time.perf_counter() - t0
            t0 = time.perf_counter()
            write_bucketed(
                dim, f"dim_{n}", bucket_by="k", num_buckets=32, database=db
            )
            write_bucketed(
                fact, f"fact_{n}", bucket_by="k", num_buckets=32,
                database=db,
            )
            t_bucket_write = time.perf_counter() - t0
            # third arm: bucketed AND sorted by the key — sort-merge can
            # skip the per-task sorts too when each bucket is one sorted
            # file (repartition before write so bucketBy+sortBy yields
            # exactly one file per bucket; multiple files per bucket
            # force Spark to re-sort)
            t0 = time.perf_counter()
            write_bucketed(
                dim.repartition(32, "k"), f"dims_{n}", bucket_by="k",
                num_buckets=32, sort_by="k", database=db,
            )
            write_bucketed(
                fact.repartition(32, "k"), f"facts_{n}", bucket_by="k",
                num_buckets=32, sort_by="k", database=db,
            )
            t_sorted_write = time.perf_counter() - t0

            def agg(d, f_):
                return (
                    d.join(f_, on="k")
                    .groupBy("seg")
                    .agg(
                        SF.count(SF.lit(1)).alias("cnt"),
                        SF.sum("v").alias("s"),
                        SF.max("pad").alias("p"),
                    )
                )

            arms = [
                (
                    "plain",
                    t_plain_write,
                    lambda: agg(
                        spark.read.parquet(f"{plain_root}/dim"),
                        spark.read.parquet(f"{plain_root}/fact"),
                    ),
                ),
                (
                    "bucketed",
                    t_bucket_write,
                    lambda: agg(
                        spark.table(f"{db}.dim_{n}"),
                        spark.table(f"{db}.fact_{n}"),
                    ),
                ),
                (
                    "bucketed+sorted",
                    t_sorted_write,
                    lambda: agg(
                        spark.table(f"{db}.dims_{n}"),
                        spark.table(f"{db}.facts_{n}"),
                    ),
                ),
            ]
            for tag, t_write, build in arms:
                build().collect()  # warm
                ts, exchanges, sorts = [], None, None
                for _ in range(3):
                    frame = build()
                    t0 = time.perf_counter()
                    frame.collect()
                    ts.append(time.perf_counter() - t0)
                    plan = (
                        frame._jdf.queryExecution()
                        .executedPlan()
                        .toString()
                    )
                    exchanges = plan.count("Exchange")
                    sorts = plan.count("+- Sort ") + plan.count(":- Sort ")
                print(
                    f"bucketed sweep n={n} {tag}: join+agg median"
                    f" {statistics.median(ts):.2f}s (min {min(ts):.2f}"
                    f" max {max(ts):.2f}) write {t_write:.1f}s"
                    f" exchanges={exchanges} sorts={sorts}",
                    flush=True,
                )
            # the db location is dropped via CASCADE below, but the
            # plain parquet copies would otherwise accumulate one
            # dim+fact pair per size for the whole probe run
            shutil.rmtree(plain_root, ignore_errors=True)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def skew_sweep(spark, rows: int) -> None:
    """Hot-key join A/B — measures the skew penalty, whether AQE's
    skew split engages (read from the EXECUTED Dataset's plan:
    ``.count()`` builds its own QueryExecution, so reading markers
    after count() inspects an unexecuted plan — the round-9 detection
    artifact this probe now guards against), and what the two
    mitigations buy. Left: ``rows`` facts with a ~96B INCOMPRESSIBLE
    payload (an 'xxx…' pad lz4-compresses to nothing and the skew
    detector reads compressed map sizes), 40% on key 0, rest uniform
    over 1000 keys; right: one row per key, broadcast defeated so the
    join plans sort-merge. The consumer carries the payload
    (``max(pad)``) — a consumer Catalyst can prune the payload out of
    measures a narrow join instead. Arms: uniform baseline; hot with
    skewJoin off/on; hot with a groupBy ON THE JOIN KEY (AQE
    suppresses the split rather than add a shuffle — marker-verified);
    hot through ``operators.joins.salted_join``.
    """
    import statistics

    import pyspark.sql.functions as SF

    from news_data_pipeline_spark.operators.joins import salted_join

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    right = spark.range(1000).select(
        SF.col("id").alias("k"), (SF.col("id") % 13).alias("w")
    )

    def left(hot: bool):
        key = (
            SF.when(SF.col("id") % 10 < 4, SF.lit(0))
            .otherwise(SF.col("id") % 1000)
            if hot
            else SF.col("id") % 1000
        )
        return spark.range(rows).select(
            key.alias("k"),
            (SF.col("id") % 97).alias("v"),
            SF.concat(
                SF.md5(SF.col("id").cast("string")),
                SF.md5((SF.col("id") + 1).cast("string")),
            ).alias("pad"),
        )

    def agg(joined):
        return joined.agg(
            SF.sum(SF.col("v") * SF.col("w")).alias("s"),
            SF.max("pad").alias("p"),
        )

    arms = [
        ("uniform skewOff", False,
         lambda: agg(left(False).join(right, on="k"))),
        ("hot skewOff", False,
         lambda: agg(left(True).join(right, on="k"))),
        ("hot skewOn", True,
         lambda: agg(left(True).join(right, on="k"))),
        ("hot skewOn groupBy-join-key", True,
         lambda: left(True).join(right, on="k").groupBy("k").agg(
             SF.sum(SF.col("v") * SF.col("w")).alias("s"),
             SF.max("pad").alias("p"))),
        ("hot salted32 skewOff", False,
         lambda: agg(salted_join(
             left(True), right, "k", salt_buckets=32))),
    ]
    # salt-cardinality contract check (operators.joins docstring): the
    # hot key must actually spread — a constant-payload hot key would
    # salt into one bucket and the arm would measure nothing
    from news_data_pipeline_spark.operators.joins import salt_spread

    spread = (
        salt_spread(left(True), "k", salt_buckets=32)
        .orderBy(SF.desc("rows"))
        .head(1)[0]
    )
    print(
        f"skew salt spread: hot key rows={spread['rows']}"
        f" distinct_salts={spread['distinct_salts']}/32",
        flush=True,
    )
    assert spread["distinct_salts"] >= 24, "hot key failed to spread"

    for _, skew, build in arms:  # warm pass
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled", str(skew).lower()
        )
        build().collect()
    for tag, skew, build in arms:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled", str(skew).lower()
        )
        ts, marker = [], None
        for _ in range(3):
            frame = build()
            t0 = time.perf_counter()
            frame.collect()
            ts.append(time.perf_counter() - t0)
            # marker MUST come from this executed Dataset's plan
            marker = (
                "skew=true"
                in frame._jdf.queryExecution().executedPlan().toString()
            )
        print(
            f"skew arm rows={rows} {tag}: median"
            f" {statistics.median(ts):.1f}s (min {min(ts):.1f} max"
            f" {max(ts):.1f}) skew-split={marker}",
            flush=True,
        )
    for c in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
    ):
        spark.conf.unset(c)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--pairs", action="store_true",
                    help="also run pair enumeration (quadratic output)")
    ap.add_argument("--pq", type=str, default=None,
                    help="comma-separated corpus sizes: run the IVF x PQ "
                         "crossover sweep instead of the dedup probe")
    ap.add_argument("--dedup-sweep", type=str, default=None,
                    help="comma-separated corpus sizes: run the dedup "
                         "slope sweep (5%% duplicate rate) instead")
    ap.add_argument("--graph-sweep", type=str, default=None,
                    help="comma-separated node counts: run the "
                         "iterative-graph slope sweep instead")
    ap.add_argument("--ingest-sweep", type=str, default=None,
                    help="comma-separated batch counts: run the "
                         "streaming ingest-dedup slope sweep instead")
    ap.add_argument("--ingest-methods", type=str,
                    default="exact,bloom,bloom+compact",
                    help="comma-separated subset of the ingest-sweep "
                         "methods (exact anti-joins the whole corpus "
                         "per trigger, so big batch counts may want "
                         "the bloom arms alone)")
    ap.add_argument("--skew", type=int, default=None,
                    help="fact-row count: run the AQE skew-join A/B "
                         "probe instead")
    ap.add_argument("--headline-partitions", type=str, default=None,
                    help="comma-separated shuffle-partition counts: run "
                         "the bench headline tier at each (AQE on) and "
                         "report total wall-clock sensitivity instead")
    ap.add_argument("--bucketed-sweep", type=str, default=None,
                    help="comma-separated fact-row counts: run the "
                         "bucketed-join vs plain sort-merge join sweep "
                         "(write cost reported separately) instead")
    ap.add_argument("--crossmodal-sweep", type=str, default=None,
                    help="comma-separated doc counts: time the frozen "
                         "crossmodal index build vs retrieval vs the "
                         "in-plan-build shape")
    args = ap.parse_args()

    spark = get_spark("scale_probe")
    if args.pq:
        pq_sweep(spark, [int(x) for x in args.pq.split(",")])
        spark.stop()
        return
    if args.dedup_sweep:
        dedup_sweep(spark, [int(x) for x in args.dedup_sweep.split(",")])
        spark.stop()
        return
    if args.graph_sweep:
        graph_sweep(spark, [int(x) for x in args.graph_sweep.split(",")])
        spark.stop()
        return
    if args.ingest_sweep:
        ingest_sweep(
            spark,
            [int(x) for x in args.ingest_sweep.split(",")],
            methods=tuple(args.ingest_methods.split(",")),
        )
        spark.stop()
        return
    if args.headline_partitions:
        headline_partitions_sweep(
            spark, [int(x) for x in args.headline_partitions.split(",")]
        )
        spark.stop()
        return
    if args.bucketed_sweep:
        bucketed_sweep(
            spark, [int(x) for x in args.bucketed_sweep.split(",")]
        )
        spark.stop()
        return
    if args.crossmodal_sweep:
        crossmodal_sweep(
            spark, [int(x) for x in args.crossmodal_sweep.split(",")]
        )
        spark.stop()
        return
    if args.skew:
        skew_sweep(spark, args.skew)
        spark.stop()
        return
    # ~40 words/doc from a 200-word vocabulary; doc ids repeat text every
    # 200 ids -> a 500-way-duplicated corpus at the default size, the
    # adversarial case for pair-based dedup.
    words = F.array(
        *[
            F.concat(
                F.lit("w"),
                ((F.col("id") * 37 + F.lit(i * 13)) % 200).cast("string"),
            )
            for i in range(40)
        ]
    )
    docs = (
        spark.range(args.docs)
        .select(F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text"))
        .persist()
    )
    print(f"corpus: {docs.count()} docs")

    def timed(name, df):
        # accepts a DataFrame or a thunk; thunks time CONSTRUCTION too,
        # which matters for operators whose checkpoint cadence executes
        # jobs eagerly while the plan is being built (pagerank)
        t0 = time.perf_counter()
        if callable(df):
            df = df()
        n = df.count()
        print(f"{name}: {time.perf_counter() - t0:.1f}s, {n} rows")

    timed("winnow_fingerprints", dedup.winnow_fingerprints(docs, "doc_id", "text"))
    timed("span_dedup_stats", dedup.span_dedup_stats(docs, "doc_id", "text"))
    timed(
        "sorted_neighborhood_pairs",
        dedup.sorted_neighborhood_pairs(docs, "doc_id", "text"),
    )
    timed("simhash", dedup.simhash(docs, "doc_id", "text"))
    timed(
        "lsh_dedup_representatives",
        dedup.lsh_dedup_representatives(docs, "doc_id", "text"),
    )
    if args.pairs:
        timed(
            "minhash_lsh_dedup_pairs (quadratic output — expect minutes)",
            dedup.minhash_lsh_dedup_pairs(docs, "doc_id", "text"),
        )

    # Iterative graph ops on a synthetic power-law-ish link graph:
    # ~10 out-edges per node, destinations clustered by a modular hash
    # so components/ranks are non-trivial. Times the per-hop cost and
    # exercises the checkpoint cadence at depth.
    from news_data_pipeline_spark.operators import graph  # noqa: E402

    n_nodes = args.docs
    dsts = F.array(
        *[
            ((F.col("id") * F.lit(7 + 2 * k) + F.lit(k * k)) % n_nodes)
            for k in range(10)
        ]
    )
    edges = (
        spark.range(n_nodes)
        .select(F.col("id").alias("src"), F.explode(dsts).alias("dst"))
        .persist()
    )
    print(f"graph: {edges.count()} edges over {n_nodes} nodes")
    timed(
        "pagerank iters=10 (checkpoint_every=1)",
        lambda: graph.pagerank(edges, "src", "dst", iters=10),
    )
    timed(
        "connected_components max_iter=10 (checkpoint_every=2)",
        lambda: graph.connected_components(
            edges, "src", "dst", max_iter=10, checkpoint_every=2
        ),
    )
    edges.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
