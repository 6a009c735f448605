"""Product quantization: train / encode / ADC scoring.

Model-pins the PQ operator family on small hand-built vectors where the
right codebooks and assignments are computable by eye: with two
well-separated clusters per subspace, training must converge to the
cluster means and ADC distances must rank same-cluster neighbors first.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F

from news_data_pipeline_spark.operators.pq import (
    pq_adc_topk,
    pq_encode,
    pq_train,
)


def _vectors(spark, sub_dim=2):
    # 4-dim vectors = 2 subspaces x 2 dims. Two clusters per subspace:
    # ids 0/1 near (1,0 | 0,1), ids 2/3 near (0,5 | 5,0).
    rows = [
        (0, [1.0, 0.0, 0.0, 1.0]),
        (1, [1.2, 0.0, 0.0, 0.8]),
        (2, [0.0, 5.0, 5.0, 0.0]),
        (3, [0.0, 5.2, 4.8, 0.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_pq_train_converges_to_cluster_means(spark):
    # k=2 seeds are ids 0 and 1 — both in cluster A — so iteration 1
    # must pull one centroid to cluster B's mean (all B points assign
    # to whichever seed is nearer, then re-mean lands on the mean).
    cb = pq_train(
        _vectors(spark), m=2, k=2, sub_dim=2, iters=2
    )
    vals = {
        (r["sub"], r["cid"], r["j"]): r["value"] for r in cb.collect()
    }
    # After convergence each subspace has one centroid at each cluster
    # mean: sub 0 cluster means (1.1, 0) and (0, 5.1).
    by_centroid = {}
    for (sub, cid, j), v in vals.items():
        by_centroid.setdefault((sub, cid), {})[j] = v
    sub0 = sorted(
        (c[1], c[2]) for (s, _), c in by_centroid.items() if s == 0
    )
    assert sub0[0] == (0.0, 5.1)
    assert abs(sub0[1][0] - 1.1) < 1e-9 and sub0[1][1] == 0.0


def test_pq_encode_groups_clusters(spark):
    vecs = _vectors(spark)
    cb = pq_train(vecs, m=2, k=2, sub_dim=2, iters=2)
    codes = {
        (r["id"], r["sub"]): r["code"]
        for r in pq_encode(vecs, cb, sub_dim=2).collect()
    }
    # Same-cluster ids share codes in every subspace; cross-cluster differ.
    for sub in (0, 1):
        assert codes[(0, sub)] == codes[(1, sub)]
        assert codes[(2, sub)] == codes[(3, sub)]
        assert codes[(0, sub)] != codes[(2, sub)]


def test_pq_adc_ranks_same_cluster_first(spark):
    vecs = _vectors(spark)
    cb = pq_train(vecs, m=2, k=2, sub_dim=2, iters=2)
    codes = pq_encode(vecs, cb, sub_dim=2)
    out = pq_adc_topk(
        vecs.where("vec_id = 0"), codes, cb, sub_dim=2, k=3
    ).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 1  # same cluster
    assert set(ranked[1:]) == {2, 3}
    # ADC distance to the same-cluster neighbor equals the distance to
    # its own codebook cell (both quantize to the same codes): strictly
    # below any cross-cluster distance.
    dists = {r["neighbor_id"]: r["adc_dist"] for r in out}
    assert dists[1] < dists[2] and dists[1] < dists[3]


def test_pq_adc_excludes_self_and_is_sorted(spark):
    vecs = _vectors(spark)
    cb = pq_train(vecs, m=2, k=2, sub_dim=2, iters=1)
    codes = pq_encode(vecs, cb, sub_dim=2)
    out = pq_adc_topk(vecs, codes, cb, sub_dim=2, k=10).collect()
    for r in out:
        assert r["query_id"] != r["neighbor_id"]
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["adc_dist"]))
    for q, pairs in per_q.items():
        pairs.sort()
        assert [p[0] for p in pairs] == list(range(1, len(pairs) + 1))
        ds = [p[1] for p in pairs]
        assert ds == sorted(ds)


def test_pq_train_iters_guard(spark):
    try:
        pq_train(_vectors(spark), iters=0)
    except ValueError as e:
        assert "iters" in str(e)
    else:
        raise AssertionError("iters=0 must raise")


def test_pq_ivf_adc_matches_full_scan_on_probed_cells(spark):
    """IVF pruning must not change the SCORES, only the candidate set:
    every (query, neighbor) pair the composition emits carries exactly
    the adc_dist the full-scan baseline computes, and with nprobe =
    nlist (no pruning) the two operators agree pair-for-pair."""
    from news_data_pipeline_spark.operators.pq import pq_ivf_adc_topk

    vecs = _vectors(spark)
    cb = pq_train(vecs, m=2, k=2, sub_dim=2, iters=2)
    codes = pq_encode(vecs, cb, sub_dim=2)
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in pq_adc_topk(vecs, codes, cb, sub_dim=2, k=10).collect()
    }
    # nprobe == nlist: every cell probed -> identical result set
    pruned_all = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in pq_ivf_adc_topk(
            vecs, vecs, cb, sub_dim=2, k=10, nlist=2, nprobe=2
        ).collect()
    }
    assert pruned_all == full
    # nprobe < nlist: a subset of the full scan with identical scores
    pruned = pq_ivf_adc_topk(
        vecs, vecs, cb, sub_dim=2, k=10, nlist=2, nprobe=1
    ).collect()
    assert 0 < len(pruned) < len(full) + 1
    for r in pruned:
        assert full[(r["query_id"], r["neighbor_id"])] == r["adc_dist"]


def test_pq_ivf_stored_cells_path_matches_inline(spark):
    """The production layout (cell id stored WITH the code) must be a
    pure access-path change: identical (pair, score, rank) output to
    the inline-assignment path at every nprobe, while its plan prunes
    via a broadcast of the probed cells instead of shuffling the code
    table."""
    from news_data_pipeline_spark.operators.pq import pq_ivf_adc_topk
    from news_data_pipeline_spark.operators.similarity import _assign_cells

    vecs = _vectors(spark)
    cb = pq_train(vecs, m=2, k=2, sub_dim=2, iters=2)
    codes = pq_encode(vecs, cb, sub_dim=2)
    centroids = (
        vecs.orderBy("vec_id")
        .limit(2)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )
    cells = _assign_cells(
        vecs, centroids, "vec_id", "embedding", "neighbor_id", 1
    ).select("neighbor_id", "cid")
    codes_cid = codes.join(
        cells, codes.id == F.col("neighbor_id")
    ).select("id", "sub", "code", "cid")
    for nprobe in (1, 2):
        inline = sorted(
            map(
                tuple,
                pq_ivf_adc_topk(
                    vecs, vecs, cb, sub_dim=2, k=10, nlist=2,
                    nprobe=nprobe,
                ).collect(),
            )
        )
        stored = sorted(
            map(
                tuple,
                pq_ivf_adc_topk(
                    vecs, vecs, cb, sub_dim=2, k=10, nlist=2,
                    nprobe=nprobe, codes=codes_cid,
                    centroids=centroids,
                ).collect(),
            )
        )
        assert stored == inline
    plan = pq_ivf_adc_topk(
        vecs, vecs, cb, sub_dim=2, k=10, nlist=2, nprobe=1,
        codes=codes_cid, centroids=centroids,
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pq_ivf_adc_prunes_cross_cell_candidates(spark):
    """With nprobe=1 and the two clusters in separate cells, a query
    only scores its own cell's members — the cross-cluster pairs the
    full scan returns are absent, which is the pruning working."""
    from news_data_pipeline_spark.operators.pq import pq_ivf_adc_topk

    vecs = _vectors(spark)
    cb = pq_train(vecs, m=2, k=2, sub_dim=2, iters=2)
    # centroids injected at the cluster means so cells = clusters
    cents = spark.createDataFrame(
        [(0, [1.1, 0.0, 0.0, 0.9]), (1, [0.0, 5.1, 4.9, 0.0])],
        ["cid", "centroid"],
    )
    out = pq_ivf_adc_topk(
        vecs, vecs, cb, sub_dim=2, k=10, nlist=2, nprobe=1,
        centroids=cents,
    ).collect()
    pairs = {(r["query_id"], r["neighbor_id"]) for r in out}
    assert pairs == {(0, 1), (1, 0), (2, 3), (3, 2)}


def test_pq_ivf_rerank_orders_by_exact_cosine(spark):
    """The rerank stage must order by EXACT cosine, not ADC distance:
    ranks are contiguous from 1, similarities non-increasing, and every
    returned pair's cosine matches a direct computation."""
    import math

    from news_data_pipeline_spark.operators.pq import pq_ivf_rerank_topk

    vecs = _vectors(spark)
    cb = pq_train(vecs, m=2, k=2, sub_dim=2, iters=2)
    out = pq_ivf_rerank_topk(
        vecs, vecs, cb, sub_dim=2, k=3, rerank=4, nlist=2, nprobe=2
    ).collect()
    raw = {r["vec_id"]: r["embedding"] for r in _vectors(spark).collect()}

    def cosine(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    per_q = {}
    for r in out:
        assert r["query_id"] != r["neighbor_id"]
        assert r["cosine_sim"] == cosine(
            raw[r["query_id"]], raw[r["neighbor_id"]]
        )
        per_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["cosine_sim"])
        )
    for q, pairs in per_q.items():
        pairs.sort()
        assert [p[0] for p in pairs] == list(range(1, len(pairs) + 1))
        sims = [p[1] for p in pairs]
        assert sims == sorted(sims, reverse=True)


def test_codebook_cache_is_value_identical_and_keyed(spark, monkeypatch):
    # The train-once artifact must serve rows identical to a fresh
    # train, rebuild on the calling session (no cached DataFrame), and
    # key strictly by dataset directory.
    from news_data_pipeline_spark.queries import corpusops as co

    from news_data_pipeline_spark.sources.catalog import ArtifactCache

    sf_dir = "/root/testdata/sf0.001"
    # an empty cache, so the first call trains
    monkeypatch.setattr(co, "_PQ_CODEBOOK_ROWS", ArtifactCache("embeddings"))
    first = sorted(
        tuple(r) for r in co._pq_trained_codebooks(spark, sf_dir).collect()
    )
    assert co._PQ_CODEBOOK_ROWS.entries(sf_dir)

    calls = []
    orig = pq_train

    def counting_train(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    import news_data_pipeline_spark.operators.pq as pq_mod

    pq_mod.pq_train, saved = counting_train, pq_mod.pq_train
    try:
        cached = sorted(
            tuple(r)
            for r in co._pq_trained_codebooks(spark, sf_dir).collect()
        )
    finally:
        pq_mod.pq_train = saved
    assert calls == []  # cache hit: no retrain
    assert cached == first

    from news_data_pipeline_spark.sources.catalog import load_table

    fresh = sorted(
        tuple(r)
        for r in orig(
            load_table(spark, sf_dir, "embeddings"),
            m=4,
            k=16,
            sub_dim=16,
            iters=1,
        ).collect()
    )
    assert fresh == first


def test_pq_ivf_residual_exact_with_perfect_codebook(spark):
    """The residual identity that makes by_residual=true exact when the
    codebook can represent every residual: for a candidate in the
    probed cell, ||r_q - r_x|| = ||(q-c) - (x-c)|| = ||q - x||, so with
    n <= kcodes (every residual is its own codeword) the ADC distance
    equals the settled TRUE squared L2 — quantization error is exactly
    zero, which pins the whole residual pipeline (assign, subtract,
    train, encode, per-cell LUT) in one assertion."""
    import math

    from news_data_pipeline_spark.operators.pq import pq_ivf_residual_topk

    rows = [
        (0, [0.0, 0.0, 10.0, 0.0]),
        (1, [1.0, 0.0, 10.0, 0.5]),
        (2, [0.0, 9.0, 0.0, 1.0]),
        (3, [0.5, 9.5, 0.0, 1.5]),
        (4, [0.2, 0.3, 9.8, 0.1]),
        (5, [0.1, 9.2, 0.4, 1.2]),
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = pq_ivf_residual_topk(
        vecs, vecs, sub_dim=2, m=2, kcodes=6, iters=1,
        k=10, nlist=2, nprobe=2,
    ).collect()
    assert got, "no pairs returned"
    by_id = dict(rows)

    def settled(x, dp):
        return math.floor(x * 10**dp + 0.5) / 10**dp

    for r in got:
        q, x = by_id[r.query_id], by_id[r.neighbor_id]
        # the operator settles each subspace distance at 6dp then sums
        true = sum(
            settled(
                sum(
                    settled((a - b) * (a - b), 12)
                    for a, b in zip(q[s: s + 2], x[s: s + 2])
                ),
                6,
            )
            for s in (0, 2)
        )
        assert abs(r.adc_dist - true) < 1e-9, (
            r.query_id, r.neighbor_id, r.adc_dist, true,
        )
    # every (q, n) pair appears (nprobe = nlist -> no pruning), minus self
    assert len(got) == 6 * 5


def test_pq_ivf_residual_prunes_to_probed_cells(spark):
    """nprobe=1 restricts candidates to the query's own cell; the two
    well-separated clusters land in different cells, so cross-cluster
    pairs must be absent."""
    from news_data_pipeline_spark.operators.pq import pq_ivf_residual_topk

    # ids 0 and 1 seed the IVF centroids (first-nlist-by-id), so they
    # must come one from EACH cluster for the cells to separate
    rows = [
        (0, [0.0, 0.0, 10.0, 0.0]),
        (1, [0.0, 9.0, 0.0, 1.0]),
        (2, [1.0, 0.0, 10.0, 0.5]),
        (3, [0.5, 9.5, 0.0, 1.5]),
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = pq_ivf_residual_topk(
        vecs, vecs, sub_dim=2, m=2, kcodes=4, iters=1,
        k=10, nlist=2, nprobe=1,
    ).collect()
    pairs = {(r.query_id, r.neighbor_id) for r in got}
    same = {(0, 2), (2, 0), (1, 3), (3, 1)}
    assert pairs == same


def test_partitioned_cell_scan_prunes_partitions(spark, tmp_path):
    """The 100-TB IVF claim as a PLAN property (SCALE.md r8: the win is
    scan-level I/O pruning on cell-partitioned codes): with the code
    table written ``partition_by='cid'`` and the read filtered to the
    probed cells, Spark's partition pruning must keep the non-probed
    cell directories entirely unread — asserted both in the executed
    plan (PartitionFilters) and on the actual file set the scan opens
    (``input_file_name``)."""
    import pyspark.sql.functions as F

    from news_data_pipeline_spark.sources.writers import write_layer

    # 16 cells, a few code rows per cell
    rows = [
        (cid * 100 + i, sub, (cid + sub + i) % 16, cid)
        for cid in range(16)
        for i in range(3)
        for sub in range(4)
    ]
    codes = spark.createDataFrame(
        rows, "id bigint, sub int, code int, cid bigint"
    )
    path = str(tmp_path / "codes")
    write_layer(codes, path, partition_by="cid", mode="overwrite")

    probed = [1, 5, 7, 11]
    pruned = (
        spark.read.option("basePath", path)
        .parquet(path)
        .where(F.col("cid").isin(probed))
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cid" in plan.split("PartitionFilters", 1)[1][:200]
    # the scan's ACTUAL file set: only the 4 probed cell directories
    files = {
        r.f for r in pruned.select(F.input_file_name().alias("f")).collect()
    }
    cids_read = {
        int(part.split("=", 1)[1])
        for f in files
        for part in f.split("/")
        if part.startswith("cid=")
    }
    assert cids_read == set(probed)  # 4 of 16 partitions read
    # parity: the pruned read returns exactly the probed cells' rows
    assert pruned.count() == codes.where(F.col("cid").isin(probed)).count()


def test_maintain_pq_codes_streamed_equals_whole_corpus(spark, tmp_path):
    """Streamed residual-code maintenance under FROZEN (centroids,
    codebooks) == one whole-corpus pq_residual_encode, and the
    unwritten-path fallback of read_pq_codes declares the schema the
    written table carries."""
    import os

    import pyspark.sql.functions as F

    from news_data_pipeline_spark.operators.pq import (
        pq_residual_encode,
        pq_residuals,
        pq_train,
    )
    from news_data_pipeline_spark.streaming.sinks import (
        maintain_pq_codes,
        read_pq_codes,
    )

    rows = [
        (i, [float((i * 7 + d * 3) % 11) for d in range(4)])
        for i in range(12)
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cent = (
        vecs.orderBy("vec_id")
        .limit(2)
        .select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid")
        )
    )
    cb = pq_train(
        pq_residuals(vecs, cent), id_col="id", vec_col="rvec",
        m=2, k=4, sub_dim=2, iters=1,
    )
    want = sorted(
        map(tuple, pq_residual_encode(
            vecs, cent, cb, sub_dim=2
        ).collect())
    )

    landing = tmp_path / "landing"
    for i in range(3):
        vecs.where(F.col("vec_id") % 3 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(landing / f"f{i}"))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(landing / "*"))
    )
    q = maintain_pq_codes(
        stream, cent, cb,
        id_col="vec_id", vec_col="embedding", sub_dim=2,
        codes_path=str(tmp_path / "codes"),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination()
    merged = read_pq_codes(spark, str(tmp_path / "codes"))
    assert sorted(map(tuple, merged.collect())) == want
    # three batch partitions were written
    parts = sorted(
        d for d in os.listdir(tmp_path / "codes")
        if d.startswith("batch_id=")
    )
    assert parts == ["batch_id=0", "batch_id=1", "batch_id=2"]
    # empty-path fallback: same column names and types as the table
    empty = read_pq_codes(spark, str(tmp_path / "never"))
    assert [(f.name, f.dataType) for f in empty.schema.fields] == [
        (f.name, f.dataType) for f in merged.schema.fields
    ]


def _write_synth_embeddings(spark, sf_dir, seed_shift):
    # 40 deterministic 64-dim vectors; seed_shift mutates the content
    rows = [
        (
            i,
            [
                float(((i * 37 + j * 11 + seed_shift) % 97) - 48)
                for j in range(64)
            ],
        )
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{sf_dir}/embeddings.parquet"
    )


def test_frozen_artifact_caches_invalidate_on_dataset_mutation(
    spark, tmp_path
):
    """Round-11 ADVICE: cache keys carry a content fingerprint, so a
    dataset REGENERATED AT THE SAME PATH retrains instead of serving
    stale centroids/codebooks — for both driver-memory PQ artifact
    caches (plain PQ codebooks and the residual-PQ artifact that
    ``pq_ivf_residual_topk`` and ``streamed_pq_codes`` share)."""
    import os
    import time

    from news_data_pipeline_spark.queries import corpusops as co

    sf_dir = str(tmp_path / "sfx")
    os.makedirs(sf_dir)
    _write_synth_embeddings(spark, sf_dir, 0)

    cb1 = sorted(
        tuple(r) for r in co._pq_trained_codebooks(spark, sf_dir).collect()
    )
    pqr_c1, pqr_cb1 = co._pqr_frozen_artifacts(spark, sf_dir)
    pqr1 = (
        sorted(tuple(r) for r in pqr_c1.collect()),
        sorted(tuple(r) for r in pqr_cb1.collect()),
    )

    # regenerate the dataset at the SAME path with different content;
    # ensure the mtime_ns actually moves even on coarse filesystems
    time.sleep(0.05)
    _write_synth_embeddings(spark, sf_dir, 5)

    cb2 = sorted(
        tuple(r) for r in co._pq_trained_codebooks(spark, sf_dir).collect()
    )
    pqr_c2, pqr_cb2 = co._pqr_frozen_artifacts(spark, sf_dir)
    pqr2 = (
        sorted(tuple(r) for r in pqr_c2.collect()),
        sorted(tuple(r) for r in pqr_cb2.collect()),
    )

    assert cb2 != cb1  # retrained on the mutated content
    assert pqr2 != pqr1
    # and the evict-on-insert keeps exactly one live entry per path
    assert len(co._PQ_CODEBOOK_ROWS.entries(sf_dir)) == 1
    assert len(co._PQR_ARTIFACTS.entries(sf_dir)) == 1


def test_xmodal_index_invalidates_on_mutation_and_reaped_root(
    spark, tmp_path
):
    """The crossmodal frozen index re-builds when the documents table
    is regenerated at the same path AND when its session-temp parquet
    root is reaped by tmp cleanup (round-11 ADVICE)."""
    import os
    import shutil
    import time

    from news_data_pipeline_spark.queries import llmdata as ld

    sf_dir = str(tmp_path / "sfy")
    os.makedirs(sf_dir)

    def write_docs(texts):
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{sf_dir}/documents.parquet"
        )

    write_docs([f"alpha doc {i}" for i in range(20)])
    emb1, cent1, cb1, codes1 = ld._crossmodal_frozen_index(spark, sf_dir)
    first_codes = sorted(tuple(r) for r in codes1.collect())
    first_cb = sorted(tuple(r) for r in cb1.collect())
    (art,) = ld._XMODAL_INDEX.entries(sf_dir)
    art_root = art[0]

    # cache hit serves the same root without rebuilding
    _, _, _, codes_again = ld._crossmodal_frozen_index(spark, sf_dir)
    assert sorted(tuple(r) for r in codes_again.collect()) == first_codes

    # (a) reaped session-temp root: rebuild, not a failed read
    shutil.rmtree(art_root)
    emb_r, cent_r, cb_r, codes_r = ld._crossmodal_frozen_index(
        spark, sf_dir
    )
    assert sorted(tuple(r) for r in codes_r.collect()) == first_codes
    assert sorted(tuple(r) for r in cb_r.collect()) == first_cb
    (rebuilt,) = ld._XMODAL_INDEX.entries(sf_dir)

    # (b) dataset regenerated at the same path: artifacts change and
    # the stale root is deleted
    time.sleep(0.05)
    write_docs([f"omega text {i} differs" for i in range(24)])
    emb2, cent2, cb2, codes2 = ld._crossmodal_frozen_index(spark, sf_dir)
    second_codes = sorted(tuple(r) for r in codes2.collect())
    assert second_codes != first_codes
    assert len(ld._XMODAL_INDEX.entries(sf_dir)) == 1
    assert not os.path.exists(rebuilt[0])
