"""Join operators + similarity search."""

from __future__ import annotations

import random

import pyspark.sql.functions as F
import pytest

from news_data_pipeline_spark.operators import joins, similarity


def test_semi_anti_partition(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b2"), (3, "c")], ["k", "v"]
    )
    keys = spark.createDataFrame([(2,), (3,), (3,)], ["k"])  # dup key in set
    valid, invalid = joins.partition_valid_invalid(df, keys, on="k")
    # semi preserves df multiplicity exactly — duplicate keys in the key
    # set must NOT multiply rows (the reference's inner-join hazard)
    assert sorted(r["v"] for r in invalid.collect()) == ["b", "b2", "c"]
    assert sorted(r["v"] for r in valid.collect()) == ["a"]
    assert valid.count() + invalid.count() == df.count()


def test_salted_join_set_parity_two_keys(spark):
    # distinct from test_salted_join_matches_plain_join below, which was
    # shadowing this module-level name and silently disabling this test
    big = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ("hot", "cold")], ["k", "i"]
    )
    small = spark.createDataFrame([("hot", "H"), ("cold", "C")], ["k", "tag"])
    plain = {(r["k"], r["i"], r["tag"]) for r in big.join(small, "k").collect()}
    salted = {
        (r["k"], r["i"], r["tag"])
        for r in joins.salted_join(big, small, "k", salt_buckets=4).collect()
    }
    assert salted == plain


def vectors(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),   # closest to 1
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),  # opposite of 1
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_topk_exact(spark):
    vecs = vectors(spark)
    out = similarity.cosine_topk(vecs, vecs.where("vec_id = 1"), k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [2, 3]
    assert rows[0]["cosine_sim"] > 0.99
    assert rows[1]["cosine_sim"] == 0.0


def test_signbucket_separates_opposite_vectors(spark):
    vecs = vectors(spark)
    out = similarity.signbucket_topk(vecs, vecs.where("vec_id = 1"), k=3, m=3)
    neighbors = {r["neighbor_id"] for r in out.collect()}
    assert 2 in neighbors       # same orthant — candidate
    assert 4 not in neighbors   # opposite sign bucket — pruned by LSH


def test_dim_join_broadcasts(spark):
    fact = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "k"])
    dim = spark.createDataFrame([("a", "A")], ["k", "name"])
    out = joins.dim_join(fact, dim, on="k")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert "Broadcast" in buf.getvalue()
    assert out.count() == 1


def test_asof_join_backward_inclusive(spark):
    import datetime

    def t(m):
        return datetime.datetime(2024, 1, 1, 0, m)

    trades = spark.createDataFrame(
        [("A", t(5), 100), ("A", t(10), 200), ("B", t(7), 300), ("C", t(1), 400)],
        "sym string, trade_ts timestamp, qty long",
    )
    quotes = spark.createDataFrame(
        [("A", t(4), 9.0), ("A", t(10), 11.0), ("B", t(6), 20.0), ("B", t(8), 21.0)],
        "sym string, quote_ts timestamp, price double",
    )
    out = joins.asof_join(
        trades, quotes, on="sym", left_ts="trade_ts", right_ts="quote_ts",
        right_cols=["price"],
    )
    got = {(r["sym"], r["qty"]): r["price"] for r in out.collect()}
    assert got == {
        ("A", 100): 9.0,    # latest quote at/before 0:05 is 0:04
        ("A", 200): 11.0,   # equal timestamp matches (inclusive)
        ("B", 300): 20.0,   # 0:06 quote, not the later 0:08 one
        ("C", 400): None,   # no quote for C at all
    }
    assert out.count() == trades.count()  # every left row survives


def test_range_join_matches_naive(spark):
    left = spark.createDataFrame(
        [(i, float(i * 7 % 100)) for i in range(60)], ["id", "v"]
    )
    right = spark.createDataFrame(
        [(0.0, 25.0, "low"), (25.0, 50.0, "mid"), (50.0, 100.0, "high"),
         (40.0, 60.0, "overlap")],
        ["lo", "hi", "band"],
    )
    got = {
        (r["id"], r["band"])
        for r in joins.range_join(
            left, right, left_value="v", right_lo="lo", right_hi="hi",
            bucket_width=10.0,
        ).collect()
    }
    naive = {
        (r["id"], r["band"])
        for r in left.join(
            right, (left.v >= right.lo) & (left.v < right.hi)
        ).collect()
    }
    assert got == naive and len(got) > 60  # overlap band double-matches


def test_asof_join_fills_whole_right_row_atomically(spark):
    # A right row with a legitimately-NULL column must not be stitched
    # with values from an older right row.
    import datetime

    def t(m):
        return datetime.datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame([("A", t(3), 1)], "k string, ts timestamp, n long")
    right = spark.createDataFrame(
        [("A", t(1), 5, 6), ("A", t(2), None, 7)],
        "k string, rts timestamp, a long, b long",
    )
    out = joins.asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts", right_cols=["a", "b"]
    ).first()
    # latest right row is (a=NULL, b=7) — a must be NULL, not 5
    assert out["a"] is None and out["b"] == 7


def test_range_join_left_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, 5.0), (2, 999.0)], ["id", "v"])
    right = spark.createDataFrame([(0.0, 10.0, "low")], ["lo", "hi", "band"])
    out = joins.range_join(
        left, right, left_value="v", right_lo="lo", right_hi="hi",
        bucket_width=10.0, how="left",
    )
    rows = {r["id"]: r["band"] for r in out.collect()}
    assert rows == {1: "low", 2: None}  # unmatched left row survives

    import pytest as _pytest
    with _pytest.raises(ValueError):
        joins.range_join(
            left, right, left_value="v", right_lo="lo", right_hi="hi",
            bucket_width=10.0, how="full",
        )


def test_signbucket_short_vectors_dont_fail(spark):
    vecs = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0]), (3, [1.0])],  # shorter than m
        ["vec_id", "embedding"],
    )
    out = similarity.signbucket_topk(vecs, vecs.where("vec_id = 1"), k=2, m=8)
    assert {r["neighbor_id"] for r in out.collect()} == {2}  # no ANSI error


def test_ivf_topk_structure_and_recall(spark):
    import random

    rng = random.Random(7)
    vecs = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        ["vec_id", "embedding"],
    )
    q = vecs.where("vec_id < 3")
    exact = similarity.cosine_topk(vecs, q, k=3)
    approx = similarity.ivf_topk(vecs, q, k=3, nlist=8, nprobe=8)
    # nprobe == nlist probes every cell -> recall must be 1.0
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert a == e
    # each query has at most k ranked neighbors, ranks contiguous from 1
    per_q = {}
    for r in approx.collect():
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


def test_zero_norm_vectors_dont_crash(spark):
    # ANSI mode would raise DIVIDE_BY_ZERO without the nullif guard;
    # zero vectors score null and drop out instead.
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    out = similarity.cosine_topk(vecs, vecs.where("vec_id = 1"), k=5)
    assert {r["neighbor_id"] for r in out.collect()} == {2}
    q0 = similarity.cosine_topk(vecs, vecs.where("vec_id = 3"), k=5)
    assert q0.count() == 0  # zero-norm query matches nothing, no crash


def test_asof_ignores_null_right_timestamps(spark):
    import datetime

    t = datetime.datetime(2024, 1, 1, 0, 30)
    left = spark.createDataFrame([("A", t, 1)], "k string, ts timestamp, n long")
    right = spark.createDataFrame(
        [("A", None, 999)], "k string, rts timestamp, payload long"
    )
    out = joins.asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts", right_cols=["payload"]
    ).first()
    assert out["payload"] is None  # null-ts right row is not a match


def test_asof_join_rejects_reserved_and_colliding_names(spark):
    import pytest

    left = spark.createDataFrame([(1, 10, "L")], ["k", "t", "val"])
    right = spark.createDataFrame([(1, 5, "R")], ["k", "rt", "price"])
    bad_left = left.withColumnRenamed("val", "__ts")
    with pytest.raises(ValueError, match="reserves internal column names"):
        joins.asof_join(
            bad_left, right, on="k", left_ts="t", right_ts="rt",
            right_cols=["price"],
        )
    # right payload column named like a left column -> duplicate output
    clash_right = right.withColumnRenamed("price", "val")
    with pytest.raises(ValueError, match="collide with left columns"):
        joins.asof_join(
            left, clash_right, on="k", left_ts="t", right_ts="rt",
            right_cols=["val"],
        )


def test_kmeans_iterate_moves_centroids_to_cluster_means(spark):
    import pytest

    from news_data_pipeline_spark.operators.similarity import kmeans_iterate

    # two tight clusters around (0,0) and (10,10); seeds off-center
    vecs = [
        (1, [0.0, 0.2]), (2, [0.2, 0.0]), (3, [-0.2, 0.0]),
        (4, [10.0, 10.2]), (5, [10.2, 10.0]), (6, [9.8, 10.0]),
    ]
    corpus = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    seeds = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [9.0, 9.0])], ["cid", "centroid"]
    )
    out = {r["cid"]: r["centroid"] for r in
           kmeans_iterate(corpus, seeds, iters=1).collect()}
    assert out[0] == [0.0, pytest.approx(0.066667, abs=1e-6)]
    assert out[1] == [10.0, pytest.approx(10.066667, abs=1e-6)]


def test_kmeans_iterate_keeps_empty_cells(spark):
    from news_data_pipeline_spark.operators.similarity import kmeans_iterate

    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.1, 0.1])], ["vec_id", "embedding"]
    )
    # second seed is far away — it captures nothing and must survive
    seeds = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [100.0, 100.0])], ["cid", "centroid"]
    )
    out = {r["cid"]: r["centroid"] for r in
           kmeans_iterate(corpus, seeds, iters=2).collect()}
    assert out[1] == [100.0, 100.0]          # empty cell: unchanged
    assert out[0] == [0.05, 0.05]            # converged to the mean


@pytest.mark.parametrize(
    "search", ["ivf_topk", "semantic_dedup_pairs", "pq_ivf_adc_topk"]
)
def test_centroids_take_kmeans_output(spark, search):
    """One centroid contract: every ``centroids=`` of the ANN family
    takes ``kmeans_iterate``'s (cid, centroid) output. Zero Lloyd
    iterations return the seeds, the first nlist vectors by id, so the
    injected frame reproduces the default; a trained frame runs; a
    frame without (cid, centroid) raises ValueError."""
    from news_data_pipeline_spark.operators.pq import pq_ivf_adc_topk, pq_train
    from news_data_pipeline_spark.operators.similarity import kmeans_iterate

    rng = random.Random(3)
    vecs = spark.createDataFrame(
        [(i, [float(rng.randint(-4, 4)) for _ in range(4)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    queries = vecs.where("vec_id < 4")
    cb = pq_train(vecs, m=2, k=2, sub_dim=2, iters=1)
    run = {
        "ivf_topk": lambda c: similarity.ivf_topk(
            vecs, queries, k=3, nlist=4, nprobe=2, centroids=c
        ),
        "semantic_dedup_pairs": lambda c: similarity.semantic_dedup_pairs(
            vecs, threshold=0.5, nlist=4, centroids=c
        ),
        "pq_ivf_adc_topk": lambda c: pq_ivf_adc_topk(
            queries, vecs, cb, sub_dim=2, k=3, nlist=4, nprobe=2, centroids=c
        ),
    }[search]
    seeds = vecs.where("vec_id < 4").select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid")
    )

    def rows(c):
        return sorted(map(tuple, run(c).collect()))

    assert rows(kmeans_iterate(vecs, seeds, iters=0)) == rows(None)
    assert rows(kmeans_iterate(vecs, seeds, iters=1))
    with pytest.raises(ValueError, match="'cid', 'centroid'"):
        run(seeds.select(F.col("cid").alias("id"), F.col("centroid").alias("v")))


def test_cosine_topk_arrow_matches_jvm_path(spark):
    """The BLAS mapInPandas scorer must equal the codegen fold exactly
    on exactly-representable vectors (integer components: every dot
    product and norm is exact in float64 regardless of summation
    order), including tie-breaks, self-exclusion, the drop of zero-norm
    and NULL vectors, and queries of several lengths, each scored only
    against corpus vectors of its own length."""
    rng = random.Random(7)
    rows = [
        (i, [float(rng.randint(-4, 4)) for _ in range(8)]) for i in range(120)
    ]
    rows.append((120, [0.0] * 8))  # zero-norm corpus vector: dropped
    rows.append((121, None))  # NULL corpus vector: dropped
    rows.append((122, [1.0] * 9))  # no query of this length: dropped
    rows += [(123, [1.0, 2.0]), (124, [2.0, 1.0]), (125, [3.0, 0.0])]
    rows += [(126, [1.0, 0.0, 1.0]), (127, [0.0, 1.0, 1.0]), (128, [1.0, 1.0, 0.0])]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # 8-, 2- and 3-component queries, and a zero-norm one
    queries = vecs.where("vec_id IN (3, 7, 120, 123, 126)")
    jvm = similarity.cosine_topk(vecs, queries, k=4).collect()
    arrow = similarity.cosine_topk_arrow(vecs, queries, k=4).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(jvm, key=key) == sorted(arrow, key=key)
    assert {r["query_id"] for r in arrow} == {3, 7, 123, 126}  # zero-norm gone
    assert {r["neighbor_id"] for r in arrow if r["query_id"] == 123} == {124, 125}


def test_cosine_topk_arrow_empty_queries(spark):
    vecs = vectors(spark)
    out = similarity.cosine_topk_arrow(vecs, vecs.where("vec_id = 99"), k=2)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cosine_sim", "rank"]


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from news_data_pipeline_spark.operators.similarity import (
        embedding_covariance,
    )

    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 4)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(df).collect()
    }
    C = np.cov(X, rowvar=False, bias=True)  # population normalization
    assert len(got) == 16
    for i in range(4):
        for j in range(4):
            assert abs(got[(i, j)] - C[i, j]) < 1e-6, (i, j)
    # symmetric and never -0.0 (canonicalizers sort the two zeros apart)
    for (i, j), v in got.items():
        assert got[(j, i)] == v
        assert not (v == 0.0 and np.signbit(v))


def test_pca_project_matches_numpy_model(spark):
    """Same covariance-eig-project pipeline in numpy (with the
    operator's 6dp covariance rounding and sign convention) must agree
    with the distributed projection."""
    import numpy as np

    from news_data_pipeline_spark.operators.similarity import pca_project

    rng = np.random.default_rng(11)
    # anisotropic data so components are well separated
    X = rng.normal(size=(60, 5)) @ np.diag([5.0, 2.0, 1.0, 0.5, 0.1])
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: list(r["pc"]) for r in pca_project(df, k=2).collect()
    }

    C = np.round(np.cov(X, rowvar=False, bias=True), 6)
    vals, vecs = np.linalg.eigh((C + C.T) / 2.0)
    order = np.argsort(vals)[::-1][:2]
    W = vecs[:, order]
    flip = np.sign(W[np.abs(W).argmax(axis=0), np.arange(2)])
    W = W * flip
    P = (X - X.mean(axis=0)) @ W
    for i in range(60):
        for c in range(2):
            assert abs(got[i][c] - P[i, c]) < 1e-3, (i, c)
    # explained variance must be ordered
    P_all = np.array([got[i] for i in range(60)])
    assert P_all[:, 0].var() >= P_all[:, 1].var()


def test_pca_project_validates(spark):
    import pytest

    from news_data_pipeline_spark.operators.similarity import pca_project

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [2.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="k must be"):
        pca_project(df, k=0)
    with pytest.raises(ValueError, match="exceeds dimensionality"):
        pca_project(df, k=5)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-null"):
        pca_project(empty, k=1)


def test_semantic_dedup_pairs_finds_in_cell_twins(spark):
    # centroids = first 2 vectors by id: (1,0,...) and (0,1,...).
    # 10/11 are near-copies of centroid 1's direction; 20 is near
    # centroid 2; 30 sits diagonally (assigned somewhere, but nothing
    # in its cell is close enough).
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (10, [0.9, 0.1, 0.0]),
        (11, [0.92, 0.08, 0.0]),
        (20, [0.1, 0.9, 0.0]),
        (30, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.semantic_dedup_pairs(df, threshold=0.95, nlist=2)
    pairs = {(r["id_a"], r["id_b"]): r["cosine_sim"] for r in out.collect()}
    assert (10, 11) in pairs and pairs[(10, 11)] > 0.99
    assert (1, 10) in pairs  # near-copy of its own centroid
    assert (2, 20) in pairs  # in-cell twin in the other cell
    # no pair ever crosses cells: {1,10,11} x {2,20} is never scored
    cell1, cell2 = {1, 10, 11}, {2, 20}
    assert not any(
        (a in cell1) != (b in cell1) for a, b in pairs if {a, b} <= cell1 | cell2
    )
    assert not any(30 in p for p in pairs)  # nothing close in its cell


def test_semantic_dedup_pairs_composes_with_components(spark):
    from news_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [0.99, 0.01]),
        (4, [0.98, 0.02]),
        (5, [0.01, 0.99]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = similarity.semantic_dedup_pairs(df, threshold=0.9, nlist=2)
    labels = {
        r["vec_id"]: r["component"]
        for r in connected_components(
            pairs, "id_a", "id_b", nodes=df, node_col="vec_id", max_iter=3
        ).collect()
    }
    assert labels[1] == labels[3] == labels[4] == 1
    assert labels[2] == labels[5] == 2


def test_pca_project_rejects_ragged_vectors(spark):
    import pytest
    from news_data_pipeline_spark.operators.similarity import pca_project

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [4.0, 5.0, 6.0]), (3, [7.0, 8.0])],
        "vec_id bigint, embedding array<double>",
    )
    with pytest.raises(ValueError, match="inconsistent dimensionality"):
        pca_project(df, k=1)


def test_skew_report_rejects_reserved_key_names(spark):
    import pytest
    from news_data_pipeline_spark.operators.ranking import skew_report

    df = spark.createDataFrame([(1, 2)], ["n_rows", "ok"])
    with pytest.raises(ValueError, match="reserves column names"):
        skew_report(df, "n_rows")


def test_hard_negatives_band_and_conventions(spark):
    """Band filtering on the ROUNDED cosine, self-pair exclusion, and
    cosine_topk's tie-break carry over; neighbors above hi (near-dup
    zone) and below lo (uninformative) are both excluded."""
    from news_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        hard_negatives,
    )

    rows = [
        (0, [1.0, 0.0]),       # query
        (1, [1.0, 0.001]),     # ~1.0: near-dup, above hi
        (2, [1.0, 0.5]),       # ~0.894: inside [0.5, 0.95)
        (3, [1.0, 1.0]),       # ~0.707: inside
        (4, [-1.0, 0.0]),      # -1.0: below lo
        (5, [0.0, 1.0]),       # 0.0: below lo
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.where(F.col("vec_id") == 0)
    got = hard_negatives(emb, q, lo=0.5, hi=0.95, k=5).collect()
    assert [(r.neighbor_id, r.rank) for r in got] == [(2, 1), (3, 2)]
    # scores equal the exact cosine_topk scores for the same pairs
    full = {
        r.neighbor_id: r.cosine_sim
        for r in cosine_topk(emb, q, k=10).collect()
    }
    for r in got:
        assert r.cosine_sim == full[r.neighbor_id]
        assert 0.5 <= r.cosine_sim < 0.95


def test_multitable_signbucket_amplifies_single_table(spark):
    """OR-amplification contract: table 0 of the multi-table family IS
    the single-table bucket (components [0, m)), so every single-table
    candidate pair survives and recall can only go up; extra tables
    admit pairs whose first-m signs differ but later-window signs
    agree. Short vectors (< tables*m dims) degrade to '0' bits, never
    fail."""
    import pyspark.sql.functions as F

    from news_data_pipeline_spark.operators.similarity import signbucket_topk

    rows = [
        # 8-dim vectors; ids 0/1 agree in signs of dims 0-3 only, so
        # with m=4 they share table-0 buckets; ids 0/2 agree ONLY in
        # dims 4-7 (table 1) — invisible to the single table
        (0, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (1, [2.0, 1.0, 3.0, 1.0, -1.0, -2.0, -1.0, -1.0]),
        (2, [-1.0, -1.0, -1.0, -1.0, 2.0, 1.0, 1.0, 3.0]),
    ]
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = vecs.where(F.col("vec_id") == 0)
    single = {
        (r.query_id, r.neighbor_id)
        for r in signbucket_topk(vecs, qs, k=5, m=4).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in signbucket_topk(vecs, qs, k=5, m=4, tables=2).collect()
    }
    assert single == {(0, 1)}
    assert multi == {(0, 1), (0, 2)}  # table 1 recovers the miss
    assert single <= multi
    # a pair colliding in BOTH tables appears once (distinct dedup)
    both = spark.createDataFrame(
        [(0, [1.0] * 8), (9, [1.0] * 8)], ["vec_id", "embedding"]
    )
    out = signbucket_topk(
        both, both.where(F.col("vec_id") == 0), k=5, m=4, tables=2
    ).collect()
    assert [(r.query_id, r.neighbor_id, r.rank) for r in out] == [(0, 9, 1)]
    # vectors shorter than tables*m: '0'-bit degrade, no failure
    short = spark.createDataFrame(
        [(0, [1.0, -1.0]), (1, [1.0, -1.0])], ["vec_id", "embedding"]
    )
    got = signbucket_topk(
        short, short.where(F.col("vec_id") == 0), k=5, m=4, tables=2
    ).collect()
    assert [(r.query_id, r.neighbor_id) for r in got] == [(0, 1)]


def test_salted_join_matches_plain_join(spark):
    """salted_join == plain equi-join row-for-row (inner and left,
    null keys included on the left arm), with the salt column gone
    from the output; unsupported hows and the reserved column fail
    loudly."""
    import pytest

    from news_data_pipeline_spark.operators.joins import salted_join

    big = spark.createDataFrame(
        [(k, v) for k in (0, 0, 0, 1, 2, 7) for v in range(5)],
        "k int, v int",
    )
    small = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (3, "d")], "k int, w string"
    )
    for how in ("inner", "left"):
        want = sorted(
            map(tuple, big.join(small, on="k", how=how).collect())
        )
        got = sorted(
            map(
                tuple,
                salted_join(big, small, "k", salt_buckets=4, how=how).collect(),
            )
        )
        assert got == want, how
    out = salted_join(big, small, "k", salt_buckets=4)
    assert "__salt" not in out.columns
    # multiplicity under duplicate small-side keys survives salting
    dup_small = small.union(small.where("k = 0"))
    assert (
        salted_join(big, dup_small, "k", salt_buckets=3).count()
        == big.join(dup_small, on="k").count()
    )
    with pytest.raises(ValueError, match="inner"):
        salted_join(big, small, "k", how="full")
    with pytest.raises(ValueError, match="salt_buckets"):
        salted_join(big, small, "k", salt_buckets=0)
    with pytest.raises(ValueError, match="__salt"):
        salted_join(big.withColumn("__salt", big.v), small, "k")
    # key-only big frame: salt degenerates to the key, still correct
    key_only = big.select("k")
    assert (
        sorted(map(tuple, salted_join(key_only, small, "k").collect()))
        == sorted(map(tuple, key_only.join(small, on="k").collect()))
    )


def test_salt_spread_diagnostic(spark):
    """salt_spread surfaces the salt-cardinality contract: a hot key
    with per-key-varying salt columns spreads over many buckets; a hot
    key whose payload is CONSTANT within the key reports
    distinct_salts == 1 — the zero-mitigation case the salted_join
    docstring warns about (ADVICE r9)."""
    import pyspark.sql.functions as F

    from news_data_pipeline_spark.operators.joins import salt_spread

    varying = spark.range(400).select(
        F.lit(0).alias("k"), F.col("id").alias("v")
    )
    row = (
        salt_spread(varying, "k", salt_buckets=8)
        .collect()[0]
    )
    assert row["rows"] == 400
    assert row["distinct_salts"] == 8

    constant = spark.range(400).select(
        F.lit(0).alias("k"), F.lit(99).alias("v")
    )
    row = salt_spread(constant, "k", salt_buckets=8).collect()[0]
    assert row["distinct_salts"] == 1
    # key-only frame: degenerate salt_from=keys fallback spreads nothing
    keyonly = spark.range(400).select(F.lit(0).alias("k"))
    row = salt_spread(keyonly, "k", salt_buckets=8).collect()[0]
    assert row["distinct_salts"] == 1


def test_interval_join_bucketed_matches_naive(spark):
    """Non-default window (2 minutes), both timestamp types, and a
    naive residual join as the ground truth — seeded spread with ties,
    boundary hits, and keys present on one side only."""
    import datetime

    def t(s):
        return datetime.datetime(2024, 1, 1, 0, 0) + datetime.timedelta(
            seconds=s
        )

    lrows = [(i, f"k{i % 5}", t((i * 37) % 600)) for i in range(40)]
    rrows = [(i, f"k{i % 7}", t((i * 53) % 600)) for i in range(40)]
    for kind in ("timestamp", "timestamp_ntz"):
        left = spark.createDataFrame(
            lrows, f"lid long, k string, l_ts {kind}"
        )
        right = spark.createDataFrame(
            rrows, f"rid long, k string, r_ts {kind}"
        )
        got = {
            (r["lid"], r["rid"])
            for r in joins.interval_join_bucketed(
                left, right, on="k", left_ts="l_ts", right_ts="r_ts",
                within="2 minutes",
            ).collect()
        }
        naive = {
            (r["lid"], r["rid"])
            for r in left.join(
                right,
                (left.k == right.k)
                & (right.r_ts >= left.l_ts - F.expr("interval 2 minutes"))
                & (right.r_ts <= left.l_ts + F.expr("interval 2 minutes")),
            ).collect()
        }
        assert got == naive and got, kind


def test_interval_join_bucketed_edges_inclusive(spark):
    """±window is IN, ±(window+1s) is OUT, across epoch boundaries —
    the off-by-one class the neighbor explode exists for."""
    import datetime

    base = datetime.datetime(2024, 1, 1, 1, 0)  # on a 15-min boundary

    def t(s):
        return base + datetime.timedelta(seconds=s)

    left = spark.createDataFrame(
        [(0, "u", t(0)), (1, "u", t(450))],
        "lid long, k string, l_ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(0, "u", t(-900)), (1, "u", t(900)), (2, "u", t(-901)),
         (3, "u", t(901)), (4, "u", t(1350)), (5, "u", t(-450))],
        "rid long, k string, r_ts timestamp_ntz",
    )
    got = {
        (r["lid"], r["rid"])
        for r in joins.interval_join_bucketed(
            left, right, on="k", left_ts="l_ts", right_ts="r_ts",
            within="15 minutes",
        ).collect()
    }
    assert got == {
        (0, 0), (0, 1), (0, 5),          # exact ±900 in; ±901 out
        (1, 1), (1, 4), (1, 5), (1, 3),  # 901 is within 900 of 450's window
    }


def test_interval_join_bucketed_rejects_bad_inputs(spark):
    import datetime

    df = spark.createDataFrame(
        [(1, "a", datetime.datetime(2024, 1, 1))],
        "id long, k string, ts timestamp_ntz",
    )
    for bad_within in ("2 months", "soon", "0 minutes", "15"):
        try:
            joins.interval_join_bucketed(
                df, df.withColumnRenamed("id", "rid").withColumnRenamed("ts", "rts"),
                on="k", left_ts="ts", right_ts="rts", within=bad_within,
            )
            raise AssertionError(f"{bad_within!r} accepted")
        except ValueError:
            pass
    # colliding non-key column names
    try:
        joins.interval_join_bucketed(
            df, df, on="k", left_ts="ts", right_ts="ts", within="1 minute"
        )
        raise AssertionError("same-name columns accepted")
    except ValueError:
        pass
    # reserved internal names
    try:
        joins.interval_join_bucketed(
            df.withColumn("__tb", F.lit(1)),
            df.withColumnRenamed("id", "rid").withColumnRenamed("ts", "rts"),
            on="k", left_ts="ts", right_ts="rts", within="1 minute",
        )
        raise AssertionError("reserved __tb accepted")
    except ValueError:
        pass
    # non-timestamp time column
    try:
        joins.interval_join_bucketed(
            df.withColumn("ts", F.lit(5)),
            df.withColumnRenamed("id", "rid").withColumnRenamed("ts", "rts"),
            on="k", left_ts="ts", right_ts="rts", within="1 minute",
        )
        raise AssertionError("integer ts accepted")
    except ValueError:
        pass


def test_interval_join_bucketed_plan_is_equi_keyed(spark):
    """The operator's entire point is the plan shape: an equi-join
    keyed on (key, epoch bucket) — never a nested-loop over the time
    predicate, and the window edges hoisted into a pre-join projection
    (the residual must not re-derive ``ts ± interval`` per pair)."""
    import datetime

    df = spark.createDataFrame(
        [(i, f"k{i % 3}", datetime.datetime(2024, 1, 1) +
          datetime.timedelta(seconds=i * 100)) for i in range(50)],
        "id long, k string, ts timestamp_ntz",
    )
    out = joins.interval_join_bucketed(
        df.select(F.col("id").alias("lid"), "k", F.col("ts").alias("l_ts")),
        df.select(F.col("id").alias("rid"), "k", F.col("ts").alias("r_ts")),
        on="k", left_ts="l_ts", right_ts="r_ts", within="5 minutes",
    )
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # the join is keyed on the epoch bucket, and the interval
    # arithmetic happens in a Project (once per row), not inside the
    # join condition
    assert "__tb" in plan
    join_frag = [
        ln for ln in plan.splitlines()
        if "Join" in ln and ("__tb" in ln or "SortMergeJoin" in ln
                             or "ShuffledHashJoin" in ln or "BroadcastHashJoin" in ln)
    ]
    assert join_frag, plan
    assert not any("+ interval" in ln or "- interval" in ln for ln in join_frag), join_frag
