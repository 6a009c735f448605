"""Graph operators: connected_components, pagerank, triangle_counts."""

from __future__ import annotations

import pytest

from news_data_pipeline_spark.operators.graph import (
    connected_components,
    pagerank,
)


def ref_pagerank(edges, nodes, damping=0.85, iters=10):
    """Driver-side oracle: dict-based power iteration with uniform
    dangling-mass redistribution, mirroring the documented semantics
    (w <= 0 edges dropped; edges closed over the node set)."""
    edges = [
        (u, v, w)
        for u, v, w in edges
        if u in nodes and v in nodes and w > 0
    ]
    out_w = {}
    for u, _, w in edges:
        out_w[u] = out_w.get(u, 0.0) + w
    n = len(nodes)
    ranks = {x: 1.0 / n for x in nodes}
    for _ in range(iters):
        dm = sum(r for x, r in ranks.items() if x not in out_w)
        nxt = {x: (1.0 - damping) / n + damping * dm / n for x in nodes}
        for u, v, w in edges:
            nxt[v] += damping * ranks[u] * (w / out_w[u])
        ranks = nxt
    return {x: round(r, 6) for x, r in ranks.items()}


def _pr(spark, edges, schema="src long, dst long", **kw):
    df = spark.createDataFrame(edges, schema)
    return {r["id"]: r["rank"] for r in pagerank(df, **kw).collect()}


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["id"]: r["component"]
        for r in connected_components(df, **kw).collect()
    }


def test_two_components_and_isolated_node(spark):
    edges = [(1, 2), (2, 3), (10, 11)]
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "id long")
    got = _cc(spark, edges, nodes=nodes, max_iter=3)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_chain_needs_diameter_hops(spark):
    # path 5-4-3-2-1: label 1 travels one hop per iteration
    edges = [(5, 4), (4, 3), (3, 2), (2, 1)]
    after1 = _cc(spark, edges, max_iter=1)
    assert after1[5] == 4  # only the direct neighbor's id yet
    after4 = _cc(spark, edges, max_iter=4)
    assert set(after4.values()) == {1}


def test_clique_converges_in_one_hop(spark):
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = _cc(spark, edges, max_iter=1)
    assert set(got.values()) == {0}


def test_invalid_max_iter_raises(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(df, max_iter=0)


def test_plan_has_no_cartesian_or_python(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    plan = (
        connected_components(df, max_iter=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_cc_drops_null_endpoint_edges(spark):
    # a NULL endpoint is no node: (2, NULL) neither adds a NULL row nor
    # links anything, exactly as pagerank and triangle_counts drop it
    edges = [(1, 2), (2, None), (5, 6)]
    assert _cc(spark, edges, max_iter=3) == {1: 1, 2: 1, 5: 5, 6: 5}


def _lsh_pairs_and_docs(spark):
    from news_data_pipeline_spark.operators.dedup import (
        minhash_lsh_dedup_pairs,
    )
    from news_data_pipeline_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    return minhash_lsh_dedup_pairs(docs, "doc_id", "text"), docs


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_cc_hops_read_only_the_checkpointed_edge_list(spark):
    # the LSH pair list is an expensive derivation of the documents
    # scan; every hop (and the label seed) must replay the one
    # checkpointed edge list instead of re-deriving it
    pairs, docs = _lsh_pairs_and_docs(spark)
    comp = connected_components(
        pairs, "id_a", "id_b", nodes=docs, node_col="doc_id", max_iter=3
    )
    assert "FileScan" not in _executed_plan(comp)


def test_triangle_counts_read_only_the_checkpointed_edge_list(spark):
    from news_data_pipeline_spark.operators.graph import triangle_counts

    pairs, _ = _lsh_pairs_and_docs(spark)
    tri = triangle_counts(pairs, "id_a", "id_b")
    assert "FileScan" not in _executed_plan(tri)


# ---------------------------------------------------------------- pagerank


def test_pagerank_matches_reference_fixed_point(spark):
    # two hubs + chain; compare to the dict-based power iteration
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]
    got = _pr(spark, edges, node_col="id", iters=10)
    want = ref_pagerank(
        [(u, v, 1.0) for u, v in edges], {1, 2, 3, 4}, iters=10
    )
    assert got == want
    assert abs(sum(got.values()) - 1.0) < 1e-4


def test_pagerank_dangling_mass_conserved(spark):
    # node 3 is dangling (no out-edges); sum of ranks must stay 1
    edges = [(1, 2), (2, 3), (1, 3)]
    got = _pr(spark, edges, node_col="id", iters=8)
    want = ref_pagerank(
        [(u, v, 1.0) for u, v in edges], {1, 2, 3}, iters=8
    )
    assert got == want
    assert abs(sum(got.values()) - 1.0) < 1e-4


def test_pagerank_weighted_and_zero_weight_is_dangling(spark):
    # node 2's only out-edge has weight 0 -> node 2 is dangling, and
    # the job must not die with DIVIDE_BY_ZERO under ANSI mode
    edges = [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 0.0), (3, 1, 2.0)]
    got = _pr(
        spark,
        edges,
        schema="src long, dst long, w double",
        weight="w",
        node_col="id",
        iters=6,
    )
    want = ref_pagerank(edges, {1, 2, 3}, iters=6)
    assert got == want
    # weighted split: node 2 receives 3x what node 3 gets from node 1
    assert got[2] > got[1] * 0  # sanity: present and positive
    assert abs(sum(got.values()) - 1.0) < 1e-4


def test_pagerank_nodes_closure_conserves_mass(spark):
    # node set excludes destination 99: its in-edges are dropped and
    # node 2 (whose only remaining edge pointed there) goes dangling;
    # rank still sums to 1 over the declared node set
    edges = [(1, 2), (2, 99), (1, 3)]
    nodes = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    got = _pr(spark, edges, nodes=nodes, node_col="id", iters=6)
    assert set(got) == {1, 2, 3}
    want = ref_pagerank(
        [(u, v, 1.0) for u, v in edges], {1, 2, 3}, iters=6
    )
    assert got == want
    assert abs(sum(got.values()) - 1.0) < 1e-4


def test_pagerank_checkpoint_bounds_plan_depth(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    deep = pagerank(df, node_col="id", iters=12)
    depth = len(deep._jdf.queryExecution().executedPlan().toString().splitlines())
    assert depth < 40  # truncated to the last checkpoint, not 12 hops


def test_pagerank_plan_has_no_cartesian_or_python(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    plan = (
        pagerank(df, node_col="id", iters=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_pagerank_invalid_args_raise(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iters"):
        pagerank(df, iters=0)


# ---------------------------------------------------------------- triangles


def ref_triangles(edges):
    """Driver-side oracle: brute-force triangle enumeration over the
    canonicalized undirected edge set, per-node participation counts."""
    es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({x for e in es for x in e})
    counts = {}
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            if (a, b) not in es:
                continue
            for c in nodes:
                if c <= b:
                    continue
                if (a, c) in es and (b, c) in es:
                    for x in (a, b, c):
                        counts[x] = counts.get(x, 0) + 1
    return counts


def _tri(spark, edges):
    from news_data_pipeline_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(df, "src", "dst").collect()
    }


def test_triangle_single(spark):
    assert _tri(spark, [(1, 2), (2, 3), (1, 3)]) == {1: 1, 2: 1, 3: 1}


def test_triangle_chain_has_none(spark):
    assert _tri(spark, [(1, 2), (2, 3), (3, 4)]) == {}


def test_triangle_k4_clique(spark):
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    # K4: each vertex sits on C(3,2)=3 triangles
    assert _tri(spark, edges) == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_dupes_self_loops_reverse_edges(spark):
    edges = [(1, 2), (2, 1), (2, 3), (1, 3), (3, 3), (1, 2)]
    assert _tri(spark, edges) == {1: 1, 2: 1, 3: 1}


def test_triangle_skewed_hub_matches_bruteforce(spark):
    # hub 0 connected to everyone; spokes chained pairwise — degree
    # orientation must still count each triangle exactly once
    edges = [(0, i) for i in range(1, 12)]
    edges += [(i, i + 1) for i in range(1, 11)]
    edges += [(2, 4), (5, 9), (7, 10)]
    assert _tri(spark, edges) == ref_triangles(edges)


def test_triangle_random_graphs_match_bruteforce(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        edges = [
            (rng.randrange(12), rng.randrange(12)) for _ in range(30)
        ]
        assert _tri(spark, edges) == ref_triangles(edges), edges


def test_cc_random_graphs_match_union_find(spark):
    # Random-graph model check: min-label propagation with enough hops
    # must agree with a driver-side union-find on every node, including
    # the min-id-as-label convention. Deterministic seeds, several
    # shapes (sparse, dense-ish, with self-loops and duplicates).
    import random

    for seed in range(6):
        rng = random.Random(seed)
        n = rng.randint(2, 14)
        m = rng.randint(1, 2 * n)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        want = {x: find(x) for x in range(n)}
        # nodes= supplies isolated vertices too; max_iter >= diameter
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        got = _cc(spark, edges, nodes=nodes, max_iter=n)
        assert got == want, (seed, edges, got, want)
