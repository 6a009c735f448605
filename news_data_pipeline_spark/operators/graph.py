"""Distributed graph clustering for dedup pipelines.

The near-dup operators emit PAIRS (edges); dedup needs GROUPS — every
document mapped to one canonical cluster id, so `id != component`
rows can be dropped in a single filter. ``connected_components`` is the
generic bridge: min-label propagation over an arbitrary edge list,
the same algorithm ``dedup.lsh_dedup_representatives`` runs on its
doc↔bucket bipartite graph, exposed for any pair source (MinHash/LSH
pairs, embedding near-dup pairs, exact-Jaccard survivors, ...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    weight: str | None = None,
    nodes: DataFrame | None = None,
    node_col: str = "id",
    damping: float = 0.85,
    iters: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """(node, rank) after ``iters`` power iterations of (weighted)
    PageRank over the directed edge list — link-graph authority scoring
    for source/domain weighting in a crawl corpus.

    Per iteration: one join of the rank vector onto the edge list, one
    map-side-combined sum by destination, plus one 1-row aggregate for
    the dangling-node mass (nodes with no out-edges redistribute
    uniformly — dropping that mass, as naive implementations do, leaks
    rank out of the system and the vector no longer sums to 1). The
    dangling mass stays INSIDE the lazy plan (1-row broadcast equi-join
    on a constant key — never a driver ``collect``), so each iteration
    executes exactly one job: the eager ``localCheckpoint`` below. Cost
    is linear in |E| per hop, nothing quadratic, no driver-side graph.
    Out-weight is computed once before the loop and re-joined per hop.

    Every hop ends in an eager ``localCheckpoint``: both the
    contribution join and the dangling aggregate reference the previous
    rank vector, so without truncation the plan would DOUBLE per hop.
    Checkpointing each hop keeps total work linear, one job per hop.
    ``localCheckpoint`` is executor-local (not HDFS-reliable); on a
    real cluster an executor loss fails the job and the caller retries
    — the standard trade-off for iterative algorithms without a
    reliable checkpoint dir.

    Ranks are rounded to ``round_dp`` AFTER the final iteration only —
    intermediate rounding would compound bias; a single final round
    makes the output reproducible across engines (summation-order
    differences live ~1e-15 below the rounding grid).

    ``weight``: optional edge-weight column; contributions split
    proportionally to weight instead of 1/out_degree. Parallel edges
    are additive either way. Edges with NULL endpoints or weight <= 0
    are dropped up front — so a node whose out-edges all carry zero
    weight is treated as dangling rather than dividing by a zero weight
    sum (which would abort the job under ANSI mode). When ``nodes`` is
    supplied, edges are first closed over it (both endpoints must be
    members): mass that would flow to an excluded destination instead
    redistributes across the source's remaining edges — or, if none
    remain, the source becomes dangling — keeping the rank sum at 1.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    w_col = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), w_col.alias("w")
    ).where(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("w") > 0))
    if nodes is not None:
        base = nodes.select(F.col(node_col).alias("u")).distinct()
        # close the edge set over the supplied vertex set: contributions
        # to non-members would otherwise vanish in the left join onto
        # base, leaking rank out of the system
        e = e.join(base, on="u", how="left_semi").join(
            base.select(F.col("u").alias("v")), on="v", how="left_semi"
        )
    else:
        base = (
            e.select("u").union(e.select(F.col("v").alias("u"))).distinct()
        )
    # out-weight per source, hoisted out of the loop; edges normalized
    # once so each hop is join + sum, not join + sum + re-normalize.
    # All weights are > 0 here, so __ow > 0 — no ANSI divide-by-zero.
    out_w = e.groupBy("u").agg(F.sum("w").alias("__ow"))
    frac = (
        e.join(out_w, on="u")
        .select("u", "v", (F.col("w") / F.col("__ow")).alias("f"))
    )
    n = base.count()
    if n == 0:
        return base.select(F.col("u").alias(node_col), F.lit(0.0).alias("rank"))
    frac = frac.localCheckpoint(eager=True)
    ranks = base.withColumn("rank", F.lit(1.0 / n))
    # nodes with no (positive-weight, member) out-edges: their whole
    # rank redistributes uniformly
    dangling = base.join(out_w, on="u", how="left_anti")
    for _ in range(iters):
        dm = (
            dangling.join(ranks, on="u")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
            .withColumn("__k", F.lit(1))
        )
        contrib = (
            frac.join(ranks, on="u")
            .groupBy("v")
            .agg(F.sum(F.col("rank") * F.col("f")).alias("__in"))
        )
        ranks = (
            base.join(
                contrib.select(F.col("v").alias("u"), "__in"),
                on="u",
                how="left",
            )
            .withColumn("__k", F.lit(1))
            .join(F.broadcast(dm), on="__k")
            .select(
                "u",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__in"), F.lit(0.0))
                        + F.col("__dm") / n
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        F.col("u").alias(node_col), F.round("rank", round_dp).alias("rank")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    nodes: DataFrame | None = None,
    node_col: str = "id",
    max_iter: int = 5,
) -> DataFrame:
    """(node, component) labels for the undirected graph in ``edges``,
    where ``component`` is the minimum node id reachable within
    ``max_iter`` hops — the full connected component whenever
    ``max_iter`` >= the component's diameter.

    Min-label propagation, one hop per iteration: every node takes the
    min of its own label and its neighbors' labels. The graph is
    prepared ONCE as the symmetrized edge list plus a self-loop per
    node, so a hop is a single join (edge list against current labels)
    followed by one map-side-combined min aggregate — the self-loop
    carries each node's own label through the same aggregate, so the
    label frame is referenced exactly once per hop and the plan grows
    LINEARLY with ``max_iter`` (a least/coalesce left-join formulation
    references labels twice per hop and the plan re-derives the label
    seed 2^hops times). Per iteration the cost is one shuffle of the
    (doubled) edge list — linear in |E|, nothing quadratic, no driver
    state (same contract as ``lsh_dedup_representatives``, whose
    bipartite propagation this generalizes; near-dup clusters are
    near-cliques, so 2-3 hops close them). Isolated nodes (present in
    ``nodes`` but in no edge) keep their own id as the component via
    their self-loop. Edges with an endpoint outside ``nodes`` (when
    given) are ignored, exactly as if absent.

    The prepared (symmetrized + self-loop) edge list is eagerly
    ``localCheckpoint``ed ONCE before propagation, leaving the label
    chain lazy: ``edges`` is typically an expensive derivation (LSH
    candidate pairs: shingle -> MinHash -> band join), and every hop
    joins the edge list, so without it each of the ``max_iter`` hops
    would re-derive the whole chain from the source scan. The label
    seed also derives from the checkpointed list, so the propagation
    never touches the source again. Executor-local, not HDFS-reliable
    — see ``pagerank``.

    ``nodes`` optionally supplies the full vertex set (``node_col``);
    default is the nodes appearing in ``edges``. Edges with a NULL
    endpoint are dropped up front, as in ``pagerank`` and
    ``triangle_counts``. Node ids must be orderable and non-null.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    sym = sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if nodes is not None:
        base = nodes.select(F.col(node_col).alias("u")).distinct()
        # drop edges touching unlisted nodes (matches the label-lookup
        # inner join + base-restricted output of the two-ref hop shape)
        in_base = base.select(F.col("u").alias("v"))
        sym = sym.join(base, on="u", how="leftsemi").join(
            in_base, on="v", how="leftsemi"
        )
    else:
        base = sym.select("u").distinct()
    # self-loops: each node feeds its own label into the per-hop min, so
    # one inner join + groupBy per hop covers "min(own, neighbors)"
    sym = sym.union(base.select("u", F.col("u").alias("v"))).localCheckpoint(
        eager=True
    )
    # seed from the checkpointed list: self-loops make its u-set exactly
    # the node set, and propagation then never re-reads the (possibly
    # expensive) source lineage
    labels = sym.select("u").distinct().withColumn("label", F.col("u"))
    for _ in range(max_iter):
        labels = (
            sym.join(labels.select(F.col("u").alias("v"), "label"), on="v")
            .groupBy("u")
            .agg(F.min("label").alias("label"))
        )
    return labels.select(
        F.col("u").alias(node_col), F.col("label").alias("component")
    )


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, n_triangles) for every node on at least one triangle of
    the undirected graph — the local clustering signal that separates
    a genuine near-dup clique (dense: every pair agrees the documents
    match) from a chain of borderline LSH collisions (sparse: A~B and
    B~C but never A~C).

    Degree-ordered counting: each undirected edge is oriented from its
    lower-(degree, id) endpoint to the higher one, wedges form only at
    a triangle's MINIMUM-rank corner, and the closing edge is probed in
    canonical (least, greatest) form against the edge list itself. The
    orientation bounds every out-neighborhood by sqrt(2m)-ish, so wedge
    generation is O(m^1.5) worst case instead of sum(deg^2) — the
    difference between a skewed hub exploding and not. All three stages
    are keyed equi-joins; no node ever needs its neighborhood in one
    partition.

    The canonical edge list is referenced five times (degree count
    twice, orientation, wedge probe, closure); eager
    ``localCheckpoint`` materializes it once so those references replay
    a cached RDD instead of re-deriving the (possibly expensive) edge
    lineage — same contract as ``connected_components``. The
    orientation is checkpointed too, since it feeds both sides of the
    wedge self-join.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("u"))
        .unionAll(e.select(F.col("b").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ranked = (
        e.join(deg.withColumnRenamed("u", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("u", "b").withColumnRenamed("deg", "db"), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)
    o2 = oriented.select(F.col("u").alias("u2"), F.col("v").alias("w"))
    wedges = oriented.join(o2, F.col("u") == F.col("u2")).where(
        F.col("v") < F.col("w")
    )
    closed = wedges.join(
        e,
        (F.least("v", "w") == F.col("a")) & (F.greatest("v", "w") == F.col("b")),
    ).select("u", "v", "w")
    corners = (
        closed.select(F.col("u").alias("node"))
        .unionAll(closed.select(F.col("v").alias("node")))
        .unionAll(closed.select(F.col("w").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
