"""Vector search and statistics over embedding columns (``array<float>``).

The search family:

* exact brute force: ``cosine_topk``, its Arrow-batched twin
  ``cosine_topk_arrow``, and ``hard_negatives`` (the top-k inside a
  cosine band);
* sign-bucket LSH: ``signbucket_topk``, scoring only pairs that share
  a bucket of ``m`` sign bits in any of ``tables`` tables;
* IVF: ``ivf_topk`` probes the cells of a coarse quantizer that
  ``kmeans_iterate`` trains, and ``semantic_dedup_pairs`` scores pairs
  inside one cell (``operators.pq`` composes the same cells with PQ
  codes).

Embedding statistics: ``embedding_covariance``, ``pca_fit`` and
``pca_project``.

Every search follows one set of conventions, each written once here:

* cosine is computed in double precision and rounded to 6dp
  (``_cosine``); a NULL or zero-norm vector scores NULL and drops out;
* top-k ranks cosine descending (a distance ascending) and breaks ties
  by neighbor id ascending (``_topk``);
* a query is never its own neighbor (``_scored_pairs``);
* a centroid frame is ``(cid, centroid)``: an injected frame such as
  ``kmeans_iterate``'s output, or by default the first ``nlist``
  vectors by id (``_centroids``);
* a vector's cell is its nearest centroid by 6dp-rounded squared L2,
  centroid id breaking ties (``_assign_cells``), so trained, probed
  and dedup cells agree.

These rules make each search reproducible across engines, so every
registered query over them has an exact DuckDB twin.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from news_data_pipeline_spark.functions.exact import settled_round
from news_data_pipeline_spark.operators.fanout import fan_out


def _as_double(col) -> Column:
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _cosine(a: Column, b: Column, a_nrm: Column, b_nrm: Column) -> Column:
    """The family's pair score: cosine of ``a`` and ``b`` from their
    norms, rounded to 6dp. nullif: a zero-norm vector (empty doc,
    padding row) scores NULL instead of aborting the job with ANSI
    DIVIDE_BY_ZERO."""
    return F.round(dot(a, b) / F.nullif(a_nrm * b_nrm, F.lit(0.0)), 6)


def _sides(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """The corpus side (neighbor_id, c_vec) and the query side
    (query_id, q_vec) of a search."""
    # fan_out: the per-(query, vector) array folds pipeline onto the
    # corpus scan — a one-task scan would serialize all the math
    c = fan_out(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(vec_col).alias("c_vec"),
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("q_vec")
    )
    return c, q


def _scored_pairs(
    c: DataFrame, q: DataFrame, on: str | None = None, *keep: str
) -> DataFrame:
    """(query_id, neighbor_id, *keep, cosine_sim): the corpus side ``c``
    (neighbor_id, c_vec, ...) joined to the broadcast query side ``q``
    (query_id, q_vec, ...) on the key ``on`` (every pair when None),
    self-pairs out, NULL cosines dropped.

    Queries are broadcast (the small side by construction), so the
    corpus is scanned once with no shuffle until the top-k. Norms are
    hoisted to one computation per VECTOR before the join —
    higher-order array expressions are interpreted (not codegen'd), so
    evaluating them per PAIR would cost |queries|x more."""
    c = c.withColumn("c_nrm", l2_norm(F.col("c_vec")))
    q = q.withColumn("q_nrm", l2_norm(F.col("q_vec")))
    return (
        c.join(F.broadcast(q), on)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            *keep,
            _cosine(
                F.col("q_vec"), F.col("c_vec"), F.col("q_nrm"), F.col("c_nrm")
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim").isNotNull())
    )


def _topk(
    scored: DataFrame,
    k: int,
    dist: str | None = None,
    by: tuple[str, ...] = ("query_id",),
) -> DataFrame:
    """(*by, neighbor_id, score, rank): the top-``k`` neighbors per
    ``by`` group — highest ``cosine_sim`` first or, when a distance
    column ``dist`` is named, lowest distance first; neighbor id
    ascending breaks ties. AQE plans the window as a partial top-k per
    partition."""
    order = F.asc(dist) if dist else F.desc("cosine_sim")
    w = Window.partitionBy(*by).orderBy(order, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*by, "neighbor_id", dist or "cosine_sim", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector: one
    corpus scan against the broadcast queries. Cost
    O(|queries| * |corpus|) — the correctness baseline and the
    re-ranker for candidates."""
    return _topk(_scored_pairs(*_sides(corpus, queries, id_col, vec_col)), k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lo: float = 0.5,
    hi: float = 0.95,
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per query, the
    top-``k`` corpus vectors whose cosine falls in ``[lo, hi)`` — close
    enough to be informative negatives, below the near-duplicate band
    where a "negative" is really an unlabeled positive (the classic
    false-negative trap in DPR/E5-style training data).

    ``cosine_topk`` with the band applied before ranking, so the mined
    pairs and the retrieval eval share one geometry. The band bounds
    compare against the ROUNDED score — deterministic cross-engine, no
    half-open boundary drift.

    At billions of vectors, mine from an ANN shortlist instead
    (``pq_ivf_rerank_topk`` with a large ``rerank``, then band-filter):
    the band's upper cut makes recall loss harmless, since any neighbor
    the index misses is by construction far from the decision boundary.
    """
    scored = _scored_pairs(*_sides(corpus, queries, id_col, vec_col))
    return _topk(
        scored.where((F.col("cosine_sim") >= lo) & (F.col("cosine_sim") < hi)),
        k,
    )


def _sign_bits(vec: Column, start: int, m: int) -> Column:
    # F.get is null out-of-bounds (no ANSI error, unlike element_at),
    # so vectors shorter than the window bucket with '0' bits instead
    # of failing the job — DuckDB list indexing is null OOB too, so the
    # oracle agrees.
    return F.concat(
        *[
            F.when(F.get(vec, i) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(start, start + m)
        ]
    )


def sign_bucket(vec: Column, m: int = 8) -> Column:
    """Bucket key = sign bits of the first ``m`` components.

    A fixed axis-aligned hyperplane family: data-independent,
    deterministic, and expressible in ANSI SQL for oracle verification.
    """
    return _sign_bits(vec, 0, m)


def signbucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only the pairs that share a sign bucket
    in any of ``tables`` tables. Table ``t`` buckets on the sign bits of
    components ``[t*m, t*m + m)``, so table 0 is ``sign_bucket``.

    The join is a plain equi-join on the bucket key, so it shuffles by
    bucket instead of cross-producting — the scale path, with
    ``cosine_topk`` as the exact re-ranker when recall must be 1.0.
    More tables are the classic Charikar OR-amplification: a true
    neighbor is missed only if its signs differ in every table. Each
    side explodes to ``tables`` (id, bucket) rows — a bounded linear
    fan-out — and vectors shorter than ``tables*m`` degrade to '0'
    bits, never fail.
    """

    def buckets(vec: Column) -> Column:
        return F.explode(
            F.array(
                *[
                    F.concat(F.lit(f"{t}:"), _sign_bits(vec, t * m, m))
                    for t in range(tables)
                ]
            )
        )

    c, q = _sides(corpus, queries, id_col, vec_col)
    scored = _scored_pairs(
        c.withColumn("bucket", buckets(F.col("c_vec"))),
        q.withColumn("bucket", buckets(F.col("q_vec"))),
        "bucket",
    )
    if tables > 1:
        # a pair colliding in several tables is the same candidate with
        # an identical score, so distinct IS the dedup (bounded by
        # candidates, not corpus²); with one table a pair meets once
        scored = scored.distinct()
    return _topk(scored, k)


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors, scored with Arrow-batched BLAS.

    The scale path for the exact scorer: same semantics as
    ``cosine_topk``, but the |Q|x|C| scoring runs as one matrix
    multiply per Arrow batch inside ``mapInPandas`` instead of an
    interpreted array fold per pair. The query matrix rides a broadcast
    variable (queries are the small side by construction); each corpus
    partition emits only its local top-k per query, so the shuffle into
    the final global top-k carries ``partitions * |Q| * k`` rows — not
    scores. Local-then-global top-k is exact because both stages use
    the same total order (rounded cosine desc, neighbor id asc).
    Queries are grouped by vector length, and each scores only the
    corpus vectors of its own length; NULL vectors are dropped. The JVM
    fold scores a pair of different lengths NULL and drops it.

    Per-pair float math differs from the JVM fold only in summation
    order (BLAS is blocked/pairwise, the fold is sequential), i.e. in
    the last ulp before the 6dp round — so this variant is for
    throughput, while ``cosine_topk`` stays the oracle-verified twin.
    ``tests/test_joins_similarity.py`` pins the two paths equal on
    exactly-representable vectors.
    """
    import numpy as np
    import pandas as pd

    id_type = corpus.schema[id_col].dataType.simpleString()
    q_rows = (
        queries.select(F.col(id_col), _as_double(vec_col).alias("v"))
        .where(F.col("v").isNotNull())
        .collect()
    )
    by_dim: dict[int, list] = {}
    for q_id, v in q_rows:
        by_dim.setdefault(len(v), []).append((q_id, v))
    # vector length -> (query ids, pre-normalized (d, |Q|) query matrix)
    groups = {}
    for dim, rows in by_dim.items():
        q_ids = np.array([r[0] for r in rows])
        Q = np.array([r[1] for r in rows], dtype=np.float64)
        q_nrm = np.linalg.norm(Q, axis=1)
        keep = q_nrm > 0.0  # zero-norm queries score null everywhere: drop
        if keep.any():
            groups[dim] = (q_ids[keep], (Q[keep] / q_nrm[keep, None]).T)
    if not groups:
        empty = "query_id {t}, neighbor_id {t}, cosine_sim double, rank int".format(
            t=id_type
        )
        return corpus.sparkSession.createDataFrame([], empty)
    bq = corpus.sparkSession.sparkContext.broadcast(groups)

    out_schema = (
        f"query_id {id_type}, neighbor_id {id_type}, cosine_sim double"
    )

    def local_topk(pdf, ids_b, Qt_b):
        if not len(pdf):
            return
        nq = ids_b.shape[0]
        C = np.array(list(pdf[vec_col]), dtype=np.float64)
        nrm = np.linalg.norm(C, axis=1)
        ok = nrm > 0.0
        if not ok.any():
            return
        C, nrm = C[ok], nrm[ok]
        n_ids = pdf[id_col].to_numpy()[ok]
        sims = np.round((C / nrm[:, None]) @ Qt_b, 6)  # (n, |Q|)
        # self-pairs out of the running before top-k selection
        self_mask = n_ids[:, None] == ids_b[None, :]
        sims[self_mask] = -np.inf
        kk = min(k, sims.shape[0])
        # per-query local top-k: argsort on (sim desc, neighbor asc)
        order = np.lexsort((n_ids[:, None].repeat(nq, 1), -sims), axis=0)[:kk]
        qi = np.repeat(np.arange(nq)[None, :], kk, 0).ravel()
        ni = order.ravel()
        sel = sims[ni, qi]
        fin = np.isfinite(sel)
        yield pd.DataFrame(
            {
                "query_id": ids_b[qi[fin]],
                "neighbor_id": n_ids[ni[fin]],
                "cosine_sim": sel[fin],
            }
        )

    def score(batches):
        for pdf in batches:
            dims = pdf[vec_col].map(len).to_numpy()
            for dim, (ids_b, Qt_b) in bq.value.items():
                yield from local_topk(pdf[dims == dim], ids_b, Qt_b)

    vecs = corpus.select(id_col, _as_double(vec_col).alias(vec_col)).where(
        F.size(vec_col).isin(list(groups))
    )
    return _topk(fan_out(vecs).mapInPandas(score, out_schema), k)


def _centroids(
    centroids: DataFrame | None,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
) -> DataFrame:
    """The family's one centroid contract: a ``(cid, centroid)`` frame,
    ``kmeans_iterate``'s input and output. An injected frame passes
    through with ``centroid`` as ``array<double>``; a frame without both
    columns is a caller error. ``centroids=None`` builds the default:
    the first ``nlist`` corpus vectors by id (deterministic,
    oracle-reproducible)."""
    if centroids is None:
        return corpus.orderBy(id_col).limit(nlist).select(
            F.col(id_col).alias("cid"), _as_double(vec_col).alias("centroid")
        )
    if not {"cid", "centroid"} <= set(centroids.columns):
        raise ValueError(
            "centroids must carry ('cid', 'centroid'); got "
            f"{sorted(centroids.columns)}"
        )
    return centroids.select("cid", _as_double("centroid").alias("centroid"))


def kmeans_iterate(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 1,
) -> DataFrame:
    """Lloyd iterations in-engine: the IVF centroid-training step that
    ``ivf_topk`` takes as an injectable input.

    Per iteration: assign every vector to its nearest centroid (one
    broadcast pass, the family's ``_assign_cells`` rule, so training
    and probing agree on cell boundaries),
    then recompute each centroid as the element-wise mean of its
    members — posexplode to (cid, pos, component), one map-side-
    combinable average per (cid, pos), reassemble ordered by position.
    Cost per iteration: one broadcast join + two groupBys; nothing
    quadratic. Empty cells keep their previous centroid (standard Lloyd
    behavior) rather than vanishing.

    This function RUNS ``iters`` jobs at call time (like any ``fit``):
    each iteration collects the ``nlist`` centroid rows — and only
    those — to the driver and re-plants them as a literal frame for the
    next pass. The literal keeps every iteration's plan the same size
    (the alternative — chaining plans — embeds the previous iteration
    twice per pass, and Catalyst analysis blows up exponentially; a
    ``localCheckpoint`` would fix the plan but pins non-reliable blocks
    that outlive the call, survive ``clearCache``, and vanish with a
    lost executor instead of recomputing). The returned frame is a
    plain literal: lazy, composable, nothing retained.

    Takes and returns (cid, centroid), components rounded to 6dp — the
    cross-engine-stable precision the distance rounding expects.
    """
    spark = corpus.sparkSession
    cents = _centroids(centroids)
    cent_schema = cents.schema
    rows = [(r["cid"], r["centroid"]) for r in cents.collect()]
    for _ in range(iters):
        assigned = _assign_cells(
            corpus,
            spark.createDataFrame(rows, cent_schema),
            id_col,
            vec_col,
            "id",
            1,
        )
        by_pos = (
            assigned.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
        )
        new_cents = by_pos.groupBy("cid").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
        updated = {r["cid"]: r["centroid"] for r in new_cents.collect()}
        # empty cells keep their previous centroid
        rows = [(cid, updated.get(cid, vec)) for cid, vec in rows]
    return spark.createDataFrame(rows, cent_schema)


def _assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    n_cells: int,
) -> DataFrame:
    """(out_id, cid, v): each vector's nearest ``n_cells`` centroids of
    a ``(cid, centroid)`` frame — the assignment shared by IVF probing,
    k-means training, PQ cells and semantic dedup. Ranks by 6dp-rounded
    -2*dot(v,c) + ||c||^2 with centroid-id tie-break — ONE assignment
    rule, so trained, probed and dedup cells can never disagree.
    ``n_cells > 1`` adds each cell's probe rank ``r`` (1 = nearest).

    Physical shape (r14): for ``n_cells == 1`` — every corpus-sized
    assignment in the family — the argmin is ROW-LOCAL: the bounded
    centroid frame collapses to a one-row array via ``collect_list``
    (nlist structs, broadcast), and each vector picks its cell with an
    ``array_min`` over per-centroid (dist, cid) structs. Zero shuffle,
    zero sort — the window form shuffled the 16x-fanned-out vector
    payload and sorted it per id just to keep row 1 (guide §2.4: the
    assignment is algebraically a map). Ordering is identical: struct
    comparison is lexicographic (dist asc, cid asc), a NULL distance
    (null vector/centroid) coalesces to -inf exactly where the window's
    ``asc_nulls_first`` put it, and NaN sorts greatest in both forms.
    ``n_cells > 1`` (query-side probing — bounded rows by construction)
    keeps the window form, which a handful of query rows never feels.
    """
    # ||c||^2 hoisted once per centroid; dot(v,v) is rank-invariant per
    # vector, so the ordering needs only -2*dot(v,c) + ||c||^2 — one
    # interpreted array fold per (vector, centroid) instead of three
    cents = centroids.withColumn(
        "c2", dot(F.col("centroid"), F.col("centroid"))
    )
    base = fan_out(
        df.select(F.col(id_col).alias(out_id), _as_double(vec_col).alias("v"))
    )
    if n_cells == 1:
        # one row carrying the whole (bounded) centroid frame; the
        # size guard keeps the empty-centroids case emitting zero rows
        # exactly like the cross join did
        packed = cents.agg(
            F.collect_list(F.struct("cid", "centroid", "c2")).alias("__cents")
        ).where(F.size("__cents") > 0)
        best = F.array_min(
            F.transform(
                F.col("__cents"),
                lambda c: F.struct(
                    F.coalesce(
                        F.round(
                            -2 * dot(F.col("v"), c["centroid"]) + c["c2"], 6
                        ),
                        F.lit(float("-inf")),
                    ).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        return base.join(F.broadcast(packed), how="cross").select(
            out_id, best["cid"].alias("cid"), "v"
        )
    w = Window.partitionBy(out_id).orderBy(
        F.round(-2 * dot(F.col("v"), F.col("centroid")) + F.col("c2"), 6),
        F.asc("cid"),
    )
    return (
        base.join(F.broadcast(cents), how="cross")
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= n_cells)
        .select(out_id, "cid", "v", "r")
    )


def semantic_dedup_pairs(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    nlist: int = 16,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: coarse-quantize
    the corpus into ``nlist`` k-means cells, then score cosine ONLY
    within each cell and keep pairs at ``cosine >= threshold``.

    This is the embedding twin of LSH banding, with the partition
    function learned from the data instead of fixed hyperplanes: a
    semantic duplicate lands in its twin's cell (they share a nearest
    centroid long before they share a paraphrase), so the all-pairs
    product shrinks to sum(cell²) — and cells are capacity-bounded by
    the centroid count, which an offline k-means job (``kmeans_iterate``)
    keeps balanced. Feed the pairs to ``graph.connected_components``
    for cluster labels, then ``dedup.keep_best_per_cluster`` to pick
    survivors. ``centroids`` takes a trained (cid, centroid) frame;
    the default is the first ``nlist`` corpus vectors by id.
    """
    cents = _centroids(centroids, corpus, id_col, vec_col, nlist)
    v = _assign_cells(corpus, cents, id_col, vec_col, "id", 1).withColumn(
        "nrm", l2_norm(F.col("v"))
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.cid") == F.col("b.cid"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _cosine(
                F.col("a.v"), F.col("b.v"), F.col("a.nrm"), F.col("b.nrm")
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    into ``nlist`` cells, probe each query's ``nprobe`` nearest cells.

    The other classic ANN sharding besides sign-bucket LSH: corpus cost
    is one broadcast pass over ``nlist`` centroids (assignment), query
    cost |C|·nprobe/nlist scoring instead of |C|. ``centroids`` takes a
    trained (cid, centroid) frame — in production an offline k-means
    job (``kmeans_iterate``); the default is the first ``nlist`` corpus
    vectors by id, which is deterministic and oracle-reproducible.
    """
    cents = _centroids(centroids, corpus, id_col, vec_col, nlist)
    c = _assign_cells(corpus, cents, id_col, vec_col, "neighbor_id", 1)
    q = _assign_cells(queries, cents, id_col, vec_col, "query_id", nprobe)
    # a query probing nprobe cells can meet the same corpus vector only
    # once (each corpus vector lives in exactly one cell)
    scored = _scored_pairs(
        c.withColumnRenamed("v", "c_vec"),
        q.withColumnRenamed("v", "q_vec"),
        "cid",
    )
    return _topk(scored, k)


def _cov_moments(df: DataFrame, vec_col: str) -> DataFrame:
    """Shared (i, j, __exy, __ex, __ey) moment aggregate over the
    double-exploded components — embedding_covariance projects it to
    cov; pca_project reuses the SAME single pass for both the
    covariance and the per-dimension means (no second corpus scan)."""
    v = fan_out(
        df.select(_as_double(vec_col).alias("v")).where(
            F.col("v").isNotNull()
        )
    )
    pairs = v.select(
        F.posexplode("v").alias("i", "xi"), F.col("v")
    ).select("i", "xi", F.posexplode("v").alias("j", "xj"))
    return pairs.groupBy("i", "j").agg(
        F.avg(F.col("xi") * F.col("xj")).alias("__exy"),
        F.avg("xi").alias("__ex"),
        F.avg("xj").alias("__ey"),
        F.count(F.lit(1)).alias("__n"),
    )


def embedding_covariance(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Sample covariance matrix of an embedding column as scalar
    ``(i, j, cov)`` rows (population normalization, 6dp).

    cov[i,j] = avg(x_i * x_j) - avg(x_i) * avg(x_j): three plain
    aggregates over the double-exploded components, all map-side
    combined — one shuffle of d^2 partial sums per partition, nothing
    driver-side, no d x d matrix object until a consumer collects the
    d^2 scalar rows (64-dim => 4096 rows; trivially collectable at any
    corpus size because the output depends on d, not rows). Null
    vectors are skipped; rows must share one dimensionality — a ragged
    corpus averages each (i, j) entry over only the rows long enough to
    have both components, so entries come from inconsistent subsets
    (``pca_project`` detects this via the per-pair counts and raises;
    validate dimensionality first if consuming this frame directly).

    The double explode is O(rows * d^2) expansion — the right plan up
    to a few hundred dimensions, where d^2 stays ~10^4-10^5 per row and
    everything remains codegen'd; for thousand-dim embeddings switch to
    an Arrow ``mapInPandas`` partial X^T X (the ``cosine_topk_arrow``
    pattern) and merge partials with the same aggregate.
    """
    return _cov_moments(df, vec_col).select(
        "i",
        "j",
        # + 0.0 folds IEEE -0.0 to +0.0: repr-sorting canonicalizers
        # order the two zeros differently and misalign row streams
        # settled half-up (engine/version-stable round); the moment
        # AVERAGES themselves are double sums whose order the
        # determinism probe + oracle gate watch (see module docs)
        (
            settled_round(F.col("__exy") - F.col("__ex") * F.col("__ey"), 6)
            + F.lit(0.0)
        ).alias("cov"),
    )


def pca_fit(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    k: int = 2,
):
    """Fit the PCA model: ``(W, mu, eigvals, C)`` as numpy arrays —
    the (d, k) projection matrix (decreasing-eigenvalue order,
    sign-canonicalized), the per-dimension means, the top-``k``
    eigenvalues, and the settled d x d covariance the eigensolve ran
    on (identical cell-for-cell to ``embedding_covariance``'s published
    values). ONE distributed moment pass; the eigensolve is driver-side
    on the tiny d x d matrix. Split out of ``pca_project`` so invariant
    checks (projected variance == eigenvalue, cross-component
    covariance == 0) can reach the model the projection used.
    """
    import math

    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # ONE distributed pass: the shared moment aggregate carries both
    # the covariance entries and the per-dimension means (round-6 cov
    # to match embedding_covariance's published values exactly)
    cov_rows = _cov_moments(df, vec_col).collect()
    if not cov_rows:
        raise ValueError("pca_project: no non-null vectors to fit on")
    # ragged corpora make the per-(i, j) averages run over mutually
    # inconsistent row subsets — refuse loudly instead of fitting a
    # silently wrong covariance
    if len({r["__n"] for r in cov_rows}) > 1:
        raise ValueError(
            "pca_project: vectors have inconsistent dimensionality "
            "(per-dimension-pair counts differ); filter to one "
            "dimension first"
        )
    d = max(r["i"] for r in cov_rows) + 1
    if k > d:
        raise ValueError(f"k={k} exceeds dimensionality d={d}")
    C = np.zeros((d, d))
    mu = np.zeros(d)
    for r in cov_rows:
        # same settle as embedding_covariance publishes (Python round
        # is half-even; floor(x*1e6+0.5) is the engine-shared half-up)
        C[r["i"], r["j"]] = (
            math.floor((r["__exy"] - r["__ex"] * r["__ey"]) * 1e6 + 0.5) / 1e6
        )
        mu[r["i"]] = r["__ex"]
    vals, vecs = np.linalg.eigh((C + C.T) / 2.0)
    order = np.argsort(vals)[::-1][:k]
    W = vecs[:, order]  # (d, k)
    flip = np.sign(W[np.abs(W).argmax(axis=0), np.arange(k)])
    flip[flip == 0] = 1.0
    W = W * flip
    return W, mu, vals[order], C


def pca_project(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 2,
) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components:
    ``(id, pc)`` with ``pc`` an ``array<double>`` of length ``k``.

    Scale shape: the ONLY distributed work is ONE covariance-moment
    aggregate (see ``_cov_moments`` — d^2 scalar rows, corpus-size
    independent, and it carries the centering means so no second
    corpus scan is needed); the eigendecomposition runs driver-side on the tiny
    d x d matrix (64x64 here — microseconds, and the classic split for
    PCA at corpus scale: data-sized work distributed, model-sized work
    local), and the d x k projection matrix returns as a broadcast
    literal applied with codegen'd array math. Deterministic sign
    convention: each eigenvector is flipped so its largest-magnitude
    component is positive (eigh's sign is otherwise arbitrary and would
    flip across BLAS builds).

    Means are subtracted before projection (PCA is centered by
    definition). Components come out in DECREASING eigenvalue order.
    """
    W, mu, _, _ = pca_fit(df, vec_col=vec_col, k=k)
    d, k = W.shape
    w_lit = F.array(
        *[
            F.array(*[F.lit(float(W[i, c])) for i in range(d)])
            for c in range(k)
        ]
    )
    mu_lit = F.array(*[F.lit(float(m)) for m in mu])
    centered = F.zip_with(
        _as_double(vec_col), mu_lit, lambda x, m: x - m
    )
    proj = F.transform(
        w_lit,
        lambda col_w: F.round(
            F.aggregate(
                F.zip_with(centered, col_w, lambda x, w: x * w),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ),
    )
    return df.select(F.col(id_col), proj.alias("pc"))
