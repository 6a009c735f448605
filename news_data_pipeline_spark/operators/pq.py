"""Product quantization (PQ): compressed-vector ANN for the 100-TB tier.

IVF (``similarity.ivf_topk``) prunes WHICH vectors a query scores;
PQ compresses WHAT is stored and scored: each ``d``-dim float vector
becomes ``m`` small codes (here 4 codes over 16-dim subspaces, 16
centroids each — 4 bytes per vector vs 256 for float32 at d=64, a 64x
memory cut), and queries score candidates from a per-query lookup
table (ADC — asymmetric distance computation) instead of touching raw
floats. This is the standard second half of IVF-PQ, the layout every
billion-vector index uses; at 100 TB the codes fit where the floats
never would, and scoring is ``m`` table lookups per candidate.

Everything is DataFrame algebra — no UDFs, no driver-side vectors
beyond the k*m codebook rows (bounded by construction, same contract
as ``kmeans_iterate``):

- training: per-subspace Lloyd assignments folded row-locally over a
  broadcast one-row codebook, 6dp-settled means (the shared
  cross-engine distance convention);
- encoding: the same assignment rule — train and encode MUST share
  the boundary tie-break or cells drift;
- ADC: per-(query, sub, code) distances settled to exact 1e-6 BIGINT
  units so the per-candidate sum over subspaces is order-independent
  and engine-identical (see ``functions/exact.py``).

Production notes at scale: train on a sample (Lloyd cost is
rows*k*d per iteration — the codebook needs ~100k vectors, not the
corpus), store codes+ids in the IVF cell layout, and rerank the ADC
top-R with exact distances over the raw floats of just those R.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from news_data_pipeline_spark.functions.exact import settled_round, settled_units
from news_data_pipeline_spark.operators.fanout import fan_out
from news_data_pipeline_spark.operators.similarity import (
    _as_double,
    _assign_cells,
    _centroids,
    _cosine,
    _topk,
    l2_norm,
)


def _vecs(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v): the row-local paths' input projection — non-NULL
    vectors, fanned out, never exploded into components."""
    return fan_out(
        df.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
        )
    )


def _codebook_struct(codebook_rows: DataFrame) -> DataFrame:
    """One-row frame carrying the whole (bounded, k*m*sub_dim scalar)
    codebook as an array of (sub, cid, vals, c2) structs — the
    broadcastable form the row-local encode/LUT paths fold over.

    ``vals`` is the subspace centroid ordered by ``j`` (codebooks are
    built from positional explodes, so the j domain per (sub, cid) is a
    contiguous 1..len prefix — positional zips align with ``slice``
    output by construction); ``c2`` is the exact settled
    ``sum(value^2)`` the aggregate form computed, term-for-term: the
    per-term ``floor(v*v*1e12 + 0.5)`` and the integer sum are single
    IEEE/integer operations, so the driver computes the identical
    double Spark's aggregate did (the ``functions/exact`` argument).
    An empty codebook yields an empty (zero-row) frame, exactly as the
    join form's inner join did.

    Assembled DRIVER-SIDE: the codebook is bounded by the module's
    contract (k*m*sub_dim scalar rows, already collected once per
    Lloyd iteration by ``pq_train`` and memo-cached by the query-layer
    artifact caches). Building the one-row array in Spark instead cost
    two ObjectHashAggregate stages per consumer (measured: lazy-agg
    form 3.58 s vs driver form 2.34 s full crossmodal_topk_frozen).
    Codebook frames built from already-collected rows carry those rows
    as ``_ndps_cb_rows`` (``_local_codebook``), so the usual path pays
    NO collect either — a bare ``collect()`` of a 1024-row local
    relation measured 0.48 s of pure py4j round-trip per query
    CONSTRUCTION, which was the whole residual regression on the
    stored-code (frozen) path."""
    import math

    rows = getattr(codebook_rows, "_ndps_cb_rows", None)
    if rows is None:
        # Bounded-codebook contract enforced at the API boundary
        # (ADVICE r14): a lazy caller-supplied frame is collected ONCE
        # per frame object (memoized below — pq_ivf_residual_topk
        # builds encode + LUT off the same frame), and a frame larger
        # than any real codebook (k*m*sub_dim scalars; 16*4*16 = 1024
        # at the registered settings) fails loudly instead of OOMing
        # the driver. limit(cap+1) bounds the transfer itself.
        collected = codebook_rows.select(
            "sub", "cid", "j", "value"
        ).limit(_CODEBOOK_MAX_ROWS + 1).collect()
        if len(collected) > _CODEBOOK_MAX_ROWS:
            raise ValueError(
                "pq codebook frame exceeds the bounded-codebook "
                f"contract ({_CODEBOOK_MAX_ROWS} scalar rows); "
                "codebooks are k*m*sub_dim rows by construction — a "
                "corpus-sized frame is a caller error"
            )
        rows = [(r["sub"], r["cid"], r["j"], r["value"]) for r in collected]
        try:
            codebook_rows._ndps_cb_rows = rows
        except Exception:
            pass
    spark = codebook_rows.sparkSession
    schema = (
        "__cb array<struct<sub:int,cid:int,"
        "vals:array<double>,c2:double>>"
    )
    if not rows:
        return spark.createDataFrame([], schema)
    cells: dict = {}
    for sub, cid, j, value in rows:
        cells.setdefault((sub, cid), []).append((j, value))
    entries = []
    for (sub, cid), jv in cells.items():
        vals = [v for _, v in sorted(jv, key=lambda t: t[0])]
        units = [
            math.floor(v * v * 1000000000000 + 0.5)
            for v in vals
            if v is not None
        ]
        c2 = (sum(units) / 1e12) if units else None
        entries.append((sub, cid, vals, c2))
    return spark.createDataFrame([(entries,)], schema, verifySchema=False)


def _local_codebook(spark, rows, schema="sub int, cid int, j int, value double") -> DataFrame:
    """Rebuild a codebook frame from collected (sub, cid, j, value)
    rows, carrying the rows on the frame (``_ndps_cb_rows``) so
    ``_codebook_struct`` assembles its broadcast array driver-side with
    NO collect round-trip (0.48 s saved per query construction)."""
    rows = [tuple(r) for r in rows]
    df = spark.createDataFrame(rows, schema)
    df._ndps_cb_rows = rows
    return df


def _settled_dot(sv, vals) -> "F.Column":
    """Row-local twin of the exploded-join dot: per-term 12dp settled
    BIGINT units summed exactly (order-free), NULL when every term is
    NULL — bit-for-bit the SUM semantics the groupBy form had (null
    terms skipped, all-null group sums to NULL). One fold, the
    (units, n_nonnull) pair carried in the accumulator so nothing is
    evaluated twice."""
    return F.aggregate(
        F.zip_with(sv, vals, lambda x, y: settled_units(x * y, 12)),
        F.struct(
            F.lit(0).cast("long").alias("u"), F.lit(0).alias("k")
        ),
        lambda a, t: F.struct(
            (a["u"] + F.coalesce(t, F.lit(0).cast("long"))).alias("u"),
            (a["k"] + F.when(t.isNotNull(), 1).otherwise(0)).alias("k"),
        ),
        lambda a: F.when(a["k"] > 0, a["u"] / F.lit(1e12)),
    )


def _settled_sqdist(sv, vals) -> "F.Column":
    """Row-local twin of the exploded-join ``||q_sub - c||^2``: settled
    squared-difference units summed exactly, NULL when all terms are
    NULL (same SUM semantics as ``_settled_dot``)."""
    return F.aggregate(
        F.zip_with(
            sv, vals, lambda x, y: settled_units((x - y) * (x - y), 12)
        ),
        F.struct(
            F.lit(0).cast("long").alias("u"), F.lit(0).alias("k")
        ),
        lambda a, t: F.struct(
            (a["u"] + F.coalesce(t, F.lit(0).cast("long"))).alias("u"),
            (a["k"] + F.when(t.isNotNull(), 1).otherwise(0)).alias("k"),
        ),
        lambda a: F.when(a["k"] > 0, a["u"] / F.lit(1e12)),
    )


def _codes_array(sub_dim: int) -> "F.Column":
    """array<struct<sub int, code int>> of per-subspace argmin codes for
    the vector column ``v`` against the one-row codebook array ``__cb``
    — the ROW-LOCAL assignment, the only one: the exploded join form
    paid two exchanges and a sort-aggregate per pass (SCALE.md
    "Retired paths").
    Semantics match that exploded form:

    - a (sub) emits a code iff the vector has >= 1 component in that
      subspace AND the codebook has entries for it (the inner join's
      group-existence rule) — absent subs are filtered, not NULLed;
    - distance = ``settled_round(-2*dot + c2, 6)`` over the identical
      settled-unit terms, so every value compared is bit-identical;
    - argmin tie-break is (dist asc, cid asc) via lexicographic struct
      ``array_min``; an all-NULL subspace distance coalesces to -inf
      for every candidate, so the tie-break degrades to min cid —
      exactly where the sort-aggregate's null-first min landed.

    The returned Column is MEMOIZED per (gateway, ``sub_dim``): it is
    a pure unresolved expression tree over the column NAMES
    ``v``/``__cb`` (Column objects are immutable and re-resolve per
    plan), and building its nested higher-order lambdas costs hundreds
    of py4j round-trips — real driver latency on every query
    construction. The cache key includes the active JVM gateway
    (``_gateway_key``, ADVICE r14) so a SparkContext/JVM restart in a
    long-lived process rebuilds instead of handing back stale py4j
    handles."""
    cached = _CODES_ARRAY_CACHE.get((_gateway_key(), sub_dim))
    if cached is not None:
        return cached
    v = F.col("v")

    def best_code(sub):
        sv = F.slice(v, sub * sub_dim + 1, sub_dim)
        return F.array_min(
            F.transform(
                F.filter(F.col("__cb"), lambda e: e["sub"] == sub),
                lambda e: F.struct(
                    F.coalesce(
                        settled_round(
                            -2 * _settled_dot(sv, e["vals"]) + e["c2"], 6
                        ),
                        F.lit(float("-inf")),
                    ).alias("d"),
                    e["cid"].alias("cid"),
                ),
            )
        )["cid"]

    nsubs = (
        F.floor((F.size(v) - F.lit(1)) / F.lit(sub_dim)).cast("int")
        + F.lit(1)
    )
    subs = F.when(
        F.size(v) > 0, F.sequence(F.lit(0), nsubs - F.lit(1))
    ).otherwise(F.array().cast("array<int>"))
    out = F.filter(
        F.transform(
            subs,
            lambda sub: F.struct(
                sub.cast("int").alias("sub"), best_code(sub).alias("code")
            ),
        ),
        lambda s: s["code"].isNotNull(),
    )
    _CODES_ARRAY_CACHE[(_gateway_key(), sub_dim)] = out
    return out


_CODES_ARRAY_CACHE: dict = {}
_LUT_ARRAY_CACHE: dict = {}

#: bounded-codebook contract ceiling for driver-side collection —
#: 64x the registered k*m*sub_dim = 1024 scalar rows, far above any
#: real codebook and far below anything that could hurt the driver.
_CODEBOOK_MAX_ROWS = 65536


def _gateway_key() -> int:
    """Identity of the live SparkContext, used to key the Column-object
    memo caches: cached expression trees hold py4j references tied to
    one JVM gateway, so a context restart must miss the cache."""
    from pyspark import SparkContext

    return id(SparkContext._active_spark_context)


def _lut_array(sub_dim: int, vec_name: str):
    """(entries, lut_arr) Column pair for the row-local ADC lookup
    table over vector column ``vec_name`` — memoized like
    ``_codes_array`` (same py4j-construction + gateway-key argument)."""
    key = (_gateway_key(), sub_dim, vec_name)
    cached = _LUT_ARRAY_CACHE.get(key)
    if cached is not None:
        return cached
    v = F.col(vec_name)
    entries = F.filter(
        F.col("__cb"), lambda e: e["sub"] * sub_dim < F.size(v)
    )
    lut_arr = F.transform(
        entries,
        lambda e: F.struct(
            e["sub"].alias("sub"),
            e["cid"].alias("code"),
            settled_units(
                _settled_sqdist(
                    F.slice(v, e["sub"] * sub_dim + 1, sub_dim), e["vals"]
                ),
                6,
            ).alias("__u"),
        ),
    )
    _LUT_ARRAY_CACHE[key] = lut_arr
    return lut_arr


def _encode_rowlocal(
    vecs: DataFrame,
    codebook_rows: DataFrame,
    sub_dim: int,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sub, code[, *passthrough]) from an (id, v[, ...]) frame —
    encode as a pure map over the broadcast one-row codebook, the shape
    a 100-TB ingest pays: no exchange touches the corpus (the explode
    of the per-row codes array is narrow). ``passthrough`` columns ride
    along, which lets residual encodes keep their cell id without the
    corpus-sized self-join the stored-cid layout otherwise needed."""
    cb1 = _codebook_struct(codebook_rows)
    return (
        vecs.join(F.broadcast(cb1), how="cross")
        .select(
            "id",
            F.explode(_codes_array(sub_dim)).alias("__sc"),
            *passthrough,
        )
        .select(
            "id",
            F.col("__sc.sub").alias("sub"),
            F.col("__sc.code").alias("code"),
            *passthrough,
        )
    )


def pq_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    sub_dim: int = 16,
    iters: int = 1,
) -> DataFrame:
    """Train per-subspace codebooks: (sub, cid, j, value) scalar rows.

    Seeds are the first ``k`` vectors' subvectors (by id — the same
    deterministic convention as ``ivf_kmeans_centroids``); each Lloyd
    iteration reassigns all vectors and re-means each (sub, cid, j)
    cell at 6dp, empty cells keeping their previous centroid. The
    codebook is k*m*sub_dim scalar rows — bounded, never corpus-sized.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    return _train_on_vectors(
        _vecs(df, id_col, vec_col), k=k, sub_dim=sub_dim, iters=iters
    )


def _train_on_vectors(
    vecs: DataFrame, *, k: int, sub_dim: int, iters: int
) -> DataFrame:
    """``pq_train`` over the un-exploded (id, v) frame — the r14
    row-local shape. Per Lloyd iteration the corpus pays ONE exchange
    (the bounded (sub, cid, j) means aggregate) instead of the exploded
    form's assignment aggregates plus a corpus-sized comp-x-assigned
    equi-join: codes are computed row-locally (``_codes_array``) and
    the components explode carries its own code, so the mean's input is
    a single narrow pass. Arithmetic is term-identical (settled units
    everywhere), so the trained codebook is bit-equal to the exploded
    form's — ``tests/test_pq.py`` pins convergence and determinism.
    """
    spark = vecs.sparkSession
    # seed: first k vectors' subvectors, same deterministic convention
    cb = (
        vecs.where(F.col("id") < k)
        .select("id", F.posexplode("v").alias("p", "x"))
        .select(
            F.floor(F.col("p") / sub_dim).cast("int").alias("sub"),
            F.col("id").cast("int").alias("cid"),
            (F.col("p") % sub_dim + 1).alias("j"),
            F.col("x").alias("value"),
        )
    )
    for _ in range(iters):
        cb1 = _codebook_struct(cb)  # the first call collects the seeds
        if not getattr(cb, "_ndps_cb_rows", True):
            # no seed (no non-NULL vector with id < k): Lloyd keeps an
            # empty codebook empty, so no iteration needs to run
            return _local_codebook(spark, [])
        cb = _lloyd_step(vecs, cb, cb1, sub_dim)
    return cb


def _lloyd_step(
    vecs: DataFrame, cb: DataFrame, cb1: DataFrame, sub_dim: int
) -> DataFrame:
    """One Lloyd iteration of ``_train_on_vectors``: the codebook ``cb``
    (``cb1`` is its one-row broadcast form) re-meaned over the
    row-local assignments of ``vecs``, returned as a local codebook."""
    # one narrow pass: explode components WITH the row-local code
    # attached (the exploded form joined comp x assigned on
    # (id, sub) — a corpus-sized shuffle both sides)
    coded = (
        vecs.join(F.broadcast(cb1), how="cross")
        .select("v", _codes_array(sub_dim).alias("__codes"))
        .select(F.posexplode("v").alias("p", "x"), "__codes")
        .select(
            F.floor(F.col("p") / sub_dim).cast("int").alias("sub"),
            (F.col("p") % sub_dim + 1).alias("j"),
            "x",
            "__codes",
        )
        .withColumn(
            "cid",
            F.element_at(
                F.filter(
                    F.col("__codes"),
                    lambda s: s["sub"] == F.col("sub"),
                ),
                1,
            )["code"],
        )
        .where(F.col("cid").isNotNull())
    )
    means = coded.groupBy("sub", "cid", "j").agg(
        # order-free mean: 10dp settled components, exact sum —
        # count includes null-component rows exactly like the
        # joined form's COUNT(1) did
        settled_round(
            F.sum(settled_units(F.col("x"), 10))
            / 1e10
            / F.count(F.lit(1)),
            6,
        ).alias("value")
    )
    # empty cells keep their previous centroid; one bounded collect
    # per iteration (k*m*sub_dim rows — the module's driver-side
    # contract), same as the exploded form
    cb = (
        cb.withColumnRenamed("value", "__prev")
        .join(means, on=["sub", "cid", "j"], how="left")
        .select(
            "sub",
            "cid",
            "j",
            F.coalesce(F.col("value"), F.col("__prev")).alias("value"),
        )
    )
    rows = [(r["sub"], r["cid"], r["j"], r["value"]) for r in cb.collect()]
    return _local_codebook(vecs.sparkSession, rows)


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = 16,
) -> DataFrame:
    """(id, sub, code): every vector as its per-subspace code — the
    compressed representation an index stores (pivot to an array or
    pack to bytes at the storage boundary; scalar rows keep the engine
    join-friendly and the oracle canonicalizable).

    Physical shape (r14): a pure row-local map over the broadcast
    one-row codebook (``_codes_array``) — encode pays ZERO exchanges
    (the old exploded-join form paid two aggregates and a sort per
    pass). At 100 TB this is the property that matters: encoding is
    embarrassingly parallel over the ingest scan."""
    return _encode_rowlocal(_vecs(df, id_col, vec_col), codebooks, sub_dim)


def _adc_lut(
    queries: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vec_col: str,
    sub_dim: int,
) -> DataFrame:
    """(query_id, sub, code, __u): per-query ADC lookup table of settled
    ``||q_sub - c||^2`` distances in exact 1e-6 BIGINT units — m*k rows
    per query, broadcastable by construction. Shared by the full-scan
    ADC baseline and the IVF-pruned composition so both score candidates
    with bit-identical tables."""
    lut_arr = _lut_array(sub_dim, "v")
    # row-local twin of the exploded groupBy: one entry per codebook
    # (sub, cid) whose subspace the query has components for (the inner
    # join's group-existence rule), __u NULL when the subspace is
    # all-NULL — identical rows, zero shuffles
    return (
        _vecs(queries, id_col, vec_col)
        .withColumnRenamed("id", "query_id")
        .join(F.broadcast(_codebook_struct(codebooks)), how="cross")
        .select("query_id", F.explode(lut_arr).alias("__e"))
        .select(
            "query_id",
            F.col("__e.sub").alias("sub"),
            F.col("__e.code").alias("code"),
            F.col("__e.__u").alias("__u"),
        )
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = 16,
    k: int = 10,
) -> DataFrame:
    """Approximate top-``k`` by ADC: (query_id, neighbor_id, adc_dist,
    rank).

    Per query: a lookup table of settled ``||q_sub - c||^2`` integer
    units per (sub, code) — m*k rows, broadcast; per candidate: the
    exact BIGINT sum of its ``m`` table entries (order-independent —
    a float sum over subspaces would be engine/order-sensitive), then
    ranked ascending with neighbor-id tie-break. Candidates never touch
    raw floats — that is the entire point of the layout.

    This is the honest IndexPQ baseline: every code row is scored for
    every query (linear, no shuffle explosion — but a full scan). At
    corpus scale, compose with the coarse quantizer instead:
    ``pq_ivf_adc_topk`` scores only the codes in each query's probed
    IVF cells.
    """
    lut = _adc_lut(queries, codebooks, id_col, vec_col, sub_dim)
    scored = (
        codes.join(F.broadcast(lut), on=["sub", "code"])
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg((F.sum("__u") / 1e6).alias("adc_dist"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    return _topk(scored, k, "adc_dist")


def pq_ivf_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = 16,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
    codes: DataFrame | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IndexIVFPQ: the coarse quantizer prunes WHICH codes each query
    scores, ADC compresses HOW they are scored — the composition every
    billion-vector ANN index ships, and the 100-TB answer to
    ``pq_adc_topk``'s full scan.

    Corpus vectors are assigned to their nearest of ``nlist`` IVF cells
    (``similarity._assign_cells`` — the ONE assignment rule shared by
    IVF probing, k-means training, and semantic dedup, so cells can
    never disagree across the ANN family); each query probes its
    ``nprobe`` nearest cells, and ADC scoring runs ONLY on the
    (query, candidate) pairs produced by the cell equi-join — the plan
    contains no query-crossed full scan of the code table. Cost per
    query drops from |C| to ~|C|*nprobe/nlist, and at cluster scale the
    codes live cell-partitioned so the join prunes partitions too.

    Measured (SCALE.md round-8 sweep, synthetic 64-dim corpora to 4M
    vectors, q up to 50, m up to 16): on a single node with the code
    table IN MEMORY, the flat scan matches or beats every pruned arm
    at every tested size — pruning's 4x aggregation cut never outruns
    its extra broadcast probe when the scan itself is free. The
    measured conclusion is that IVF's corpus-scale win is I/O pruning,
    not compute pruning: with codes stored cell-partitioned (pass
    ``codes`` carrying a ``cid`` column — the stored-cells fast path
    below), probing 4 of 16 cells means 3/4 of the table is never
    read. That is a scan-level property a cluster exhibits and an
    in-memory bench structurally cannot. The stored-cells path is
    also the best pruned arm locally (it removes the corpus-sized
    candidate shuffle: 2.53 -> 1.95 s at n=1M/q=5).

    ``centroids`` (a (cid, centroid) frame) / ``codes`` are injectable
    for the production shape (offline k-means such as
    ``kmeans_iterate``, pre-encoded corpus); defaults are the
    deterministic conventions shared with ``ivf_topk`` / ``pq_encode``
    (first ``nlist`` vectors by id; encode under ``codebooks``).
    Queries are scored against raw-vector cells but PQ codes — raw-code
    (not residual) PQ, the FAISS ``by_residual=false`` layout; the
    ``by_residual=true`` variant (codes over vector-minus-centroid,
    one global residual codebook, its own DuckDB oracle) is
    ``pq_ivf_residual_topk`` below.
    """
    centroids = _centroids(centroids, corpus, id_col, vec_col, nlist)
    # cells injectable for the production shape: on a real index the
    # cell id is assigned once at ingest and stored WITH the code, so
    # the per-query path pays no corpus-wide assignment pass (the
    # measured crossover vs the flat scan moves by ~one corpus scan —
    # see SCALE.md "IVF x PQ crossover")
    if cells is not None:
        corpus_cells = cells.select("neighbor_id", "cid")
    else:
        corpus_cells = _assign_cells(
            corpus, centroids, id_col, vec_col, "neighbor_id", 1
        ).select("neighbor_id", "cid")
    query_cells = _assign_cells(
        queries, centroids, id_col, vec_col, "query_id", nprobe
    ).select("query_id", "cid")
    if codes is None:
        codes = pq_encode(
            corpus, codebooks, id_col=id_col, vec_col=vec_col, sub_dim=sub_dim
        )
    lut = _adc_lut(queries, codebooks, id_col, vec_col, sub_dim)
    if "cid" in codes.columns:
        # production layout: the cell id is STORED with the code (one
        # ingest-time join, amortized forever), so pruning is a pure
        # broadcast filter on the big table — query_cells is
        # q * nprobe rows, and the only exchange left is the partial
        # aggregation. This is the arm whose cost is
        # ~ nprobe/nlist of the flat scan with NO big-side shuffle;
        # the cand-then-codes join below pays a corpus-sized
        # sort-merge shuffle instead, which local measurement shows
        # erases the pruning win at every tested size (SCALE.md).
        scored = (
            codes.join(F.broadcast(query_cells), on="cid")
            .where(F.col("query_id") != F.col("id"))
            .join(F.broadcast(lut), on=["query_id", "sub", "code"])
            .groupBy("query_id", F.col("id").alias("neighbor_id"))
            .agg((F.sum("__u") / 1e6).alias("adc_dist"))
        )
        return _topk(scored, k, "adc_dist")
    # candidate pruning: each corpus vector lives in exactly one cell,
    # so the equi-join yields each (query, neighbor) at most once
    cand = (
        query_cells.join(corpus_cells, on="cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    scored = (
        cand.join(codes, on=[cand.neighbor_id == codes.id])
        .join(F.broadcast(lut), on=["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("__u") / 1e6).alias("adc_dist"))
    )
    return _topk(scored, k, "adc_dist")


def pq_ivf_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = 16,
    k: int = 5,
    rerank: int = 20,
    nlist: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Two-stage ANN retrieval: IVF×PQ shortlists ``rerank`` candidates
    per query by ADC (compressed, cell-pruned — ``pq_ivf_adc_topk``),
    then ONLY those shortlisted ids are re-scored with exact cosine
    over raw floats and the top-``k`` kept. The production pattern for
    recall recovery: ADC quantization error decides nothing final, it
    only picks who gets the expensive exact pass — which touches
    ``queries x rerank`` vectors instead of the corpus.

    Returns (query_id, neighbor_id, cosine_sim, rank), cosine at 6dp
    with neighbor-id tie-break — the same output contract as the exact
    ``cosine_topk`` family, so swapping brute force for this is a
    drop-in at 100 TB.
    """
    shortlist = pq_ivf_adc_topk(
        queries,
        corpus,
        codebooks,
        id_col=id_col,
        vec_col=vec_col,
        sub_dim=sub_dim,
        k=rerank,
        nlist=nlist,
        nprobe=nprobe,
        centroids=centroids,
        codes=codes,
    ).select("query_id", "neighbor_id")
    vecs = corpus.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("__vec")
    )
    q = queries.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("__qid"), _as_double(vec_col).alias("__qvec")
    )
    scored = (
        shortlist.join(
            F.broadcast(q), on=[shortlist.query_id == q.__qid]
        )
        .join(vecs, on=[shortlist.neighbor_id == vecs.__vid])
        .select(
            "query_id",
            "neighbor_id",
            _cosine(
                F.col("__qvec"),
                F.col("__vec"),
                l2_norm(F.col("__qvec")),
                l2_norm(F.col("__vec")),
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim").isNotNull())
    )
    return _topk(scored, k)


def pq_residuals(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid, rvec): each vector's offset from its nearest coarse
    centroid — the representation FAISS's ``by_residual=true``
    quantizes, under a (cid, centroid) frame. One broadcast of the
    nlist-sized centroid frame + a narrow ``zip_with`` map — nothing
    corpus-crossed."""
    centroids = _centroids(centroids)
    cells = _assign_cells(df, centroids, id_col, vec_col, "id", 1)
    return cells.join(F.broadcast(centroids), on="cid").select(
        "id",
        "cid",
        F.zip_with(F.col("v"), F.col("centroid"), lambda a, b: a - b).alias(
            "rvec"
        ),
    )


def pq_residual_encode(
    df: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = 16,
) -> DataFrame:
    """(id, sub, code, cid): residual PQ codes carrying their cell id —
    the stored row of a ``by_residual`` IndexIVFPQ shard. Encoding
    depends only on the FROZEN (centroids, codebooks) artifacts, never
    on the rest of the corpus, which is what makes per-batch encodes
    mergeable under continuous ingestion
    (``streaming.sinks.maintain_pq_codes``)."""
    res = pq_residuals(df, centroids, id_col=id_col, vec_col=vec_col)
    # cell id stored WITH the code: the row-local encode carries it as
    # a passthrough column — the old form re-joined codes to the
    # residual frame on id, a corpus-sized shuffle both sides for a
    # value already sitting on the row
    return _encode_rowlocal(
        res.where(F.col("rvec").isNotNull()).select(
            "id", F.col("rvec").alias("v"), "cid"
        ),
        codebooks,
        sub_dim,
        passthrough=("cid",),
    ).select("id", "sub", "code", "cid")


def pq_ivf_residual_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sub_dim: int = 16,
    m: int = 4,
    kcodes: int = 16,
    iters: int = 1,
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IndexIVFPQ with RESIDUAL encoding — FAISS's ``by_residual=true``
    default, completing the raw-code variant ``pq_ivf_adc_topk``: each
    corpus vector is PQ-encoded as its offset FROM its cell centroid,
    and each query builds one ADC table PER PROBED CELL from its own
    residual against that centroid.

    Why residuals win at scale: after subtracting the coarse centroid,
    the residual distribution is centered and far tighter than the raw
    data, so the SAME codebook budget (m x kcodes) quantizes with much
    lower error — this is why FAISS defaults to it. The cost is the
    per-(query, cell) lookup table: q * nprobe * m * kcodes rows
    instead of q * m * kcodes — still bounded and broadcast.

    Plan shape (the round-8 stored-cells lesson applied from the
    start): codes CARRY their cell id, and the one scoring join is
    ``codes x broadcast(LUT)`` on ``(cid, sub, code)`` — the cid key
    prunes to probed cells and scores in the same broadcast hash
    probe; no corpus-sized candidate shuffle exists anywhere. The
    residual computation itself is a narrow ``zip_with`` map after a
    broadcast of the nlist-sized centroid frame.

    Returns (query_id, neighbor_id, adc_dist, rank) — ascending
    settled ADC distance, neighbor-id tie-break, self-pairs excluded.
    Training is deterministic: first-``kcodes`` residuals by id seed
    the codebooks, same convention as ``pq_train``.

    Every subtree stays lazy: checkpointing the residual frame and its
    components gained nothing at sf0.1 (5.08 vs 5.12 s; SCALE.md
    "Retired paths").
    """
    centroids = _centroids(centroids, corpus, id_col, vec_col, nlist)
    residual = F.zip_with(
        F.col("v"), F.col("centroid"), lambda a, b: a - b
    ).alias("rvec")

    res = pq_residuals(corpus, centroids, id_col=id_col, vec_col=vec_col)
    # codebooks injectable for the production shape (train once at
    # index build, serve every query from the frozen artifact —
    # FAISS semantics); default trains in-plan with the
    # deterministic first-kcodes seed convention
    cb = (
        codebooks
        if codebooks is not None
        else pq_train(
            res, id_col="id", vec_col="rvec", m=m, k=kcodes,
            sub_dim=sub_dim, iters=iters,
        )
    )
    # row-local encode with the cell id as a passthrough column —
    # no corpus-sized codes-x-residuals join (r14; the same shape
    # as pq_residual_encode)
    codes_cid = _encode_rowlocal(
        res.where(F.col("rvec").isNotNull()).select(
            "id", F.col("rvec").alias("v"), "cid"
        ),
        cb,
        sub_dim,
        passthrough=("cid",),
    ).select("id", "sub", "code", "cid")

    query_cells = _assign_cells(
        queries, centroids, id_col, vec_col, "query_id", nprobe
    )
    qres = query_cells.join(F.broadcast(centroids), on="cid").select(
        "query_id", "cid", residual
    )
    # per-(query, cell) LUT: same settled ||r_sub - c||^2 table as
    # _adc_lut with the cell id carried through every key — row-local
    # over the (query, probed-cell) residual rows (r14), zero shuffles
    rv = F.col("rvec")
    lut_arr = _lut_array(sub_dim, "rvec")
    lut = (
        qres.where(rv.isNotNull())
        .join(F.broadcast(_codebook_struct(cb)), how="cross")
        .select("query_id", "cid", F.explode(lut_arr).alias("__e"))
        .select(
            "query_id",
            "cid",
            F.col("__e.sub").alias("sub"),
            F.col("__e.code").alias("code"),
            F.col("__e.__u").alias("__u"),
        )
    )
    scored = (
        codes_cid.join(F.broadcast(lut), on=["cid", "sub", "code"])
        .where(F.col("query_id") != F.col("id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg((F.sum("__u") / 1e6).alias("adc_dist"))
    )
    return _topk(scored, k, "adc_dist")
