"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference deduplicates only exactly (``dropDuplicates`` at ``02:66``;
groupBy-count duplicate detection at ``_lib_dq_helpers.py:138-145``).
A training-data pipeline needs near-dup detection too; everything here is
composed from DataFrame ops — explode/groupBy/join — so Catalyst plans
it, and the only shuffles are the ones the algorithms inherently need
(one per groupBy on shingle/band keys).

Scale notes (100 TB): shingling explodes row count by ~tokens-per-doc, so
all downstream aggregates are map-side-combinable mins/sums; LSH banding
turns the quadratic all-pairs problem into equi-joins on band buckets,
which AQE can re-plan when buckets skew.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from news_data_pipeline_spark.functions.exact import settled_round
from news_data_pipeline_spark.functions.text import fingerprint
from news_data_pipeline_spark.operators.fanout import fan_out


def exact_dedup(
    df: DataFrame, keys: Sequence[str], *, tie_break: Sequence[str]
) -> DataFrame:
    """Keep exactly one row per key — deterministically (first by
    ``tie_break``), unlike ``dropDuplicates`` which keeps an arbitrary
    row (the reference's silver dedup, ``02:66``).

    A ``row_number`` window, so column pruning narrows its exchange to
    the columns the caller reads (``fingerprint_dedup``'s aggregate
    does not prune, by design)."""
    w = Window.partitionBy(*keys).orderBy(*tie_break)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def fingerprint_key(text_col: str, id_col: str) -> Column:
    """``fingerprint_dedup``'s key: the normalization fingerprint of
    ``text_col``, or for NULL text the per-row surrogate ``"null:<id>"``
    (md5 is 32 hex chars and never contains ':', so no collision)."""
    return F.coalesce(
        fingerprint(F.col(text_col)),
        F.concat(F.lit("null:"), F.col(id_col).cast("string")),
    )


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact near-dup: dedup on the normalization fingerprint
    (case/punct/whitespace-insensitive), keeping the lowest id.

    Rows whose fingerprint is NULL (null text) all survive: null is
    "unknown", not a shared key — the same contract the against-corpus
    anti-join keeps (a null key never matches), so batch-internal and
    cross-batch dedup agree on null-text documents.

    One ``min_by(struct(*columns), struct(id))`` aggregate per key, not
    a window. No optimizer rule prunes struct fields through an
    ``Aggregate``, so two readers of the output (the corpus chain's
    mixture rates and mixture sample) plan the same exchange, AQE
    reuses it, and the scan and UDFs upstream run once; under a window
    the count side's exchange is pruned narrower and everything
    upstream runs once per reader. The cost: every column crosses the
    exchange even when the caller keeps a few. A caller that keeps only
    ids should dedup ``fingerprint_key`` with ``exact_dedup`` instead
    (``queries.llmdata.dedup_exact_fingerprint``).

    The ordering is a struct because ``min_by`` skips NULL orderings,
    while a struct holding a NULL is not NULL and sorts first, so a
    NULL id wins its group as in an ascending ORDER BY. ``min_by``, not
    ``min(struct)``: ``min`` cannot order a struct holding a map.
    """
    # fan_out: the normalization regexp + md5 over full text is the
    # cost here and would otherwise pipeline onto a one-task scan.
    # The surrogate key puts each null-text row alone in its group, in
    # ONE pass (a filter+union formulation would fingerprint the corpus
    # twice; a shared null group would funnel null-heavy corpora into
    # one task).
    row = F.min_by(F.struct(*df.columns), F.struct(id_col))
    return (
        fan_out(df)
        .groupBy(fingerprint_key(text_col, id_col))
        .agg(row.alias("__row"))
        .select("__row.*")
    )


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle).

    Built from split + sequence + transform — all codegen'd; the explode
    is the one unavoidable row-expansion. ``distinct=False`` skips the
    dedup shuffle for consumers whose aggregate is duplicate-insensitive
    (MinHash: min over a multiset == min over its set).

    PRECONDITION for ``distinct=True`` (ADVICE r14): input ``id_col``
    values must be UNIQUE — the dedup is row-local (``array_distinct``
    before the explode), which equals a global ``(id, shingle)``
    distinct only when every id owns exactly one row. A corpus with a
    document ingested twice under the same id would emit duplicate
    (id, shingle) pairs where the pre-r14 global ``.distinct()``
    collapsed them. Every registered caller reads id-keyed tables;
    dedupe upstream (``dedup_exact`` / ``dedup_incremental_exact``)
    before shingling anything re-ingested.
    """
    # Materialize the words array as a column FIRST: referencing the raw
    # split(...) expression inside the transform lambda would re-split
    # the text once per shingle (quadratic per document). Likewise,
    # per-word F.get is O(1) where F.slice would copy O(n_words).
    # fan_out BEFORE the split: on a small/single-row-group scan the
    # whole shingle+hash pipeline would otherwise run in one task.
    with_words = fan_out(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    ).select(
        "id",
        F.split(F.trim(F.col("__t")), r"\s+").alias("__words"),
    )
    words = F.col("__words")
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    grams = F.transform(
        idx,
        # concat_ws skips nulls, so docs shorter than n words still
        # produce one shingle of the available words (F.get is null
        # out-of-bounds — no ANSI error, unlike element_at).
        lambda i: F.concat_ws(" ", *[F.get(words, i + k) for k in range(n)]),
    )
    # distinct=True: per-document shingle dedup is ROW-LOCAL by
    # construction — every duplicate of an (id, shingle) pair lives in
    # the id's own grams array, so ``array_distinct`` BEFORE the
    # explode yields exactly ``out.distinct()``'s row set with zero
    # shuffle (guide §2.4: a distinct on data that is already unique
    # across rows). The old ``.distinct()`` shuffled the full exploded
    # shingle table — measured 0.65 s of ngram_jaccard_pairs' 2.9 s at
    # sf0.1, and at corpus scale a full extra exchange of the explode.
    out = with_words.select(
        "id",
        F.explode(F.array_distinct(grams) if distinct else grams).alias(
            "shingle"
        ),
    ).where(F.length("shingle") > 0)
    return out


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """MinHash signature per document: one min per seeded hash family.

    Each seeded digest ``md5(seed_j || shingle)`` yields FOUR independent
    32-bit families (its 8-hex-char quarters), so ``num_hashes``
    components cost ``num_hashes/4`` md5 evaluations per shingle — the
    hash is the hot loop's only non-trivial op, and this quarters it.
    Lexicographic min over an 8-hex-char slice == numeric min over a
    32-bit value, a valid min-wise family; md5 + substring exist in
    ANSI SQL, so the oracle reproduces every component exactly. One
    groupBy computes all components (map-side combined).
    """
    digests = [
        F.md5(F.concat(F.lit(f"seed{j}:"), F.col("shingle")))
        for j in range((num_hashes + 3) // 4)
    ]
    aggs = [
        F.min(F.substring(digests[i // 4], 8 * (i % 4) + 1, 8)).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy("id").agg(*aggs)


def banded_buckets(
    signatures: DataFrame, *, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """(id, band, bucket) LSH bucket membership from a signature matrix.

    One bucket hash per band, exploded from a single Project — NOT a
    union of per-band selects, which would re-run the whole signature
    pipeline once per band (and self-joins over it would double that
    again). Shared by the pair self-join and the incremental
    against-corpus probe.
    """
    bucket_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
        )
        for b in range(bands)
    ]
    return signatures.select(
        "id", F.posexplode(F.array(*bucket_cols)).alias("band", "bucket")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, *, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: docs agreeing on all rows of any band become a
    candidate pair. Returns distinct (id_a, id_b) with id_a < id_b.

    The signature matrix is banded into ``bands`` groups of
    ``rows_per_band`` components; each band hashes to a bucket key and
    pairs emerge from an equi-self-join per bucket — no quadratic pass.
    """
    # No persist: both self-join sides are the IDENTICAL subplan, so AQE
    # materializes the signature groupBy's shuffle once and both sides
    # read the same shuffle stage (verified: post-execution plan shows
    # one ShuffleQueryStage id referenced twice; tests/test_dedup.py
    # asserts it). Shuffle files live on executor-local disk — the right
    # medium at 100 TB — and need no cache lifecycle, unlike persist(),
    # which parks n_docs*bands rows in storage memory until someone
    # remembers to unpersist.
    banded = banded_buckets(
        signatures, bands=bands, rows_per_band=rows_per_band
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.bucket") == F.col("r.bucket"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """End-to-end MinHash+LSH near-dup candidates over a document table."""
    sh = word_shingles(df, id_col, text_col, n=shingle_n, distinct=False)
    sigs = minhash_signatures(sh, num_hashes=bands * rows_per_band)
    return lsh_candidate_pairs(sigs, bands=bands, rows_per_band=rows_per_band)


def two_stage_lsh_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(shingles, signatures, candidate_pairs), each materialized ONCE.

    The generate-then-verify consumers (exact-Jaccard scoring, sketch
    audits) reference the shingle table and the candidate list from
    several branches; left lazy, every branch re-derives the
    shingle->MinHash->band lineage from the source scan (measured: 8-12
    static scans per plan), and at corpus scale re-shingling is the
    dominant cost. Eager ``localCheckpoint`` truncates the lineage the
    same way ``graph.connected_components``' edge checkpoint does
    (operators/graph.py — the round-4 fix that took the component
    queries from 36 scans to 0), so downstream plans replay three cached
    frames and never touch the source again.

    Signatures are built from the DISTINCT shingle table: MinHash is
    duplicate-insensitive (min over a multiset == min over its set), so
    sharing the distinct frame with the Jaccard side loses nothing and
    saves a second explode. Storage note: the checkpointed blocks live
    until the RDDs are garbage-collected — callers that need the
    no-persisted-state contract should keep using the lazy operators.

    Fault-tolerance note (cluster runs): ``localCheckpoint`` truncates
    lineage WITHOUT replication — the cached blocks live only on the
    executor that produced them, so a single executor loss after the
    checkpoint makes the job unrecoverable (there is no lineage left to
    recompute from). That is the right trade on a single-node session
    and for short jobs; on a 1000-executor run prefer reliable
    ``checkpoint()`` to a DFS checkpoint dir, or
    ``persist(StorageLevel.MEMORY_AND_DISK_2)`` (2x replication) — same
    lineage-truncation benefit, survives executor churn.
    """
    sh = word_shingles(df, id_col, text_col, n=shingle_n).localCheckpoint(
        eager=True
    )
    sigs = minhash_signatures(
        sh, num_hashes=bands * rows_per_band
    ).localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=rows_per_band
    ).localCheckpoint(eager=True)
    return sh, sigs, pairs


def exact_dedup_against_corpus(
    new_df: DataFrame, corpus: DataFrame, text_col: str
) -> DataFrame:
    """Incremental exact dedup: drop new-batch rows whose normalization
    fingerprint already exists in a reference corpus.

    The production shape of continuous ingestion — each arriving batch
    is deduplicated against everything already accepted, NOT by
    re-deduplicating the union (which would re-hash the full corpus per
    batch AND could evict previously-kept rows). One narrow fingerprint
    projection per side and a left-anti join on the 128-bit key; the
    corpus side prunes to a single column before the shuffle, so at
    scale the probe moves ~16 bytes/row. Rows with a null ``text_col``
    fingerprint to null and survive (a null join key never matches) —
    null-vs-null equality must not silently collapse distinct empty
    documents. Batch-internal duplicates are kept (dedup them first
    with ``fingerprint_dedup`` — separable policies).
    """
    if "__fp" in new_df.columns:
        raise ValueError(
            "exact_dedup_against_corpus reserves column name '__fp'; "
            "rename it before calling"
        )
    new_fp = fan_out(new_df).withColumn("__fp", fingerprint(F.col(text_col)))
    corpus_fp = corpus.select(fingerprint(F.col(text_col)).alias("__fp"))
    return new_fp.join(corpus_fp, on="__fp", how="left_anti").drop("__fp")


def lsh_dedup_against_corpus(
    new_df: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Incremental NEAR-dup: drop new-batch rows sharing any MinHash LSH
    band bucket with a reference-corpus document.

    Same banding as ``minhash_lsh_dedup_pairs``, but instead of the
    all-pairs self-join, the new side left-semi probes the corpus's
    (band, bucket) membership — contamination detection stops at the
    first shared bucket, so the join never materializes candidate
    PAIRS, only flagged ids: linear output even when a batch document
    collides with a million corpus near-copies. Cost is one
    shingle+signature pass per side (the corpus side is recomputed
    here; persist its buckets externally for a real rolling pipeline)
    plus two bucket/id-keyed shuffles. Documents with no shingles
    (empty text) have no buckets and survive.
    """
    new_b = banded_buckets(
        minhash_signatures(
            word_shingles(new_df, id_col, text_col, n=shingle_n, distinct=False),
            num_hashes=bands * rows_per_band,
        ),
        bands=bands,
        rows_per_band=rows_per_band,
    )
    corpus_b = banded_buckets(
        minhash_signatures(
            word_shingles(corpus, id_col, text_col, n=shingle_n, distinct=False),
            num_hashes=bands * rows_per_band,
        ),
        bands=bands,
        rows_per_band=rows_per_band,
    ).select("band", "bucket")
    contaminated = (
        new_b.join(corpus_b, on=["band", "bucket"], how="left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return new_df.join(contaminated, on=id_col, how="left_anti")


def shared_shingles(
    sh: DataFrame, *, max_df: int | None = None
) -> DataFrame:
    """Posting-list prune for the Jaccard self-join: keep shingles whose
    document frequency is in ``[2, max_df]``.

    df == 1 shingles can't produce a pair (free exact prune). df >
    ``max_df`` shingles are boilerplate — navigation chrome, license
    headers — whose posting lists cost df^2 join rows while carrying
    ~zero Jaccard signal; ONE shingle shared by 10^6 docs is a 10^12-row
    join. Capping them bounds the per-shingle join cost at max_df^2,
    making total cost linear in corpus size for fixed max_df.
    """
    counted = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    keep = F.col("__df") > 1
    if max_df is not None:
        keep = keep & (F.col("__df") <= max_df)
    return counted.where(keep).select("shingle")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All document pairs with n-gram Jaccard similarity >= threshold.

    With ``max_df=None`` this is exact: inverted-index self-join on
    shared shingles, cost = sum over shingles of df^2 within a posting
    list. At scale, ALWAYS set ``max_df``: shingles in more than
    ``max_df`` documents are excluded from pair generation (not from the
    per-doc sizes), bounding each posting list's join cost at max_df^2 —
    see ``shared_shingles``. Pairs whose overlap is only boilerplate
    score lower or disappear; use the MinHash/LSH path for recall and
    this as the candidate verifier. Jaccard is rounded to 4dp before
    thresholding so the oracle's float math agrees.

    Physical strategy follows the cap: with ``max_df`` set, posting
    lists are bounded arrays, so pairs come from one collect_list
    aggregate per shingle (a single shuffle); without it, the
    equi-self-join streams unbounded posting lists without ever
    materializing one. Both emit the identical pair multiset.

    A prefix-filtered candidate path (AllPairs/PPJoin) lost its A/B to
    the bounded path and was retired: see SCALE.md "Retired paths".
    """
    # Identical subplans (the shingle table feeding several shuffles)
    # share one materialized exchange under AQE — no persist needed
    # (see lsh_candidate_pairs).
    sh = word_shingles(df, id_col, text_col, n=n)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is not None:
        # Bounded-df path: posting lists are capped at max_df ids, so
        # collect them per shingle and emit pairs from the (<= max_df
        # choose 2)-element array. Document frequency comes from the
        # map-side-combined aggregate in shared_shingles — NOT a
        # count-window by shingle, which would shuffle every occurrence
        # of an ultra-hot boilerplate shingle into ONE window task just
        # to discard it (no partial aggregation, no skew handling). The
        # semi-join routes hot-shingle rows through a sort-merge join
        # that AQE's skew handling can split; only df-in-[2,max_df]
        # rows reach the collect_list, so no array exceeds max_df and
        # that shuffle has no skewed keys left.
        kept = sh.join(
            shared_shingles(sh, max_df=max_df), on="shingle", how="left_semi"
        )
        posts = kept.groupBy("shingle").agg(F.collect_list("id").alias("ids"))
        # Pairs via two codegen'd explodes + a filter, NOT nested
        # transform/slice/struct lambdas: higher-order array functions
        # are interpreted per element, and at ~millions of generated
        # pairs that interpretation dominated the whole operator
        # (measured 1.9 s -> 1.2 s at sf0.1). The double explode emits
        # df^2 rows streamed through GenerateExec; id_a < id_b keeps
        # each unordered pair exactly once ((id, shingle) is distinct,
        # so no self-pair survives and no pair repeats within a list).
        pairs = (
            posts.select(F.explode("ids").alias("id_a"), "ids")
            .select("id_a", F.explode("ids").alias("id_b"))
            .where(F.col("id_a") < F.col("id_b"))
        )
        common = pairs.groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("common")
        )
    else:
        # Exact/unbounded path: a hot shingle's posting list must never
        # materialize as one array, so pairs come from the equi-self-join
        # (linear rows in, df^2 rows out, streamed — never held).
        sh_shared = sh.join(
            shared_shingles(sh, max_df=None), on="shingle", how="left_semi"
        )
        a = sh_shared.alias("a")
        b = sh_shared.alias("b")
        common = (
            a.join(
                b,
                on=[
                    F.col("a.shingle") == F.col("b.shingle"),
                    F.col("a.id") < F.col("b.id"),
                ],
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        common.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            # settled: common/union is an exact integer ratio, which is
            # precisely the half-way-cell class where round() flips
            # across engines/DuckDB builds (r5)
            settled_round(
                F.col("common")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("common")).cast(
                    "double"
                ),
                4,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_for_pairs(
    pairs: DataFrame, shingles: DataFrame
) -> DataFrame:
    """Exact shingle Jaccard for an explicit candidate-pair list:
    ``(id_a, id_b)`` + ``(id, shingle)`` -> ``(id_a, id_b, jaccard)``.

    The verification half of two-stage near-dup detection: LSH banding
    proposes candidates (cheap, recall-oriented, with bucket-collision
    false positives), and this scores ONLY those pairs exactly —
    cost is the sum of candidate documents' shingle counts, not the
    all-pairs posting-list join an unscoped exact pass needs.
    Intersection = one equi-join of the pair list against each side's
    shingle set; union = |A| + |B| - intersection from per-doc sizes.
    Candidates sharing no shingle (pure bucket collisions) score 0.0
    rather than dropping out — the caller's threshold sees every
    candidate it asked about. ``shingles`` must be distinct per
    (id, shingle), as ``word_shingles(distinct=True)`` produces.
    """
    sa = shingles.select(F.col("id").alias("id_a"), "shingle")
    sb = shingles.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        pairs.join(sa, on="id_a")
        .join(sb, on=["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("__n"))
    # LEFT joins + coalesce throughout: a candidate id with NO shingles
    # (empty/whitespace-only text) still comes back, scored 0.0 — the
    # contract is every pair in, one row out. A both-empty pair has
    # union 0; it is defined as 0.0 (not similar), never a null or a
    # dropped row.
    shared = F.coalesce(F.col("__shared"), F.lit(0))
    union = (
        F.coalesce(F.col("__na"), F.lit(0))
        + F.coalesce(F.col("__nb"), F.lit(0))
        - shared
    )
    return (
        pairs.join(inter, on=["id_a", "id_b"], how="left")
        .join(
            sizes.select(F.col("id").alias("id_a"), F.col("__n").alias("__na")),
            on="id_a",
            how="left",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("__n").alias("__nb")),
            on="id_b",
            how="left",
        )
        .select(
            "id_a",
            "id_b",
            # settled integer-ratio round (see ngram_jaccard_pairs)
            settled_round(
                F.when(union > 0, shared / union.cast("double")).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).alias("jaccard"),
        )
    )


def remove_frequent_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    delimiter: str = "\n",
    max_doc_ratio: float = 0.5,
    out_col: str = "cleaned_text",
) -> DataFrame:
    """Strip segments that appear in more than ``max_doc_ratio`` of all
    documents — corpus-adaptive boilerplate removal.

    With ``delimiter='\\n'`` this is CCNet/RefinedWeb-style line-level
    dedup (navigation chrome, cookie banners, license footers repeat
    verbatim across a site's pages; any line present in most documents
    is boilerplate, not content). With ``delimiter=' '`` it is
    corpus-adaptive stopword removal — the threshold derives from THIS
    corpus's document frequencies, not a fixed language list.

    Shape: segments explode to (id, pos, segment); document frequency
    is one count-distinct per segment (map-side combined); the hot set
    joins back as a left-anti (never broadcast-assumed — a boilerplate
    set from a billion-page crawl can be huge); surviving segments
    reassemble in position order with one ``collect_list`` aggregate.
    Cost is linear in corpus token count with two segment-keyed
    shuffles — nothing quadratic, no per-document Python.

    Output: every input row, with ``out_col`` holding the reassembled
    text (empty segments from doubled delimiters are dropped — i.e.
    whitespace-normalized), plus ``n_segments_kept``. A document whose
    every segment was boilerplate keeps an empty string; a null
    ``text_col`` stays null (``n_segments_kept`` 0).
    """
    if not 0.0 < max_doc_ratio <= 1.0:
        raise ValueError(
            f"max_doc_ratio must be in (0, 1], got {max_doc_ratio}"
        )
    reserved = {"__pos", "__seg", "__df", "__total", out_col, "n_segments_kept"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"remove_frequent_segments reserves columns {sorted(clash)}; "
            "rename them first"
        )
    segs = (
        fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col)))
        .select(
            "id",
            F.posexplode(
                F.split(F.col(text_col), re.escape(delimiter))
            ).alias("__pos", "__seg"),
        )
        .where(F.col("__seg") != "")
    )
    # 1-row total (the tfidf broadcast-N pattern): the ratio threshold
    # needs the corpus size, never collected to the driver
    total = df.select(F.count(F.lit(1)).alias("__total"))
    hot = (
        segs.groupBy("__seg")
        .agg(F.count_distinct("id").alias("__df"))
        .join(F.broadcast(total), how="cross")
        .where(F.col("__df") > F.lit(max_doc_ratio) * F.col("__total"))
        .select("__seg")
    )
    kept = segs.join(hot, on="__seg", how="left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__seg"))),
                lambda s: s["__seg"],
            ),
            delimiter,
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_segments_kept"),
    )
    return (
        df.join(
            rebuilt.withColumnRenamed("id", id_col), on=id_col, how="left"
        )
        .withColumn(
            out_col,
            F.when(
                F.col(text_col).isNull(), F.lit(None).cast("string")
            ).otherwise(F.coalesce(F.col(out_col), F.lit(""))),
        )
        .withColumn(
            "n_segments_kept", F.coalesce("n_segments_kept", F.lit(0))
        )
    )


def cross_corpus_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    eval_id_col: str | None = None,
    eval_text_col: str | None = None,
) -> DataFrame:
    """Training documents sharing any word n-gram with an eval corpus —
    the decontamination pass every benchmark-honest training pipeline
    runs before training.

    Returns (id, n_contaminated_shingles): training docs with at least
    one shingle that also appears in the eval set, with the count of
    distinct overlapping shingles (the filter threshold is the caller's
    policy call). The eval side collapses to DISTINCT shingles and is
    broadcast — eval sets are thousands of documents against a corpus of
    billions, so the training side never shuffles for the probe; the
    only full-corpus cost is the shingling projection itself.
    """
    t = word_shingles(train, id_col, text_col, n=n)
    e = (
        word_shingles(
            eval_df, eval_id_col or id_col, eval_text_col or text_col, n=n
        )
        .select("shingle")
        .distinct()
    )
    return (
        t.join(F.broadcast(e), on="shingle", how="inner")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_shingles"))
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 3
) -> DataFrame:
    """Within-document repetition signal (the Gopher-style "rep" family):
    duplicate n-gram fraction per document.

    Machine-generated and boilerplate-stuffed pages repeat themselves;
    ``dup_gram_ratio`` = 1 - distinct/total n-grams is the cheap,
    language-agnostic detector. One groupBy by doc id — map-side
    combinable counts, no cross-document work at all.
    """
    sh = word_shingles(df, id_col, text_col, n=n, distinct=False)
    return (
        sh.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_distinct(F.col("shingle")).alias("n_distinct_grams"),
        )
        .withColumn(
            "dup_gram_ratio",
            # settled integer-ratio round (see ngram_jaccard_pairs)
            settled_round(
                (F.col("n_grams") - F.col("n_distinct_grams"))
                / F.col("n_grams").cast("double"),
                4,
            ),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash fingerprint per document (md5-derived token hashes).

    Each token votes +1/-1 per bit position by its hash bit; the sign
    vector packs into a single BIGINT. The 64-bit token hash is the two
    32-bit halves of ``md5(tok)`` (same scheme ``minhash_signatures``
    uses): md5 + substring + base-16 conversion all exist in ANSI SQL,
    so the oracle reproduces every bit exactly — unlike xxhash64, which
    has no SQL twin and would leave this operator rows-only verified.
    One md5 per token; bit extraction is codegen'd shift/mask arithmetic.
    Near-dup = small hamming distance between fingerprints.
    """
    tokens = word_shingles(
        df, id_col, text_col, n=1, distinct=False
    ).withColumnRenamed("shingle", "tok")
    digest = F.md5("tok")
    hashed = tokens.select(
        "id",
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long").alias("h_lo"),
        F.conv(F.substring(digest, 9, 8), 16, 10).cast("long").alias("h_hi"),
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(
                    F.col("h_lo") if b < 32 else F.col("h_hi"), b % 32
                ).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"bit_{b}")
        for b in range(bits)
    ]
    per_doc = hashed.groupBy("id").agg(*votes)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(
            F.col(f"bit_{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return per_doc.select("id", sig.alias("simhash"))


def hamming_distance(a, b):
    """Hamming distance between two 64-bit fingerprints. Accepts column
    names or Column expressions."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    threshold: float = 0.9,
    m: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with LSH-style blocking.

    Sign-bucket blocking (first ``m`` component signs — a fixed
    hyperplane family) shrinks the all-pairs cross product ~2^m before
    any cosine math; within-bucket pairs score with codegen'd array
    expressions and survive at ``cosine >= threshold``. Same recall
    trade-off as ``similarity.signbucket_topk``: raise recall by
    scoring across the handful of nearest buckets, or run the exact
    ``ngram_jaccard_pairs``-style verifier on candidates.
    """
    from news_data_pipeline_spark.operators.similarity import (
        _cosine,
        l2_norm,
        sign_bucket,
    )

    # Norms hoisted to once per vector (higher-order array expressions
    # are interpreted, so per-pair evaluation costs bucket-size x more);
    # the per-pair math is dot/(na*nb) — identical operation order, so
    # results are bit-for-bit the same as the naive formula.
    v = (
        fan_out(
            df.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("e"),
            )
        )
        .withColumn("bucket", sign_bucket(F.col("e"), m))
        .withColumn("nrm", l2_norm(F.col("e")))
    )
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(
            b,
            on=[F.col("a.bucket") == F.col("b.bucket"), F.col("a.id") < F.col("b.id")],
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            _cosine(
                F.col("a.e"), F.col("b.e"), F.col("a.nrm"), F.col("b.nrm")
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (rolling k-gram hash + min-sample).

    The MOSS algorithm: hash every character k-gram, slide a window of
    ``window`` consecutive positions, keep each window's minimum hash —
    guaranteeing any match of length >= k+window-1 shares a fingerprint,
    while storing ~2/(window+1) of the hashes. Output: distinct
    (id, fingerprint) pairs — the containment-search index for plagiarism
    /near-dup detection at corpus scale.

    All relational: posexplode over the k-gram index sequence, md5 as the
    rolling hash (8-hex-char prefix ~ 32 bits), and the min-sample as a
    bounded range window per document — every stage shuffles only by
    doc id, exactly once.
    """
    raw = fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__raw")))
    with_text = raw.select(
        "id", F.lower(F.regexp_replace(F.col("__raw"), r"\s+", " ")).alias("__t")
    )
    idx = F.sequence(
        F.lit(0), F.greatest(F.length("__t") - k, F.lit(0))
    )
    grams = with_text.select(
        "id", "__t", F.posexplode(idx).alias("pos", "__i")
    ).withColumn("gram", F.expr(f"substring(__t, __i + 1, {k})"))
    hashed = grams.select(
        "id", "pos", F.substring(F.md5("gram"), 1, 8).alias("h")
    )
    w = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rangeBetween(0, window - 1)
    )
    return (
        hashed.withColumn("fingerprint", F.min("h").over(w))
        .select("id", "fingerprint")
        .distinct()
    )


def lsh_dedup_representatives(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    bands: int = 4,
    rows_per_band: int = 4,
    max_iter: int = 3,
    materialize: bool = False,
) -> DataFrame:
    """Map every document to its near-dup cluster representative —
    WITHOUT enumerating pairs.

    On duplicate-heavy corpora (the common case for web-scale training
    data), ``minhash_lsh_dedup_pairs`` emits O(cluster_size^2) pairs per
    cluster — measured: a 100k-doc corpus of 500-way duplicates yields
    475M pairs. Dedup doesn't need the pairs: it needs one surviving doc
    per cluster. This runs min-label propagation on the doc↔bucket
    bipartite graph (docs sharing any LSH band bucket join the same
    cluster): per iteration, each bucket takes the min label of its
    members, each doc the min label of its buckets. Cost per iteration
    is two groupBys over n_docs*bands rows — linear, no pair blowup.
    ``max_iter`` bounds transitive-chain depth (clusters chained through
    k distinct buckets need k iterations; duplicate clusters sharing all
    buckets converge in one).

    ``materialize``: eagerly ``localCheckpoint`` the (id, bucket)
    membership once so each propagation hop replays a cached frame
    instead of re-deriving the shingle->MinHash lineage per static plan
    branch (the ``two_stage_lsh_frames`` tradeoff — blocks live until
    RDD GC, and the same executor-loss caveat applies: localCheckpoint
    is unreplicated, so on clusters prefer reliable checkpoint()/
    persist(MEMORY_AND_DISK_2) — see ``two_stage_lsh_frames``). Default False preserves the lazy no-persisted-state
    contract this operator is test-pinned to: AQE exchange reuse
    already executes the signature shuffle once even though the static
    plan repeats the scan.

    Returns (id, rep) — keep rows where ``id == rep`` for the deduped
    corpus, or join back for cluster audits.
    """
    sh = word_shingles(df, id_col, text_col, n=shingle_n, distinct=False)
    sigs = minhash_signatures(sh, num_hashes=bands * rows_per_band)
    bucket_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)],
            )
        ).alias(f"b_{b}")
        for b in range(bands)
    ]
    # (id, bucket) membership — n_docs * bands rows. NOT persisted: every
    # iteration references the identical subplan, so AQE computes the
    # signature shuffle once and every branch reads that shuffle stage
    # (tests assert no persisted RDDs remain after the action — the
    # round-1 persist here leaked storage memory in long-lived sessions).
    member = (
        sigs.select("id", F.posexplode(F.array(*[c for c in bucket_cols])).alias("band", "bucket"))
        .withColumn("bucket", F.concat_ws("#", F.col("band").cast("string"), "bucket"))
        .select("id", "bucket")
    )
    if materialize:
        member = member.localCheckpoint(eager=True)
    labels = member.select("id").distinct().withColumn("label", F.col("id"))
    for _ in range(max_iter):
        bucket_min = (
            member.join(labels, on="id")
            .groupBy("bucket")
            .agg(F.min("label").alias("bucket_label"))
        )
        labels = (
            member.join(bucket_min, on="bucket")
            .groupBy("id")
            .agg(F.min("bucket_label").alias("label"))
        )
    # Documents with no shingles (empty/whitespace/null text) never
    # enter the bucket graph — join back so EVERY input document gets a
    # representative (itself) instead of silently vanishing.
    all_ids = df.select(F.col(id_col).alias("id")).distinct()
    return all_ids.join(labels, on="id", how="left").select(
        "id", F.coalesce(F.col("label"), F.col("id")).alias("rep")
    )


def keep_best_per_cluster(
    labeled: DataFrame,
    id_col: str,
    cluster_col: str,
    score_col: str,
) -> DataFrame:
    """One survivor per cluster: the member with the highest
    ``score_col`` (ties break to the highest ``id_col``) — the
    production final step of near-dup dedup, where "keep the minimum
    doc_id" (what plain label propagation yields) would throw away the
    cleanest copy of every duplicate group.

    Scale shape: a single ``max(struct(score, id))`` aggregate —
    map-side partial combine, one shuffle of one struct per cluster per
    partition. Deliberately NOT a ``row_number`` window: a window
    shuffles and sorts every member row inside each cluster partition,
    and web-corpus duplicate clusters are exactly where per-key row
    counts explode. The struct's field order IS the tie rule; both
    fields must be non-null (null scores sort unpredictably across
    engines — filter or fill first).

    Returns one row per cluster:
    ``(cluster_col, id_col = argmax, score_col = max, n_members)``.
    """
    reserved = {"__best", "n_members"}
    clash = reserved & set(labeled.columns)
    if clash:
        raise ValueError(
            f"keep_best_per_cluster reserves column names "
            f"{sorted(reserved)}; input uses {sorted(clash)} — rename "
            "them before calling"
        )
    best = F.max(
        F.struct(F.col(score_col).alias("s"), F.col(id_col).alias("i"))
    ).alias("__best")
    return (
        labeled.groupBy(F.col(cluster_col))
        .agg(best, F.count(F.lit(1)).alias("n_members"))
        .select(
            cluster_col,
            F.col("__best.i").alias(id_col),
            F.col("__best.s").alias(score_col),
            "n_members",
        )
    )


def span_dedup_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Cross-document duplicated-span statistics, per document.

    The span-level complement of whole-document dedup (the reference
    only drops exact row duplicates, ``02:66``): a span is an n-token
    gram at a concrete position, and it counts as *duplicated* when the
    identical gram also occurs in at least one OTHER document. The
    per-document duplicated-span fraction is the standard "how much of
    this page is boilerplate shared with the rest of the corpus" signal
    used to gate training data (ExactSubstr-style dedup recast at token
    granularity so it stays a pure groupBy/join plan).

    Scale: spans are counted per (doc, gram) FIRST — one map-side
    combinable aggregate — so cross-document frequency work runs on the
    deduplicated (doc, gram) pairs, not the raw token stream. The
    document frequency attaches via a count window PARTITIONED BY the
    gram, not a self-join: one derivation of the shingle pipeline (one
    source scan), three keyed shuffles total. Frequency skew (stop-gram
    postings) is bounded because a gram contributes one row per
    *document*, not per occurrence, and the downstream is a per-doc
    SUM — a hot gram costs bandwidth, never output rows.

    Returns ``(id, n_spans, dup_spans, dup_span_fraction)``.
    """
    spans = word_shingles(df, id_col, text_col, n=n, distinct=False)
    per_doc = spans.groupBy("id", "shingle").agg(
        F.count(F.lit(1)).alias("__c")
    )
    ndocs_w = Window.partitionBy("shingle")
    return (
        per_doc.withColumn("__ndocs", F.count(F.lit(1)).over(ndocs_w))
        .groupBy("id")
        .agg(
            F.sum("__c").alias("n_spans"),
            F.sum(
                F.when(F.col("__ndocs") >= 2, F.col("__c")).otherwise(
                    F.lit(0)
                )
            ).alias("dup_spans"),
        )
        .withColumn(
            "dup_span_fraction",
            # settled_round, not F.round: the ratio of two exact BIGINTs
            # is the same double on every engine, and floor(x*1e4+0.5)
            # is a single IEEE op on it — engine- and version-stable,
            # unlike round() whose half-way handling flipped a driver
            # hash across DuckDB builds (r5 red).
            settled_round(F.col("dup_spans") / F.col("n_spans"), 4),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    block_len: int = 8,
    prefix_len: int = 48,
    max_distance: int = 24,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs (Hernández-Stolfo), blocked.

    Classic record-linkage alternative to LSH: sort records by a
    normalization key and compare only ADJACENT records, turning the
    quadratic all-pairs problem into a linear scan. A single global
    sort would funnel everything through one window task, so this
    blocks first: records sharing a ``block_len``-char prefix form a
    block, the sorted-neighborhood window runs *within* each block
    (partitioned window — no single-partition exchange), and each
    record is compared to its one lexicographic successor by
    Levenshtein distance over a bounded ``prefix_len``-char prefix.

    Scale: the window partitions by block prefix, whose cardinality
    grows with the corpus (lengthen ``block_len`` to split further);
    edit distance runs on O(rows) adjacent pairs, each over a constant
    ``prefix_len`` slice, never on full documents. Boundary pairs that
    straddle two blocks are by construction NOT compared — the standard
    sorted-neighborhood recall trade-off; run a second pass with a
    different key (e.g. reversed text) to recover them.

    Returns ``(doc_a, doc_b, block, lev)`` for adjacent pairs within
    ``max_distance`` edits.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        F.substring(F.col(text_col), 1, block_len).alias("block"),
        F.substring(F.col(text_col), 1, prefix_len).alias("__prefix"),
    )
    w = Window.partitionBy("block").orderBy("__prefix", "__id")
    nb = base.select(
        "block",
        "__id",
        "__prefix",
        F.lead("__id").over(w).alias("__id_b"),
        F.lead("__prefix").over(w).alias("__prefix_b"),
    )
    return (
        nb.where(F.col("__id_b").isNotNull())
        .withColumn("lev", F.levenshtein("__prefix", "__prefix_b"))
        .where(F.col("lev") <= max_distance)
        .select(
            F.col("__id").alias("doc_a"),
            F.col("__id_b").alias("doc_b"),
            "block",
            "lev",
        )
    )


def remove_duplicated_spans(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """The FIX side of ``span_dedup_stats``: rewrite each document with
    corpus-duplicated n-token spans removed, keeping the globally first
    occurrence (ExactSubstr dedup à la Lee et al. 2022, recast at word
    granularity so it stays a groupBy/join plan).

    A span instance is an n-gram at a concrete (doc, position); of all
    instances of the same gram, the (id, pos)-lexicographic first
    survives and every later instance is removed — a word is dropped
    when ANY removed instance covers it (conservative on overlaps: a
    word shared by a surviving and a removed span still goes). Words
    never covered by a full n-gram (doc shorter than n, trailing
    n-1 words of unique text) are never dropped.

    Scale shape: per-gram first-instance is a map-side-combinable
    min-struct aggregate (never a window over raw occurrences — a
    boilerplate gram's occurrences stay spread across partitions and
    combine partially); the instance table re-joins it per gram, where
    a hot gram is one build row against its occurrence rows — AQE
    skew-splittable, no posting-list array ever materializes. Covered
    positions explode at most n rows per removed instance, and the
    rebuild is one per-doc sort_array over SURVIVING words only.
    Returns the input frame with ``text_col`` rewritten (other columns
    intact; null/short texts pass through unchanged).
    """
    from news_data_pipeline_spark.operators.fanout import fan_out

    words = fan_out(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    ).select(
        "id",
        F.posexplode(F.split(F.trim("__t"), r"\s+")).alias("pos", "w"),
    ).where(F.length("w") > 0)
    w = Window.partitionBy("id").orderBy("pos")
    nexts = [F.lead("w", i).over(w).alias(f"__w{i}") for i in range(1, n)]
    grams = (
        words.select("id", "pos", "w", *nexts)
        .where(F.col(f"__w{n - 1}").isNotNull())
        .select(
            "id",
            "pos",
            F.concat_ws(
                " ", "w", *[f"__w{i}" for i in range(1, n)]
            ).alias("gram"),
        )
    )
    firsts = grams.groupBy("gram").agg(
        F.min(F.struct("id", "pos")).alias("__first"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    removed = (
        grams.join(firsts, "gram")
        .where(
            (F.col("__cnt") >= 2)
            & (
                F.struct("id", "pos")
                != F.col("__first")
            )
        )
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = words.join(removed, ["id", "pos"], "left_anti")
    # alias the rebuilt frame's key to a reserved name before joining
    # back: with id_col == 'id' (or any other df column named 'id')
    # both the join condition and the df.columns select below would
    # otherwise be ambiguous references
    reserved = {"__rds_id", "__rebuilt"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"remove_duplicated_spans reserves {sorted(reserved)}; "
            f"input uses {sorted(clash)} — rename those columns first"
        )
    rebuilt = kept.groupBy("id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
        ).alias("__rebuilt")
    ).select(F.col("id").alias("__rds_id"), "__rebuilt")
    out = df.join(
        rebuilt, F.col(id_col) == F.col("__rds_id"), "left"
    ).select(
        *[c for c in df.columns if c != text_col],
        F.when(F.col(text_col).isNull(), F.lit(None))
        .otherwise(F.coalesce("__rebuilt", F.lit("")))
        .alias(text_col),
    )
    return out.select(*df.columns)


def top_ngram_char_fraction(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 2
) -> DataFrame:
    """Gopher repetition rule, short-gram half (Rae et al. 2021, A1.1):
    fraction of a document's characters contained in its single most
    frequent word n-gram (count * gram chars / doc chars). Gopher
    thresholds: reject if > 0.20 / 0.18 / 0.16 for n = 2 / 3 / 4.

    Char accounting is on the whitespace-normalized text: doc chars =
    sum(len(word)) + (n_words - 1) single separators; the gram's
    ``length(gram)`` counts its internal single spaces the same way, so
    numerator and denominator are consistent BIGINTs and the fraction
    is a settled integer ratio (the cross-engine-stable class). One
    per-doc window for the grams, two map-side-combinable groupBys —
    no cross-document work; linear at any corpus size.

    Returns (id, top_gram, top_gram_count, rep_chars, total_chars,
    top_ngram_char_frac); docs with no full n-gram (< n words —
    including empty/whitespace-only texts, which report total_chars 0)
    count 0 and fraction 0.0.
    """
    words = word_shingles(df, id_col, text_col, n=1, distinct=False)
    # left-join word totals back onto the distinct input ids: a
    # zero-word document produces no word rows, and starting from the
    # word table alone would drop it from the output instead of
    # emitting the documented (0, 0, 0.0) row (ADVICE r7)
    ids = df.select(F.col(id_col).alias("id")).distinct()
    totals = ids.join(
        words.groupBy("id").agg(
            (
                F.sum(F.length("shingle"))
                + F.count(F.lit(1))
                - F.lit(1)
            ).alias("__tc")
        ),
        "id",
        "left",
    ).select("id", F.coalesce("__tc", F.lit(0)).alias("total_chars"))
    grams = word_shingles(df, id_col, text_col, n=n, distinct=False)
    # word_shingles pads docs shorter than n with the available words;
    # keep only full n-grams (exactly n-1 separators)
    full = grams.where(
        F.size(F.split(F.col("shingle"), " ")) == n
    )
    counted = full.groupBy("id", "shingle").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = counted.groupBy("id").agg(
        F.max(
            F.struct(
                "cnt",
                # ties at the max count resolve to the LONGEST gram
                # (the worst offender for a char-fraction rule), then
                # lexicographically last — fully deterministic
                F.length("shingle").alias("__len"),
                F.col("shingle").alias("top_gram"),
            )
        ).alias("__top")
    ).select(
        "id",
        F.col("__top.top_gram").alias("top_gram"),
        F.col("__top.cnt").alias("top_gram_count"),
    )
    return (
        totals.join(top, on="id", how="left")
        .select(
            "id",
            "top_gram",
            F.coalesce("top_gram_count", F.lit(0)).alias("top_gram_count"),
            (
                F.coalesce("top_gram_count", F.lit(0))
                * F.coalesce(F.length("top_gram"), F.lit(0))
            ).cast("long").alias("rep_chars"),
            F.col("total_chars").cast("long"),
        )
        .withColumn(
            "top_ngram_char_frac",
            # zero-word docs: 0/0 would be NaN; the documented value is 0.0
            F.when(F.col("total_chars") == 0, F.lit(0.0)).otherwise(
                settled_round(
                    F.col("rep_chars")
                    / F.col("total_chars").cast("double"),
                    4,
                )
            ),
        )
    )


def dup_ngram_char_coverage(
    df: DataFrame, id_col: str, text_col: str, *, n: int = 5
) -> DataFrame:
    """Gopher repetition rule, long-gram half (Rae et al. 2021, A1.1):
    fraction of a document's word characters covered by n-grams that
    occur MORE THAN ONCE within the document — position-coverage, so
    overlapping duplicate grams never double-count a character. Gopher
    thresholds: reject if > 0.15 ... 0.10 for n = 5 ... 10.

    Shape: per-doc positioned grams (one window over (id, pos) — the
    per-document key keeps every partition balanced), within-doc
    counts by (id, gram) — map-side combinable, never a corpus-wide
    gram key — then each duplicated instance explodes its <= n covered
    positions and a distinct-union joins back to the word table.
    Numerator = sum(len(word)) over covered positions; denominator =
    sum(len(word)) over all positions (separators excluded on BOTH
    sides — a whole-word coverage convention, stated here because
    Gopher's prose doesn't pin separator accounting). All-BIGINT until
    the one settled ratio.

    Returns (id, covered_chars, word_chars, dup_ngram_char_frac).
    """
    from news_data_pipeline_spark.operators.fanout import fan_out

    words = fan_out(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    ).select(
        "id",
        F.posexplode(F.split(F.trim("__t"), r"\s+")).alias("pos", "w"),
    ).where(F.length("w") > 0)
    w = Window.partitionBy("id").orderBy("pos")
    nexts = [F.lead("w", i).over(w).alias(f"__w{i}") for i in range(1, n)]
    grams = (
        words.select("id", "pos", "w", *nexts)
        .where(F.col(f"__w{n - 1}").isNotNull())
        .select(
            "id",
            "pos",
            F.concat_ws(" ", "w", *[f"__w{i}" for i in range(1, n)]).alias(
                "gram"
            ),
        )
    )
    dup_counts = grams.groupBy("id", "gram").agg(
        F.count(F.lit(1)).alias("__cnt")
    ).where(F.col("__cnt") >= 2)
    covered = (
        grams.join(dup_counts, ["id", "gram"], "left_semi")
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    per_doc = words.join(
        covered.withColumn("__covered", F.lit(1)), ["id", "pos"], "left"
    ).groupBy("id").agg(
        F.sum(
            F.when(F.col("__covered") == 1, F.length("w")).otherwise(0)
        ).cast("long").alias("covered_chars"),
        F.sum(F.length("w")).cast("long").alias("word_chars"),
    )
    return per_doc.withColumn(
        "dup_ngram_char_frac",
        settled_round(
            F.col("covered_chars") / F.col("word_chars").cast("double"), 4
        ),
    )
