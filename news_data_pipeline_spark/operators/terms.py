"""Corpus term statistics: TF-IDF and top-terms-per-document.

North-star extension (the reference has no term-level analytics): the
classic relevance/keyword feature over the ``documents`` table, built
entirely from explode + two groupBys + a per-document window — every
stage shuffles on a real key (doc id or term), nothing funnels through
a single partition, and the corpus size joins in as a broadcast
one-row aggregate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from news_data_pipeline_spark.functions.exact import settled_round, settled_units


def term_frequencies(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf): whitespace-token term counts per document.

    Tokenization is ``word_shingles(n=1)`` — ONE tokenizer definition
    shared with the dedup family, so token semantics (and their DuckDB
    oracle twins) can never drift between operators.
    """
    from news_data_pipeline_spark.operators.dedup import word_shingles

    tokens = word_shingles(df, id_col, text_col, n=1, distinct=False)
    return (
        tokens.withColumnRenamed("shingle", "term")
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tf_idf_top_terms(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 3
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    tfidf = tf * ln(N / df_term), rounded to 4dp BEFORE ranking so the
    ordering is reproducible across engines (ranking raw doubles would
    let a last-ulp log difference flip neighbors); ties break on the
    term itself. N counts documents with at least one token and rides
    in as a broadcast single-row aggregate — visible in the plan as a
    broadcast join, never a shuffle.
    """
    tf = term_frequencies(df, id_col, text_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select("id").distinct().agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, on="term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            # settled half-up (engine/version-stable); tf*ln hits 0
            # exactly when df == N, and zero settles identically
            settled_round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id", "term", "tf", "tfidf", "rank")
    )


def doc_tokens(text):
    """Row-local token array: the non-empty tokens under the SAME
    split-on-whitespace rule as ``word_shingles`` (the shared
    tokenizer). Empty and whitespace-only texts give an empty array,
    NULL text gives NULL. ``bm25_rank``'s ``dl`` is its size, so ``dl
    == sum of tf`` (pinned against ``word_shingles`` in
    ``tests/test_terms.py``). ``array_remove`` rather than a ``filter``
    lambda: higher-order functions are interpreted per element, while
    ``array_remove`` is compiled with the rest of the projection."""
    return F.array_remove(F.split(F.trim(text), r"\s+"), "")


def bm25_rank(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-terms query, scored with BM25.

    score(d) = sum over query terms t of
        IDF(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    with the Lucene-style smoothed IDF(t) = ln((N - df + 0.5)/(df + 0.5) + 1)
    (always positive, so a term in >half the corpus dampens instead of
    flipping sign). A document is a row with at least one token; ids
    are unique (as for ``word_shingles(distinct=True)``). Duplicated
    query terms count once.

    Shape at scale: one row-local pass. Each row splits its text once
    and derives ``dl`` and every query term's ``tf`` from that token
    array, keeping only the terms it holds. One one-row aggregate over
    the same rows carries (avgdl, N, df per query term) and rides in as
    a broadcast; the query-term list is a bounded driver-side list. The
    postings are exploded, scored against the broadcast row and summed
    per id, so only the partial sums of matching documents are shuffled.
    No corpus-wide term shuffle, no join on id, and ``df`` is not a
    window over ``term``: that runs each term's whole posting list in
    one task, so its parallelism is capped at the number of query terms.
    Scores round to 4dp BEFORE ranking (reproducible ordering), ties
    break on id.
    """
    from news_data_pipeline_spark.operators.fanout import fan_out

    terms = list(dict.fromkeys(query_terms))
    tok = F.col("__tok")
    dl = F.size(tok).cast("long")
    # occurrences of t, compiled like doc_tokens (no lambda)
    tf = {t: dl - F.size(F.array_remove(tok, t)) for t in terms}
    # One split per row: dl and each query term's tf come from the same
    # token array (materialized first, so Catalyst keeps one split).
    tokens = fan_out(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    ).select("id", doc_tokens(F.col("__t")).alias("__tok"))
    # Rows without tokens (empty, whitespace-only or NULL text) are not
    # documents: they count in neither N nor avgdl and hold no posting.
    # Conditional aggregates, not a row filter: Spark would copy a
    # filter below fan_out's exchange and tokenize every text twice.
    stats = tokens.agg(
        F.avg(F.when(dl > 0, dl)).alias("avgdl"),
        F.count_if(dl > 0).alias("n_docs"),
        F.map_from_arrays(
            F.array(*[F.lit(t) for t in terms]).cast("array<string>"),
            F.array(*[F.count_if(tf[t] > 0) for t in terms]).cast("array<bigint>"),
        ).alias("__df"),
    )
    # (term, tf) for the query terms the row holds. Exploding this
    # expression rather than a column keeps Spark from inferring a
    # non-empty filter and copying it below the exchange.
    postings = F.filter(
        F.array(
            *[F.struct(F.lit(t).alias("term"), tf[t].alias("tf")) for t in terms]
        ).cast("array<struct<term:string,tf:bigint>>"),
        lambda p: p["tf"] > 0,
    )
    contrib = (
        tokens.select("id", dl.alias("dl"), F.explode(postings).alias("__p"))
        .join(F.broadcast(stats))
        .select(
            "id",
            "dl",
            "avgdl",
            "n_docs",
            F.col("__p.tf").alias("tf"),
            F.element_at("__df", F.col("__p.term")).alias("df"),
        )
        .withColumn(
            "c",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
            )
            * F.col("tf")
            * (k1 + 1)
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    # settle each term contribution to exact 6dp BIGINT units BEFORE the
    # sum: round(sum(double)) is order-dependent in its last ulp and the
    # two engines sum in different orders; integer sums are exact, so the
    # final 4dp settle divides identical numbers everywhere
    scores = contrib.groupBy("id").agg(
        settled_round(
            F.sum(settled_units(F.col("c"), 6)) / 1e6, 4
        ).alias("bm25")
    )
    # global top-k as orderBy+limit: Spark plans TakeOrderedAndProject
    # (per-partition partial top-k, k rows to the driver stage) — never
    # a single-partition sort or window
    return scores.orderBy(F.desc("bm25"), F.asc("id")).limit(k)


def unigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str, *, round_dp: int = 4
) -> DataFrame:
    """Per-document mean unigram log-probability — the distributed
    version of CCNet-style LM quality filtering (a KenLM perplexity
    gate collapsed to its unigram term, which is the part that
    parallelizes as pure relational algebra).

    Two passes over the token multiset: (1) corpus term frequencies
    keyed by term, (2) score = sum(tf * ln(ctf / total)) / sum(tf) per
    document keyed by id. The vocabulary joins back on term — an
    equi-join that scales with vocabulary size, not corpus size — and
    the single-row total-token count rides in as a broadcast. Documents
    with rarer tokens score lower (more negative); boilerplate scores
    high. Rounded to ``round_dp`` BEFORE any consumer banding so both
    engines band the same doubles.
    """
    tf = term_frequencies(df, id_col, text_col)
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    total = vocab.agg(F.sum("ctf").alias("total_tokens"))
    scored = (
        tf.join(vocab, on="term")
        .join(F.broadcast(total))
        .withColumn(
            "lp", F.col("tf") * F.log(F.col("ctf") / F.col("total_tokens"))
        )
    )
    # per-row 6dp settle before the sum: sum(double) order-residues
    # differ between engines; the settled BIGINT sum is exact, and the
    # final ratio divides identical integers (sum(tf) is already exact)
    return scored.groupBy("id").agg(
        F.sum("tf").alias("n_tokens"),
        settled_round(
            (F.sum(settled_units(F.col("lp"), 6)) / 1e6) / F.sum("tf"),
            round_dp,
        ).alias("avg_logprob"),
    )


def build_vocab(
    df: DataFrame, id_col: str, text_col: str, *, min_count: int = 1
) -> DataFrame:
    """(term, token_id, count): frequency-ranked vocabulary over the
    corpus — token ids assigned by descending corpus count with
    term-lexicographic tie-break, 0-based and dense.

    The ranking is ``functions.ids.global_row_number`` (range-partition
    + per-partition offsets), NEVER a single-partition window: a 100-TB
    corpus's vocabulary is tens of millions of terms and the global
    sort must stay distributed. Terms below ``min_count`` are dropped
    (they encode as OOV downstream) — the standard vocabulary-truncation
    knob.
    """
    from news_data_pipeline_spark.functions.ids import global_row_number

    tf = term_frequencies(df, id_col, text_col)
    counts = tf.groupBy("term").agg(F.sum("tf").alias("count"))
    if min_count > 1:
        counts = counts.where(F.col("count") >= min_count)
    # repartitionByRange orders ascending: rank by the negated count
    ranked = global_row_number(
        counts.withColumn("__neg", -F.col("count")),
        ["__neg", "term"],
        id_col="__rid",
    )
    return ranked.select(
        "term", (F.col("__rid") - 1).alias("token_id"), "count"
    )


def encode_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    vocab: DataFrame,
    *,
    oov_id: int = -1,
) -> DataFrame:
    """(id, pos, token_id): every document as its token-id sequence in
    scalar rows — the id-encoding step between text cleanup and
    sequence packing in a pretraining pipeline.

    Tokenization is the shared whitespace rule (same as
    ``term_frequencies``), positions come from ``posexplode`` so the
    sequence order survives any shuffle, and the vocabulary attaches by
    a term-keyed equi-join (vocabulary scales sublinearly with the
    corpus — Heaps' law — so the join's build side stays far smaller
    than the data). Unknown terms encode as ``oov_id``. Feed the result
    to ``pack_sequences`` keyed on (id, pos).
    """
    from news_data_pipeline_spark.operators.fanout import fan_out

    words = fan_out(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
    ).select(
        "id",
        F.posexplode(F.split(F.trim(F.col("__t")), r"\s+")).alias(
            "pos", "term"
        ),
    ).where(F.length("term") > 0)
    return words.join(
        vocab.select("term", "token_id"), on="term", how="left"
    ).select(
        "id",
        "pos",
        F.coalesce(F.col("token_id"), F.lit(oov_id)).alias("token_id"),
    )


def bigram_logprob_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    lam: float = 0.8,
    round_dp: int = 4,
) -> DataFrame:
    """(id, n_bigrams, avg_logprob): interpolated bigram language-model
    quality score — the order-2 upgrade of ``unigram_logprob_scores``
    (CCNet/KenLM-style filtering scores with context instead of a bag
    of words, so shuffled-word salad scores low even when its unigrams
    are common).

    The corpus trains its own model:
    ``p(w2|w1) = lam * c(w1,w2)/c(w1,·) + (1-lam) * c(w2)/total`` with
    ``c(w1,·)`` the bigram-context total, and each document scores as
    the mean log-probability over its bigram positions (documents with
    fewer than two tokens emit no row). Because the model trains on the
    corpus it scores, every bigram has ``c >= 1`` — interpolation is the
    smoothing knob, not an OOV fallback.

    Scale shape: token positions shuffle once by doc id for the
    ``lag`` window (partitioned by id — never global); bigram/unigram
    count tables are vocabulary-sized (Heaps' law: sublinear in corpus)
    and attach by equi-joins on their term keys; the only broadcast is
    the 1-row token total. Per-(doc,bigram) log terms settle to 6dp
    BIGINT units before the per-doc sum (`functions.exact` convention)
    so the aggregate is order-free and engine-identical.

    Plan shape note: the token subtree recurs in the plan (bigrams,
    unigram counts, corpus total — 5 scans in PLANS.md), the same
    recurring-subtree class as ``tfidf_cosine_pairs``; see that
    docstring for the measured persist-vs-recompute tradeoff. At
    corpus scale, tokenize once to a table and derive all three count
    frames from it.
    """
    from news_data_pipeline_spark.operators.fanout import fan_out

    words = (
        fan_out(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        )
        .select(
            "id",
            F.posexplode(F.split(F.trim(F.col("__t")), r"\s+")).alias(
                "pos", "term"
            ),
        )
        .where(F.length("term") > 0)
    )
    w = Window.partitionBy("id").orderBy("pos")
    bigrams = (
        words.withColumn("prev", F.lag("term").over(w))
        .where(F.col("prev").isNotNull())
        .groupBy("id", "prev", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    uni = words.groupBy("term").agg(F.count(F.lit(1)).alias("c1"))
    total = uni.agg(F.sum("c1").alias("total_tokens"))
    big = bigrams.groupBy("prev", "term").agg(F.sum("tf").alias("c2"))
    ctx = big.groupBy("prev").agg(F.sum("c2").alias("cctx"))
    # lam and (1 - lam) both enter as SQL-side double arithmetic so the
    # DuckDB oracle can write the identical literals (Python's 1 - 0.8
    # is not the double the SQL text "0.2" parses to)
    p = F.lit(float(lam)) * (F.col("c2") / F.col("cctx")) + (
        F.lit(1.0) - F.lit(float(lam))
    ) * (F.col("c1") / F.col("total_tokens"))
    scored = (
        bigrams.join(big, on=["prev", "term"])
        .join(ctx, on="prev")
        .join(uni, on="term")
        .join(F.broadcast(total))
        .withColumn("lp", F.col("tf") * F.log(p))
    )
    return scored.groupBy("id").agg(
        F.sum("tf").alias("n_bigrams"),
        settled_round(
            (F.sum(settled_units(F.col("lp"), 6)) / 1e6) / F.sum("tf"),
            round_dp,
        ).alias("avg_logprob"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_df: int | float = 0.1,
    min_cosine: float = 0.3,
) -> DataFrame:
    """(id_a, id_b, n_shared_terms, cosine): near-duplicate /
    same-story document pairs by cosine similarity in sparse TF-IDF
    term space — the lexical complement of the embedding-space ANN
    family (no embeddings needed, catches verbatim-ish rewrites that
    para-phrase-robust embeddings blur together).

    Vector space: terms with document frequency <= ``max_df`` (hot
    boilerplate terms carry near-zero idf AND would blow the posting
    join up quadratically — dropping them is both the quality and the
    scale decision, same law as ``ngram_jaccard_pairs``). ``max_df``
    follows the sklearn convention: a float in (0, 1] is a FRACTION of
    the corpus (``df <= max_df * N`` — the scale-invariant form: an
    absolute cap silently empties the vector space as N grows past it),
    an int >= 1 is an absolute document count. Weights are
    ``tf * ln(N/df)`` settled to 3dp BIGINT units, so dot products and
    squared norms are EXACT integer aggregates (order-free on any
    cluster re-plan); 3dp keeps ``uw^2`` sums far inside BIGINT for any
    realistic document. The cosine divides the exact dot by
    ``sqrt(norm2)`` products — IEEE sqrt is correctly rounded, so
    identical integer inputs give bit-identical doubles on every
    engine — then settles to 4dp BEFORE the ``min_cosine`` filter
    (threshold comparisons on raw doubles are exactly the
    last-ulp-flip class the oracle gate bans).

    Candidate generation is the posting-list equi-join on term with
    ``id_a < id_b``: cost is bounded by ``max_df**2`` per term — linear
    in corpus for bounded df, never all-pairs.

    Plan shape note: the weights subtree recurs four times in the
    physical plan (norms + both posting sides, each carrying the 1-row
    doc-count broadcast — the four audited BNLJ flags in PLANS.md), and
    stays lazy: checkpointing it lost at 400k docs (18.7 vs 10.6 s;
    SCALE.md "Retired paths").
    """
    fractional = isinstance(max_df, float) and not isinstance(max_df, bool)
    if fractional and not 0.0 < max_df <= 1.0:
        raise ValueError(f"fractional max_df must be in (0, 1], got {max_df}")
    if not fractional and max_df < 1:
        raise ValueError(f"absolute max_df must be >= 1, got {max_df}")
    tf = term_frequencies(df, id_col, text_col)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select("id").distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # the fractional cap needs N, so it filters AFTER the broadcast
    # join; both forms are integer-vs-engine-identical-double compares
    cap = (
        F.col("df") <= F.lit(float(max_df)) * F.col("n_docs")
        if fractional
        else F.col("df") <= F.lit(int(max_df))
    )
    weights = (
        tf.join(dfreq, on="term")
        .join(F.broadcast(n_docs))
        .where(cap)
        .withColumn(
            "uw",
            settled_units(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 3
            ),
        )
    )
    norms = weights.groupBy("id").agg(
        F.sum(F.col("uw") * F.col("uw")).alias("norm2")
    )
    a = weights.select(F.col("id").alias("id_a"), "term", F.col("uw").alias("uwa"))
    b = weights.select(F.col("id").alias("id_b"), "term", F.col("uw").alias("uwb"))
    dots = (
        a.join(b, on="term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.col("uwa") * F.col("uwb")).alias("dot"),
            F.count(F.lit(1)).alias("n_shared_terms"),
        )
    )
    scored = (
        dots.join(
            norms.select(F.col("id").alias("id_a"), F.col("norm2").alias("__na")),
            on="id_a",
        )
        .join(
            norms.select(F.col("id").alias("id_b"), F.col("norm2").alias("__nb")),
            on="id_b",
        )
        .withColumn(
            "cosine",
            settled_round(
                F.col("dot") / (F.sqrt("__na") * F.sqrt("__nb")), 4
            ),
        )
    )
    return scored.where(F.col("cosine") >= float(min_cosine)).select(
        "id_a", "id_b", "n_shared_terms", "cosine"
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    *,
    buckets: int = 3,
    labels: tuple[str, ...] = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet-style quality buckets: rank every document by LM score
    WITHIN its language and split each language into ``buckets`` equal
    tiers — CCNet's head/middle/tail, with the unigram LM standing in
    for KenLM (``unigram_logprob_scores``). Head = most fluent
    (highest avg log-prob = lowest perplexity).

    Exact tiering is ``ntile`` over (score DESC, id) — deterministic
    under ties — which funnels each language through ONE window task.
    Fine up to ~10^8 docs per language; past that, use
    ``perplexity_bucket_cuts`` + a broadcast threshold join instead:
    approximate cuts, but no per-language global sort.

    Returns (id, lang, n_tokens, avg_logprob, bucket_idx, bucket).
    """
    if len(labels) != buckets:
        labels = tuple(f"b{i}" for i in range(1, buckets + 1))
    scores = unigram_logprob_scores(df, id_col, text_col)
    docs = df.select(
        F.col(id_col).alias("id"), F.col(lang_col).alias("lang")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("id")
    )
    label = F.array(*[F.lit(x) for x in labels])
    return (
        scores.join(docs, on="id")
        .withColumn("bucket_idx", F.ntile(buckets).over(w))
        .withColumn("bucket", F.element_at(label, F.col("bucket_idx")))
        .select("id", "lang", "n_tokens", "avg_logprob", "bucket_idx", "bucket")
    )


def perplexity_bucket_cuts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lang_col: str,
    *,
    buckets: int = 3,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-language LM-score cut points for threshold-based bucketing —
    the 100-TB path around ``perplexity_buckets``' per-language window.

    One groupBy(lang) of ``percentile_approx`` (a mergeable t-digest-
    style sketch: map-side partial aggregation, no global sort) yields
    ``buckets - 1`` interior quantile cuts per language. The result is
    a languages-count-sized frame; broadcast-join it back and assign
    ``bucket_idx = 1 + how many cuts the score falls at-or-below``
    (the quantile value itself belongs to the deeper tier). Tier
    populations are approximate at the cut boundary (sketch error +
    tied scores land whole), which is exactly the tolerance CCNet
    itself accepts for its head/middle/tail thresholds.

    Returns (lang, cuts array<double> DESC — cuts[0] is the
    head/middle boundary).
    """
    scores = unigram_logprob_scores(df, id_col, text_col)
    docs = df.select(
        F.col(id_col).alias("id"), F.col(lang_col).alias("lang")
    )
    qs = [1.0 - i / buckets for i in range(1, buckets)]
    return (
        scores.join(docs, on="id")
        .groupBy("lang")
        .agg(
            F.percentile_approx(
                "avg_logprob", qs, accuracy
            ).alias("cuts")
        )
    )
