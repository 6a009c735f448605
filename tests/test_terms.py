"""Term statistics: TF and TF-IDF top-terms."""

from __future__ import annotations

from news_data_pipeline_spark.operators.terms import term_frequencies, tf_idf_top_terms


def test_term_frequencies_counts_multiplicity(spark):
    df = spark.createDataFrame([(1, "a b a"), (2, "b")], ["doc_id", "body"])
    tf = term_frequencies(df, "doc_id", "body")
    got = {(r["id"], r["term"]): r["tf"] for r in tf.collect()}
    assert got == {(1, "a"): 2, (1, "b"): 1, (2, "b"): 1}


def test_tfidf_ranks_rare_terms_above_ubiquitous(spark):
    # "common" appears in every doc -> idf 0 -> never a top term;
    # each doc's unique term must rank first.
    df = spark.createDataFrame(
        [(1, "common alpha common"), (2, "common beta"), (3, "common gamma")],
        ["doc_id", "body"],
    )
    out = tf_idf_top_terms(df, "doc_id", "body", k=1)
    got = {r["id"]: (r["term"], r["rank"]) for r in out.collect()}
    assert got == {1: ("alpha", 1), 2: ("beta", 1), 3: ("gamma", 1)}


def test_bm25_prefers_rare_term_and_saturates_tf(spark):
    import math

    from news_data_pipeline_spark.operators.terms import bm25_rank

    # doc 1 matches the rare query term; doc 2 spams the common one.
    df = spark.createDataFrame(
        [
            (1, "needle filler filler filler"),
            (2, "common common common common"),
            (3, "common filler other other"),
            (4, "filler other other other"),
        ],
        ["doc_id", "body"],
    )
    out = bm25_rank(df, "doc_id", "body", ["needle", "common"], k=4)
    rows = out.collect()
    assert [r["id"] for r in rows] == [1, 2, 3]  # doc 4 matches nothing
    # hand-check doc 1: tf=1, dl=4, avgdl=4, df(needle)=1, N=4
    idf = math.log((4 - 1 + 0.5) / (1 + 0.5) + 1)
    expect = round(idf * 1 * (1.2 + 1) / (1 + 1.2 * (0.25 + 0.75 * 1.0)), 4)
    assert rows[0]["bm25"] == expect
    # tf saturation: doc 2 (tf=4) scores < 4x doc 3 (tf=1) on 'common'
    assert rows[1]["bm25"] < 4 * rows[2]["bm25"]
    assert [(r["id"], r["bm25"]) for r in rows] == _bm25_by_hand(
        df.collect(), ["needle", "common"]
    )

    # More inputs: NULL and whitespace-only texts are not documents, a
    # token that merely contains a query term does not match it, and
    # duplicated or absent query terms change nothing. k covers every
    # row, so the whole score set is compared.
    edge = spark.createDataFrame(
        df.collect()
        + [(5, None), (6, "needles uncommon filler"), (7, " \t "), (8, "common")],
        "doc_id long, body string",
    )
    terms = ["common", "needle", "common", "absent"]
    got = [
        (r["id"], r["bm25"])
        for r in bm25_rank(edge, "doc_id", "body", terms, k=20).collect()
    ]
    assert [i for i, _ in got] == [1, 2, 8, 3]
    assert got == _bm25_by_hand(edge.collect(), terms)


def _bm25_by_hand(rows, terms, k1=1.2, b=0.75):
    """BM25 of every matching row, in the operator's arithmetic order,
    with its 6dp-per-term then 4dp settle; sorted as the operator ranks."""
    import math

    docs = {i: t.split() for i, t in rows if t is not None and t.split()}
    n = len(docs)
    avgdl = sum(len(w) for w in docs.values()) / n
    terms = list(dict.fromkeys(terms))
    df = {t: sum(t in w for w in docs.values()) for t in terms}
    out = []
    for i, words in docs.items():
        units = 0
        for t in terms:
            tf = words.count(t)
            if tf:
                idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1)
                c = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(words) / avgdl))
                units += math.floor(c * 1e6 + 0.5)
        if any(t in words for t in terms):
            out.append((i, math.floor(units / 1e6 * 1e4 + 0.5) / 1e4))
    return sorted(out, key=lambda r: (-r[1], r[0]))


def test_bm25_search_plan_is_one_row_local_pass(spark):
    # One tokenize-and-explode per row, the (avgdl, N, df) row as the
    # only broadcast: no join on id or term, no window over term, and
    # at most one scan per pass (stats, scoring).
    from tests.conftest import SF_DIR
    from news_data_pipeline_spark.queries.llmdata import bm25_search

    out = bm25_search(spark, SF_DIR)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("Generate ") == 1
    assert final.count("FileScan parquet") <= 2
    for node in ("BroadcastHashJoin", "SortMergeJoin", "Window"):
        assert node not in final


def test_bm25_doclen_matches_shared_tokenizer(spark):
    """ADVICE r14: ``bm25_rank`` computes dl with its own
    split/trim/empty-token removal instead of the shared ``word_shingles``
    tokenizer. Pin the parity at the operator boundary — dl must equal
    the shared tokenizer's per-doc token count (== sum of tf over all
    terms) on texts exercising the edge rules (leading/trailing/mixed
    whitespace, tabs/newlines, empty and whitespace-only docs, which
    must have NO dl row at all) — so a future tokenizer change that
    desynchronizes dl from tf trips here."""
    import pyspark.sql.functions as F

    from news_data_pipeline_spark.operators.dedup import word_shingles
    from news_data_pipeline_spark.operators.terms import bm25_rank

    df = spark.createDataFrame(
        [
            (1, "  a  b\tc \n d  "),
            (2, "solo"),
            (3, "   "),       # whitespace-only: no tokens, no dl row
            (4, ""),          # empty: no tokens, no dl row
            (5, "x y x y x"),
        ],
        ["doc_id", "body"],
    )
    expected = {
        r["id"]: r["n"]
        for r in word_shingles(df, "doc_id", "body", n=1, distinct=False)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # the operator's OWN dl: bm25_rank takes the size of doc_tokens, so
    # the parity is pinned at the boundary, not against a test-local copy
    from news_data_pipeline_spark.operators.terms import doc_tokens

    doclen = (
        df.select(
            F.col("doc_id").alias("id"),
            F.size(doc_tokens(F.col("body"))).alias("dl"),
        )
        .where(F.col("dl") > 0)
    )
    got = {r["id"]: r["dl"] for r in doclen.collect()}
    assert got == expected
    # and end-to-end: with every doc matched, the operator's ranking
    # runs off that dl — smoke that scoring still works on the edges
    out = bm25_rank(df, "doc_id", "body", ["a", "solo", "x"], k=10)
    assert {r["id"] for r in out.collect()} == {1, 2, 5}


def test_unigram_logprob_hand_computed(spark):
    import math

    from news_data_pipeline_spark.operators.terms import (
        unigram_logprob_scores,
    )

    # corpus: 6 tokens total — 'a' x3, 'b' x2, 'c' x1
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a b c")], ["doc_id", "body"]
    )
    out = unigram_logprob_scores(df, "doc_id", "body")
    got = {r["id"]: (r["n_tokens"], r["avg_logprob"]) for r in out.collect()}
    lp = {"a": math.log(3 / 6), "b": math.log(2 / 6), "c": math.log(1 / 6)}
    exp1 = round((2 * lp["a"] + lp["b"]) / 3, 4)
    exp2 = round((lp["a"] + lp["b"] + lp["c"]) / 3, 4)
    assert got == {1: (3, exp1), 2: (3, exp2)}


def test_unigram_logprob_rare_tokens_score_lower(spark):
    from news_data_pipeline_spark.operators.terms import (
        unigram_logprob_scores,
    )

    rows = [(i, "the quick brown fox") for i in range(20)]
    rows.append((99, "zyzzyva qwerty"))
    df = spark.createDataFrame(rows, ["doc_id", "body"])
    out = {
        r["id"]: r["avg_logprob"]
        for r in unigram_logprob_scores(df, "doc_id", "body").collect()
    }
    assert out[99] < out[0]  # rare-token doc is LM-implausible
    # whitespace-only / empty docs simply don't appear (no tokens)
    df2 = spark.createDataFrame([(1, "x"), (2, "   ")], ["doc_id", "body"])
    ids = {
        r["id"]
        for r in unigram_logprob_scores(df2, "doc_id", "body").collect()
    }
    assert ids == {1}


def test_build_vocab_rank_and_min_count(spark):
    from news_data_pipeline_spark.operators.terms import build_vocab

    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a z")], ["doc_id", "body"]
    )
    vocab = {
        r["term"]: (r["token_id"], r["count"])
        for r in build_vocab(df, "doc_id", "body").collect()
    }
    # a: 3, b: 3 (tie -> lexicographic), c: 1, z: 1
    assert vocab == {"a": (0, 3), "b": (1, 3), "c": (2, 1), "z": (3, 1)}
    trimmed = {
        r["term"] for r in
        build_vocab(df, "doc_id", "body", min_count=2).collect()
    }
    assert trimmed == {"a", "b"}


def test_encode_documents_positions_and_oov(spark):
    from news_data_pipeline_spark.operators.terms import (
        build_vocab,
        encode_documents,
    )

    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a z")], ["doc_id", "body"]
    )
    vocab = build_vocab(df, "doc_id", "body", min_count=2)
    enc = encode_documents(df, "doc_id", "body", vocab)
    got = {
        (r["id"], r["pos"]): r["token_id"] for r in enc.collect()
    }
    # vocab: a=0, b=1; c and z are OOV (-1)
    assert got == {
        (1, 0): 1, (1, 1): 1, (1, 2): 1, (1, 3): 0, (1, 4): 0, (1, 5): -1,
        (2, 0): 0, (2, 1): -1,
    }


def test_bigram_logprob_hand_computed(spark):
    import math

    from news_data_pipeline_spark.operators.terms import bigram_logprob_scores

    # corpus: "a b" x2 and "a c" x1 -> contexts: c(a,.) = 3
    # p(b|a) = .8 * 2/3 + .2 * (unigram b = 2/7)
    # p(c|a) = .8 * 1/3 + .2 * (unigram c = 1/7)
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")],
        ["doc_id", "body"],
    )
    out = {
        r["id"]: (r["n_bigrams"], r["avg_logprob"])
        for r in bigram_logprob_scores(df, "doc_id", "body").collect()
    }
    lam = 0.8
    p_b = lam * (2 / 3) + (1.0 - lam) * (2 / 7)
    p_c = lam * (1 / 3) + (1.0 - lam) * (1 / 7)

    def settle(x, dp):
        return math.floor(x * 10**dp + 0.5) / 10**dp

    exp_b = settle(settle(math.log(p_b), 6), 4)
    exp_c = settle(settle(math.log(p_c), 6), 4)
    assert out[1] == (1, exp_b) and out[2] == (1, exp_b)
    assert out[3] == (1, exp_c)
    assert 4 not in out  # single-token doc: no bigram positions
    # context matters: the common-context bigram scores higher
    assert out[1][1] > out[3][1]


def test_bigram_scores_word_salad_below_natural_order(spark):
    from news_data_pipeline_spark.operators.terms import bigram_logprob_scores

    # Same unigram bag (2 a's + 2 b's per doc); doc 9's shuffle forms
    # the corpus-rare bigram (a,a) while the natural order "a b a b"
    # dominates -> salad must score strictly lower than the natural
    # docs despite identical unigram statistics (the failure mode
    # unigram LM scoring misses).
    rows = [(i, "a b a b") for i in range(1, 9)] + [(9, "b a a b")]
    df = spark.createDataFrame(rows, ["doc_id", "body"])
    out = {
        r["id"]: r["avg_logprob"]
        for r in bigram_logprob_scores(df, "doc_id", "body").collect()
    }
    assert out[9] < out[1]


def test_tfidf_cosine_pairs_identical_docs_hit_one(spark):
    from news_data_pipeline_spark.operators.terms import tfidf_cosine_pairs

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha beta gamma"),
            (3, "delta epsilon zeta"),
            (4, "alpha delta unrelatedmix"),
        ],
        ["doc_id", "body"],
    )
    out = {
        (r["id_a"], r["id_b"]): (r["n_shared_terms"], r["cosine"])
        for r in tfidf_cosine_pairs(
            df, "doc_id", "body", max_df=1.0, min_cosine=0.9
        ).collect()
    }
    # identical docs: cosine exactly 1.0 (settled), all 3 terms shared
    assert out == {(1, 2): (3, 1.0)}


def test_tfidf_cosine_pairs_max_df_drops_boilerplate(spark):
    from news_data_pipeline_spark.operators.terms import tfidf_cosine_pairs

    # "common" is in all 4 docs; with max_df=3 it leaves the vector
    # space, so docs sharing ONLY it form no candidate pair at all.
    df = spark.createDataFrame(
        [
            (1, "common alpha"),
            (2, "common alpha"),
            (3, "common beta"),
            (4, "common gamma"),
        ],
        ["doc_id", "body"],
    )
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in tfidf_cosine_pairs(
            df, "doc_id", "body", max_df=3, min_cosine=0.0
        ).collect()
    )
    assert got == [(1, 2)]  # alpha-only vectors; no common-term pairs

    import pytest

    with pytest.raises(ValueError, match="max_df"):
        tfidf_cosine_pairs(df, "doc_id", "body", max_df=0)


def test_tfidf_cosine_fractional_and_absolute_max_df_agree(spark):
    from news_data_pipeline_spark.operators.terms import tfidf_cosine_pairs

    # 4 docs: fractional 0.75 and absolute 3 are the same cap (df <= 3),
    # so outputs must be identical — the sklearn-convention contract.
    df = spark.createDataFrame(
        [
            (1, "common alpha beta"),
            (2, "common alpha beta"),
            (3, "common beta gamma"),
            (4, "common gamma delta"),
        ],
        ["doc_id", "body"],
    )

    def rows(max_df):
        return sorted(
            (r["id_a"], r["id_b"], r["n_shared_terms"], r["cosine"])
            for r in tfidf_cosine_pairs(
                df, "doc_id", "body", max_df=max_df, min_cosine=0.0
            ).collect()
        )

    frac, absolute = rows(0.75), rows(3)
    assert frac == absolute and frac  # identical AND non-empty

    import pytest

    with pytest.raises(ValueError, match="fractional"):
        tfidf_cosine_pairs(df, "doc_id", "body", max_df=1.5)


def test_bigram_lam_one_is_pure_conditional(spark):
    import math

    from news_data_pipeline_spark.operators.terms import bigram_logprob_scores

    # lam=1.0 removes the unigram interpolation term entirely:
    # "a b a b" has bigrams (a,b) x2 and (b,a) x1; contexts a->2, b->1,
    # every continuation is deterministic, so all p = 1 and score = 0.
    df = spark.createDataFrame([(1, "a b a b")], ["doc_id", "body"])
    row = bigram_logprob_scores(df, "doc_id", "body", lam=1.0).collect()[0]
    assert row["n_bigrams"] == 3
    assert row["avg_logprob"] == 0.0

    # "a a a b": p(a|a)=2/3, p(b|a)=1/3 — hand-computable pure
    # conditionals (settled per-position at 6dp, then 4dp mean)
    df2 = spark.createDataFrame([(1, "a a a b")], ["doc_id", "body"])
    row2 = bigram_logprob_scores(df2, "doc_id", "body", lam=1.0).collect()[0]
    lp = lambda p: math.floor(math.log(p) * 1e6 + 0.5) / 1e6
    expect = math.floor((2 * lp(2 / 3) + lp(1 / 3)) / 3 * 1e4 + 0.5) / 1e4
    assert row2["n_bigrams"] == 3
    assert abs(row2["avg_logprob"] - expect) < 1e-9


def _bucket_corpus(spark):
    # two languages; within each, docs graded from common-token (head)
    # to rare-token (tail) so LM scores are strictly ordered
    rows = []
    doc_id = 0
    for lang in ("en", "de"):
        for grade in range(6):
            # more 'common' repetitions -> higher avg logprob
            text = " ".join(
                ["common"] * (8 - grade) + [f"rare{lang}{grade}"] * (1 + grade)
            )
            rows.append((doc_id, text, lang))
            doc_id += 1
    return spark.createDataFrame(rows, ["doc_id", "body", "lang"])


def test_perplexity_buckets_balanced_and_ordered(spark):
    from news_data_pipeline_spark.operators.terms import perplexity_buckets

    df = _bucket_corpus(spark)
    out = perplexity_buckets(df, "doc_id", "body", "lang").collect()
    assert len(out) == 12
    for lang in ("en", "de"):
        tiers = {}
        for r in out:
            if r.lang == lang:
                tiers.setdefault(r.bucket, []).append(r.avg_logprob)
        # ntile balance: 6 docs over 3 tiers = 2 each
        assert {k: len(v) for k, v in tiers.items()} == {
            "head": 2, "middle": 2, "tail": 2
        }
        # rank order: every head score >= every middle >= every tail
        assert min(tiers["head"]) >= max(tiers["middle"])
        assert min(tiers["middle"]) >= max(tiers["tail"])


def test_perplexity_buckets_label_fallback(spark):
    from news_data_pipeline_spark.operators.terms import perplexity_buckets

    df = _bucket_corpus(spark)
    out = perplexity_buckets(df, "doc_id", "body", "lang", buckets=2)
    assert sorted(set(r.bucket for r in out.collect())) == ["b1", "b2"]


def test_perplexity_bucket_cuts_threshold_path(spark):
    import pyspark.sql.functions as F

    from news_data_pipeline_spark.operators.terms import (
        perplexity_bucket_cuts,
        perplexity_buckets,
        unigram_logprob_scores,
    )

    df = _bucket_corpus(spark)
    cuts = perplexity_bucket_cuts(df, "doc_id", "body", "lang")
    rows = {r.lang: r.cuts for r in cuts.collect()}
    assert set(rows) == {"en", "de"}
    for lang, c in rows.items():
        assert len(c) == 2 and c[0] >= c[1]  # descending interior cuts
    # threshold assignment reproduces the exact tiers here (scores are
    # distinct and accuracy exceeds the corpus size, so the approx
    # quantiles are exact order statistics)
    scores = unigram_logprob_scores(df, "doc_id", "body").join(
        df.select(F.col("doc_id").alias("id"), "lang"), on="id"
    )
    joined = scores.join(F.broadcast(cuts), on="lang")
    by_cut = joined.withColumn(
        "bucket_idx",
        1
        + F.aggregate(
            "cuts",
            F.lit(0),
            lambda acc, c: acc + F.when(F.col("avg_logprob") <= c, 1).otherwise(0),
        ),
    ).select("id", "bucket_idx")
    exact = perplexity_buckets(df, "doc_id", "body", "lang").select(
        "id", F.col("bucket_idx").alias("want")
    )
    cmp = by_cut.join(exact, on="id").collect()
    assert all(r.bucket_idx == r.want for r in cmp)


def test_perplexity_buckets_empty_and_single(spark):
    from news_data_pipeline_spark.operators.terms import (
        perplexity_bucket_cuts,
        perplexity_buckets,
    )

    empty = spark.createDataFrame([], "doc_id long, body string, lang string")
    assert perplexity_buckets(empty, "doc_id", "body", "lang").count() == 0
    assert perplexity_bucket_cuts(empty, "doc_id", "body", "lang").count() == 0
    one = spark.createDataFrame([(1, "a b c", "en")], ["doc_id", "body", "lang"])
    rows = perplexity_buckets(one, "doc_id", "body", "lang").collect()
    # a single doc is its language's head — ntile(3) of one row is tier 1
    assert len(rows) == 1 and rows[0].bucket == "head"
