"""Dedup operators: exact, MinHash/LSH, n-gram Jaccard, SimHash."""

from __future__ import annotations

import pyspark.sql.functions as F

from news_data_pipeline_spark.operators import dedup


def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different text about spark engines here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "body"])


def test_exact_dedup_keeps_one_per_fingerprint(spark):
    out = dedup.fingerprint_dedup(docs(spark), "body", "doc_id")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert len(kept) == 3
    assert (1 in kept) != (4 in kept)  # exactly one of the exact pair


def test_word_shingles_small_doc(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "x y")], ["id", "t"])
    sh = dedup.word_shingles(df, "id", "t", n=3)
    got = {(r["id"], r["shingle"]) for r in sh.collect()}
    # 4 words -> 2 trigrams; 2 words -> one shorter-than-n shingle
    assert got == {(1, "a b c"), (1, "b c d"), (2, "x y")}


def test_word_shingles_distinct_flag(spark):
    df = spark.createDataFrame([(1, "a b a b a b")], ["id", "t"])
    with_dups = dedup.word_shingles(df, "id", "t", n=2, distinct=False)
    without = dedup.word_shingles(df, "id", "t", n=2, distinct=True)
    assert with_dups.count() == 5
    assert without.count() == 2  # {"a b", "b a"}


def test_minhash_identical_docs_identical_signatures(spark):
    sh = dedup.word_shingles(docs(spark), "doc_id", "body", n=3)
    sigs = dedup.minhash_signatures(sh, num_hashes=16)
    rows = {r["id"]: [r[f"mh_{i}"] for i in range(16)] for r in sigs.collect()}
    assert rows[1] == rows[4]
    assert rows[1] != rows[3]


def test_lsh_finds_exact_and_near_pairs(spark):
    pairs = dedup.minhash_lsh_dedup_pairs(
        docs(spark), "doc_id", "body", shingle_n=3, bands=8, rows_per_band=2
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 4) in got  # exact dup always collides in every band
    assert all(a < b for a, b in got)  # canonical ordering, no self/mirror


def test_ngram_jaccard_exact_value(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "q r s t")], ["doc_id", "body"]
    )
    out = dedup.ngram_jaccard_pairs(df, "doc_id", "body", n=2, threshold=0.1)
    rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    # bigrams(1)={ab,bc,cd}, bigrams(2)={ab,bc,ce}: |∩|=2, |∪|=4
    assert rows == {(1, 2): 0.5}


def test_ngram_jaccard_bounded_matches_unbounded(spark):
    """With a cap that never binds (max_df >= doc count), the bounded
    collect_list path must emit the identical (pair, jaccard) multiset
    as the unbounded self-join path — the two physical strategies the
    docstring promises agree."""
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(12)))
        for i in range(30)
    ] + [
        (100 + i, " ".join(f"w{j % 23}" for j in range(12)))
        for i in range(4)  # exact-dup cluster
    ] + [(200, None), (201, "short")]
    df = spark.createDataFrame(rows, ["doc_id", "body"])

    def pairs(t, max_df):
        return sorted(
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.ngram_jaccard_pairs(
                df, "doc_id", "body", n=2, threshold=t, max_df=max_df
            ).collect()
        )

    for t in (0.2, 0.5, 0.9):
        base = pairs(t, None)
        assert pairs(t, 50) == base, f"bounded/unbounded divergence at t={t}"
    assert base  # the dup cluster guarantees a non-vacuous comparison


def test_simhash_near_dups_close_in_hamming(spark):
    out = dedup.simhash(docs(spark), "doc_id", "body")
    sims = {r["id"]: r["simhash"] for r in out.collect()}
    assert sims[1] == sims[4]

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert hamming(sims[1], sims[2]) < hamming(sims[1], sims[3])


def test_winnow_fingerprints_guarantee(spark):
    # Docs sharing a substring of length >= k + window - 1 must share at
    # least one fingerprint (the winnowing guarantee); disjoint docs
    # share none.
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "INTRO the quick brown fox jumps over something else"),
            (3, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr qqqq"),
        ],
        ["doc_id", "body"],
    )
    fps = dedup.winnow_fingerprints(df, "doc_id", "body", k=8, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    # sampling actually compresses: far fewer fingerprints than k-grams
    assert len(by_doc[1]) < 51 - 8 + 1


def test_lsh_dedup_representatives_no_pair_blowup(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # dup of 1
        (3, "the quick brown fox jumps over the lazy dog"),   # dup of 1
        (4, "completely different text about spark engines here"),
    ]
    reps = dedup.lsh_dedup_representatives(
        spark.createDataFrame(rows, ["doc_id", "body"]), "doc_id", "body",
        bands=8, rows_per_band=2,
    )
    got = {r["id"]: r["rep"] for r in reps.collect()}
    assert got[1] == got[2] == got[3] == 1  # cluster collapses to min id
    assert got[4] == 4
    # output is linear in docs — one row per document, no pairs
    assert reps.count() == 4


def test_lsh_dedup_transitive_chain(spark):
    # A~B and B~C share different buckets; label propagation must pull
    # C into A's cluster within max_iter iterations.
    rows = [
        (1, "aa bb cc dd ee ff gg hh"),
        (2, "aa bb cc dd ee xx yy zz"),   # shares first-half shingles with 1
        (3, "qq rr ss tt ee xx yy zz"),   # shares second-half shingles with 2
    ]
    reps = dedup.lsh_dedup_representatives(
        spark.createDataFrame(rows, ["doc_id", "body"]), "doc_id", "body",
        shingle_n=2, bands=8, rows_per_band=1, max_iter=3,
    )
    got = {r["id"]: r["rep"] for r in reps.collect()}
    # 1~2 guaranteed; if 2~3 collide in any band, 3 must ALSO label 1
    if got[3] != 3:
        assert got[3] == got[1] == 1
    assert got[2] == 1


def test_representatives_cover_blank_documents(spark):
    df = spark.createDataFrame(
        [(1, "real text with several words here"), (2, ""), (3, "   "), (4, None)],
        "doc_id long, body string",
    )
    reps = dedup.lsh_dedup_representatives(df, "doc_id", "body")
    got = {r["id"]: r["rep"] for r in reps.collect()}
    # shingle-less docs keep themselves as representative, never vanish
    assert set(got) == {1, 2, 3, 4}
    assert got[2] == 2 and got[3] == 3 and got[4] == 4


def test_hamming_distance_accepts_columns_and_names(spark):
    import pyspark.sql.functions as F

    df = spark.createDataFrame([(0b1011, 0b0010)], ["a", "b"])
    by_name = df.select(dedup.hamming_distance("a", "b").alias("d")).first()["d"]
    by_col = df.select(
        dedup.hamming_distance(F.col("a"), F.col("b")).alias("d")
    ).first()["d"]
    assert by_name == by_col == 2


def test_ngram_max_df_drops_hot_shingles_keeps_real_pairs(spark):
    # Every doc shares one boilerplate phrase ("subscribe to our newsletter"
    # chrome); only docs 1 and 2 genuinely overlap. With max_df, the hot
    # shingle is excluded from pair generation, so boilerplate-only pairs
    # vanish while the real near-dup pair survives.
    boiler = "subscribe to our newsletter"
    rows = [(i, f"unique{i} filler{i} words{i} body{i} {boiler}") for i in range(3, 30)]
    rows += [
        (1, f"the quick brown fox jumps over the lazy dog {boiler}"),
        (2, f"the quick brown fox jumps over the lazy cat {boiler}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "body"])
    capped = dedup.ngram_jaccard_pairs(
        df, "doc_id", "body", n=3, threshold=0.05, max_df=5
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (1, 2) in got
    # boilerplate-only overlaps are gone: no pair involves doc >= 3
    assert all(a < 3 and b < 3 for a, b in got)


def test_shared_shingles_cap_bounds_posting_lists(spark):
    # The prune itself: a shingle in every doc is dropped, a df=2 shingle
    # kept, a df=1 shingle dropped — the posting join input stays linear
    # even when one shingle saturates the corpus.
    boiler = "x y z"
    rows = [(i, f"a{i} b{i} {boiler}") for i in range(20)]
    rows += [(100, "shared pair text one"), (101, "shared pair text two")]
    df = spark.createDataFrame(rows, ["doc_id", "body"])
    sh = dedup.word_shingles(df, "doc_id", "body", n=3)
    kept = {r["shingle"] for r in dedup.shared_shingles(sh, max_df=5).collect()}
    assert "x y z" not in kept            # hot shingle capped out
    assert "shared pair text" in kept     # honest df=2 shingle kept
    # posting-list join input is bounded: every kept shingle has df <= 5
    df_counts = (
        sh.join(
            dedup.shared_shingles(sh, max_df=5), on="shingle", how="left_semi"
        )
        .groupBy("shingle")
        .count()
        .collect()
    )
    assert df_counts and all(r["count"] <= 5 for r in df_counts)


def test_dedup_operators_leave_no_persisted_rdds(spark):
    # Round-1 leak regression: these operators used .persist() with a
    # caller-must-clearCache contract. They now rely on AQE shuffle-stage
    # reuse, so after the action completes nothing may remain cached.
    # delta-based: other session-scoped fixtures may hold checkpoints
    # (global_row_number pins one); these ops must add NOTHING
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    d = docs(spark)
    dedup.minhash_lsh_dedup_pairs(d, "doc_id", "body").count()
    dedup.ngram_jaccard_pairs(d, "doc_id", "body", threshold=0.1).count()
    dedup.lsh_dedup_representatives(d, "doc_id", "body").count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_lsh_self_join_reuses_shuffle_stage(spark):
    # The reason no persist is needed: both self-join sides are the same
    # subplan, so the executed adaptive plan references ONE shuffle query
    # stage from multiple branches instead of recomputing the signature
    # pipeline per side. Needs a parquet-backed input — local relations
    # collapse below AQE's stage machinery.
    import re

    from tests.conftest import SF_DIR
    from news_data_pipeline_spark.sources.catalog import load_table

    documents = load_table(spark, SF_DIR, "documents")
    pairs = dedup.minhash_lsh_dedup_pairs(documents, "doc_id", "text")
    # collect(), not count(): count() builds its own plan, leaving this
    # frame's adaptive plan unfinalized (isFinalPlan=false, no stages)
    pairs.collect()
    final = pairs._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    ids = re.findall(r"(?:ShuffleQueryStage|BroadcastQueryStage) (\d+)", final)
    assert "ReusedExchange" in final or len(ids) > len(set(ids))


def test_cross_corpus_contamination_flags_only_overlapping(spark):
    train = spark.createDataFrame(
        [
            (1, "the sky is blue today and calm"),
            (2, "totally original content nothing shared here"),
        ],
        ["doc_id", "body"],
    )
    eval_df = spark.createDataFrame(
        [(100, "everyone knows the sky is blue today")], ["doc_id", "body"]
    )
    out = dedup.cross_corpus_contamination(train, eval_df, "doc_id", "body", n=3)
    got = {r["id"]: r["n_contaminated_shingles"] for r in out.collect()}
    # doc 1 shares trigrams "the sky is", "sky is blue", "is blue today"
    assert got == {1: 3}


def test_repetition_stats_detects_duplicated_grams(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),      # one distinct trigram
            (2, "each word here is fully unique"),     # no repeats
        ],
        ["doc_id", "body"],
    )
    out = dedup.repetition_stats(df, "doc_id", "body", n=3)
    got = {r["id"]: r for r in out.collect()}
    assert got[1]["n_grams"] == 4 and got[1]["n_distinct_grams"] == 1
    assert got[1]["dup_gram_ratio"] == 0.75
    assert got[2]["dup_gram_ratio"] == 0.0


def test_keep_best_per_cluster_argmax_and_ties(spark):
    from news_data_pipeline_spark.operators.dedup import keep_best_per_cluster

    labeled = spark.createDataFrame(
        [
            (1, "A", 0.5),
            (2, "A", 0.9),
            (3, "A", 0.9),  # tie with 2 -> higher id wins
            (4, "B", 0.1),
        ],
        "doc_id long, component string, quality double",
    )
    got = {
        r["component"]: (r["doc_id"], r["quality"], r["n_members"])
        for r in keep_best_per_cluster(
            labeled, "doc_id", "component", "quality"
        ).collect()
    }
    assert got == {"A": (3, 0.9, 3), "B": (4, 0.1, 1)}


def test_keep_best_per_cluster_plan_is_aggregate_not_window(spark):
    from news_data_pipeline_spark.operators.dedup import keep_best_per_cluster

    labeled = spark.createDataFrame(
        [(1, "A", 0.5)], "doc_id long, component string, quality double"
    )
    plan = (
        keep_best_per_cluster(labeled, "doc_id", "component", "quality")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_keep_best_per_cluster_reserved_names_raise(spark):
    from news_data_pipeline_spark.operators.dedup import keep_best_per_cluster
    import pytest

    df = spark.createDataFrame(
        [(1, "A", 0.5, 9)], "doc_id long, component string, quality double, n_members long"
    )
    with pytest.raises(ValueError, match="reserves column names"):
        keep_best_per_cluster(df, "doc_id", "component", "quality")


def test_exact_dedup_against_corpus(spark):
    from news_data_pipeline_spark.operators.dedup import (
        exact_dedup_against_corpus,
    )

    corpus = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "unique corpus doc")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "hello world"),  # same fingerprint as doc 1 -> dropped
            (11, "a genuinely new document"),
            (12, None),  # null fingerprints never match -> kept
            (13, "HELLO-- world"),  # formatting-only variant -> dropped
        ],
        "doc_id long, text string",
    )
    out = exact_dedup_against_corpus(batch, corpus, "text")
    assert {r["doc_id"] for r in out.collect()} == {11, 12}
    # schema preserved
    assert out.columns == batch.columns


def test_lsh_dedup_against_corpus(spark):
    from news_data_pipeline_spark.operators.dedup import (
        lsh_dedup_against_corpus,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (2, "entirely different corpus text about ships")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base),  # identical -> identical signature -> dropped
            (11, "completely unrelated words zebra xylophone quartz"),
            (12, ""),  # no shingles, no buckets -> kept
        ],
        "doc_id long, text string",
    )
    kept = {
        r["doc_id"]
        for r in lsh_dedup_against_corpus(
            batch, corpus, "doc_id", "text"
        ).collect()
    }
    assert kept == {11, 12}


def test_lsh_against_corpus_output_linear_in_batch(spark):
    """Contamination probing must emit flagged IDS, not candidate pairs:
    one batch doc colliding with many corpus near-copies still yields
    exactly one dropped row (no pair blowup)."""
    from news_data_pipeline_spark.operators.dedup import (
        lsh_dedup_against_corpus,
    )

    text = "repeated corpus boilerplate text shared by every mirror copy"
    corpus = spark.createDataFrame(
        [(i, text) for i in range(50)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, text), (101, "fresh unique content nothing shares")],
        "doc_id long, text string",
    )
    out = lsh_dedup_against_corpus(batch, corpus, "doc_id", "text")
    assert {r["doc_id"] for r in out.collect()} == {101}


def test_remove_frequent_segments_line_level(spark):
    """CCNet-style boilerplate removal: a line present in >50% of docs
    vanishes everywhere; per-doc unique lines survive in order."""
    from news_data_pipeline_spark.operators.dedup import (
        remove_frequent_segments,
    )

    boiler = "ACCEPT COOKIES"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler}\nreal article one\nmore text"),
            (2, f"intro\n{boiler}\nreal article two"),
            (3, f"{boiler}\nthird thing"),
            (4, "no boilerplate here at all"),
            (5, None),
            (6, boiler),  # nothing left after removal
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["cleaned_text"], r["n_segments_kept"])
        for r in remove_frequent_segments(
            docs, "doc_id", "text", delimiter="\n", max_doc_ratio=0.5
        ).collect()
    }
    assert out[1] == ("real article one\nmore text", 2)
    assert out[2] == ("intro\nreal article two", 2)
    assert out[3] == ("third thing", 1)
    assert out[4] == ("no boilerplate here at all", 1)
    assert out[5] == (None, 0)
    assert out[6] == ("", 0)


def test_remove_frequent_segments_threshold_boundary(spark):
    """Strictly-greater threshold: a segment in exactly half the docs
    stays; doubled delimiters are whitespace-normalized away."""
    from news_data_pipeline_spark.operators.dedup import (
        remove_frequent_segments,
    )

    docs = spark.createDataFrame(
        [(1, "half\n\nkeep one"), (2, "half\nkeep two"), (3, "solo"), (4, "only")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["cleaned_text"]
        for r in remove_frequent_segments(
            docs, "doc_id", "text", delimiter="\n", max_doc_ratio=0.5
        ).collect()
    }
    # 'half' in 2/4 docs == 0.5, not > 0.5 -> kept; '' segments dropped
    assert out[1] == "half\nkeep one"
    assert out[2] == "half\nkeep two"


def test_remove_frequent_segments_validates(spark):
    from news_data_pipeline_spark.operators.dedup import (
        remove_frequent_segments,
    )
    import pytest

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_doc_ratio"):
        remove_frequent_segments(docs, "doc_id", "text", max_doc_ratio=0.0)
    bad = spark.createDataFrame(
        [(1, "x", "y")], "doc_id long, text string, cleaned_text string"
    )
    with pytest.raises(ValueError, match="reserves"):
        remove_frequent_segments(bad, "doc_id", "text")


def test_jaccard_for_pairs_exact_values_and_collisions(spark):
    """Hand-computed Jaccard for an explicit candidate list; a pair
    sharing nothing scores 0.0 instead of dropping out."""
    from news_data_pipeline_spark.operators.dedup import jaccard_for_pairs

    shingles = spark.createDataFrame(
        [
            (1, "a b c"), (1, "b c d"),            # doc1: 2 shingles
            (2, "a b c"), (2, "x y z"),            # doc2: 2 shingles
            (3, "p q r"),                          # doc3: 1 shingle
        ],
        "id long, shingle string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_for_pairs(pairs, shingles).collect()
    }
    # |{abc}| / |{abc,bcd,xyz}| = 1/3
    assert got[(1, 2)] == round(1 / 3, 6)
    assert got[(1, 3)] == 0.0


def test_span_dedup_stats_cross_doc_only(spark):
    # doc 1 and 2 share "a b c"; doc 3 repeats its own gram but shares
    # nothing -> within-doc repetition must NOT count as duplicated.
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c"), (3, "x y z x y z x y")],
        ["doc_id", "t"],
    )
    out = {
        r["id"]: (r["n_spans"], r["dup_spans"], r["dup_span_fraction"])
        for r in dedup.span_dedup_stats(df, "doc_id", "t", n=3).collect()
    }
    # doc 1: spans {a b c, b c d} -> 1 of 2 duplicated
    assert out[1] == (2, 1, 0.5)
    # doc 2: single span, duplicated
    assert out[2] == (1, 1, 1.0)
    # doc 3: 6 spans ("x y z" x2, "y z x" x2, "z x y" x2), none shared
    # with another document
    assert out[3] == (6, 0, 0.0)


def test_sorted_neighborhood_adjacent_only(spark):
    # Same 4-char block, three records: sorted order is by prefix, so
    # only adjacent pairs are compared; the far pair (1,3) never is.
    df = spark.createDataFrame(
        [
            (1, "abcd efgh xxxx"),
            (2, "abcd efgh yxxx"),
            (3, "abcd zzzz zzzz"),
            (9, "qqqq alone here"),  # different block, no partner
        ],
        ["doc_id", "t"],
    )
    out = dedup.sorted_neighborhood_pairs(
        df, "doc_id", "t", block_len=4, prefix_len=14, max_distance=6
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["lev"] for r in out.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1
    assert (1, 3) not in pairs  # not adjacent in sort order
    assert all(a != 9 and b != 9 for a, b in pairs)
    # (2, 3) adjacent but distance > max_distance
    assert (2, 3) not in pairs


def test_span_and_neighborhood_empty_and_null_inputs(spark):
    empty = spark.createDataFrame([], "doc_id bigint, t string")
    assert dedup.span_dedup_stats(empty, "doc_id", "t").count() == 0
    assert (
        dedup.sorted_neighborhood_pairs(empty, "doc_id", "t").count() == 0
    )
    # null text rows must not crash either operator
    nulls = spark.createDataFrame(
        [(1, None), (2, "a b c"), (3, None)], "doc_id bigint, t string"
    )
    stats = dedup.span_dedup_stats(nulls, "doc_id", "t")
    assert [r["id"] for r in stats.collect()] == [2]
    assert dedup.sorted_neighborhood_pairs(nulls, "doc_id", "t").count() == 0


def test_jaccard_for_pairs_keeps_shingleless_candidates(spark):
    # contract: every pair in -> one row out, even when one or both ids
    # have no shingles at all (empty text)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4)], ["id_a", "id_b"]
    )
    sh = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], ["id", "shingle"]
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_for_pairs(pairs, sh).collect()
    }
    assert got[(1, 2)] == 1.0  # identical single-shingle sets
    assert got[(1, 3)] == 0.0  # id 3 has no shingles
    assert got[(3, 4)] == 0.0  # neither side has shingles
    assert len(got) == 3


def test_fingerprint_dedup_preserves_null_text_rows(spark):
    # null text -> null fingerprint -> "unknown", never a shared dedup
    # key: both null-text rows survive while the real dup pair collapses.
    # A NULL id sorts first, as in an ascending window, so it wins its
    # fingerprint group; a map column (which min() cannot order) passes
    # through untouched.
    df = spark.createDataFrame(
        [
            (1, "same text", {"k": "1"}),
            (2, "same text", {"k": "2"}),
            (3, None, {"k": "3"}),
            (4, None, None),
            (None, "other text", {"k": "null-id"}),
            (5, "Other text!", {"k": "5"}),
        ],
        "doc_id BIGINT, body STRING, meta MAP<STRING, STRING>",
    )
    out = dedup.fingerprint_dedup(df, "body", "doc_id")
    assert out.columns == ["doc_id", "body", "meta"]
    got = {r["doc_id"]: r["meta"] for r in out.collect()}
    assert got == {1: {"k": "1"}, 3: {"k": "3"}, 4: None, None: {"k": "null-id"}}


def test_fingerprint_dedup_two_consumers_share_one_exchange(spark):
    # The corpus chain reads the dedup output twice: the mixture rates
    # count it, the mixture sample filters it. Both must plan the same
    # dedup exchange so AQE runs it (and the scan under it) once and
    # reuses the stage. Needs a parquet-backed input — local relations
    # collapse below AQE's stage machinery.
    from tests.conftest import SF_DIR
    from news_data_pipeline_spark.operators.sampling import (
        mixture_sample_by_rates,
        temperature_mixture_rates,
    )
    from news_data_pipeline_spark.sources.catalog import load_table

    documents = load_table(spark, SF_DIR, "documents")
    kept = dedup.fingerprint_dedup(documents, "text", "doc_id")
    rates = temperature_mixture_rates(kept, "source", alpha=0.3)
    mixed = mixture_sample_by_rates(kept, "doc_id", "source", rates)
    mixed.collect()
    plan = mixed._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("FileScan parquet") == 1
    assert "ReusedExchange" in final


def test_dedup_exact_fingerprint_shuffles_no_text(spark):
    # The query keeps ids only, so it dedups the key with a window and
    # column pruning keeps the text out of the dedup exchange (the
    # fingerprint_dedup aggregate would carry every column through it).
    from tests.conftest import SF_DIR
    from news_data_pipeline_spark.queries.llmdata import dedup_exact_fingerprint

    plan = dedup_exact_fingerprint(spark, SF_DIR)._jdf.queryExecution().optimizedPlan()
    windows = []
    todo = [plan]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Window":
            windows.append(node)
        todo += [node.children().apply(i) for i in range(node.children().size())]
    assert len(windows) == 1
    child = windows[0].children().apply(0).output()
    cols = {child.apply(i).name() for i in range(child.size())}
    assert "text" not in cols
    assert {"doc_id", "source", "lang"} <= cols


def test_two_stage_frames_match_lazy_derivations(spark):
    # The materialized (shingles, signatures, pairs) triple must be
    # value-identical to the lazy operators it fronts — the
    # localCheckpoint is a physical-plan change only.
    d = docs(spark)
    sh_m, sig_m, pairs_m = dedup.two_stage_lsh_frames(d, "doc_id", "body")
    sh = dedup.word_shingles(d, "doc_id", "body", n=3)
    sig = dedup.minhash_signatures(
        dedup.word_shingles(d, "doc_id", "body", n=3, distinct=False),
        num_hashes=16,
    )
    pairs = dedup.minhash_lsh_dedup_pairs(d, "doc_id", "body")
    assert sorted(map(tuple, sh_m.collect())) == sorted(map(tuple, sh.collect()))
    assert sorted(map(tuple, sig_m.collect())) == sorted(map(tuple, sig.collect()))
    assert sorted(map(tuple, pairs_m.collect())) == sorted(
        map(tuple, pairs.collect())
    )
    # scoring off the materialized frames == scoring off the lazy ones
    got = sorted(map(tuple, dedup.jaccard_for_pairs(pairs_m, sh_m).collect()))
    want = sorted(map(tuple, dedup.jaccard_for_pairs(pairs, sh).collect()))
    assert got == want


def test_representatives_materialize_flag_is_plan_only(spark):
    d = docs(spark)
    lazy = dict(
        map(tuple, dedup.lsh_dedup_representatives(d, "doc_id", "body").collect())
    )
    mat = dict(
        map(
            tuple,
            dedup.lsh_dedup_representatives(
                d, "doc_id", "body", materialize=True
            ).collect(),
        )
    )
    assert lazy == mat


def test_lazy_two_stage_composition_plan_is_clean(spark):
    # The registered two-stage queries materialize their LSH frames with
    # localCheckpoint, which TRUNCATES lineage — the registry-wide plan
    # audit can no longer see inside those stages. Audit the lazy
    # composition here instead, so a Python UDF or cartesian product
    # sneaking into the shingle->signature->pairs->jaccard chain cannot
    # hide behind the checkpoint.
    d = docs(spark)
    pairs = dedup.minhash_lsh_dedup_pairs(d, "doc_id", "body")
    sh = dedup.word_shingles(d, "doc_id", "body", n=3)
    scored = dedup.jaccard_for_pairs(pairs, sh)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_remove_duplicated_spans_on_corpus(spark):
    """The span-removal transform on real documents: schema preserved,
    row count preserved, never-longer texts, and the rewritten corpus
    has (near-)zero duplicated spans left for the same n — the
    fixed-point property that makes it a dedup TRANSFORM, not just a
    marker. Plan must stay free of the forbidden scale anti-patterns."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dedup.remove_duplicated_spans(docs, "doc_id", "text", n=3)
    assert out.columns == docs.columns
    assert out.count() == docs.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    joined = (
        out.withColumnRenamed("text", "new_text")
        .join(docs.select("doc_id", "text"), "doc_id")
        .select(
            F.length(F.col("new_text")).alias("ln"),
            F.length(F.col("text")).alias("lo"),
        )
        .where(F.col("ln") > F.col("lo"))
        .count()
    )
    assert joined == 0
    # the duplicated-span MASS must drop sharply (removal can create
    # new adjacencies — words around a removed span become neighbors —
    # so a strict zero is not guaranteed, but the bulk must be gone;
    # this corpus is boilerplate-heavy, the worst case for the claim)
    def dup_mass(frame):
        return (
            dedup.span_dedup_stats(frame, "doc_id", "text", n=3)
            .agg(F.sum("dup_spans").alias("d"))
            .collect()[0]["d"]
        )

    before, after = dup_mass(docs), dup_mass(out)
    assert after < before * 0.2


def test_top_ngram_char_fraction_hand_computed(spark):
    from news_data_pipeline_spark.operators.dedup import (
        top_ngram_char_fraction,
    )

    df = spark.createDataFrame(
        [
            # "ab cd" x2 + "xy": top 2-gram "ab cd" (5 chars) count 2;
            # normalized text "ab cd ab cd xy" = 14 chars
            (1, "ab cd ab cd xy"),
            (2, "one two"),       # every 2-gram unique: count 1
            (3, "solo"),          # < 2 words: no full 2-gram
        ],
        ["doc_id", "text"],
    )
    got = {
        r.id: r.asDict()
        for r in top_ngram_char_fraction(df, "doc_id", "text", n=2).collect()
    }
    assert got[1]["top_gram"] == "ab cd"
    assert got[1]["top_gram_count"] == 2
    assert got[1]["rep_chars"] == 10 and got[1]["total_chars"] == 14
    assert got[1]["top_ngram_char_frac"] == round(10 / 14, 4)
    assert got[2]["top_gram_count"] == 1
    assert got[2]["top_ngram_char_frac"] == round(7 / 7, 4) * 1.0
    assert got[3]["top_gram_count"] == 0
    assert got[3]["top_ngram_char_frac"] == 0.0


def test_top_ngram_char_fraction_keeps_zero_word_docs(spark):
    """Empty and whitespace-only documents must emit (0, 0, 0.0) rows,
    not vanish: the totals aggregate is built from word rows, which a
    zero-word doc has none of (ADVICE r7)."""
    from news_data_pipeline_spark.operators.dedup import (
        top_ngram_char_fraction,
    )

    df = spark.createDataFrame(
        [(1, "ab cd ab cd"), (2, ""), (3, "   ")], ["doc_id", "text"]
    )
    got = {
        r.id: r.asDict()
        for r in top_ngram_char_fraction(
            df, "doc_id", "text", n=2
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    for i in (2, 3):
        assert got[i]["top_gram"] is None
        assert got[i]["top_gram_count"] == 0
        assert got[i]["rep_chars"] == 0
        assert got[i]["total_chars"] == 0
        assert got[i]["top_ngram_char_frac"] == 0.0
    assert got[1]["top_gram"] == "ab cd"


def test_remove_duplicated_spans_id_col_named_id(spark):
    """id_col='id' (or any input column literally named 'id') used to
    collide with the rebuilt frame's internal key and raise an
    ambiguous-reference error on the rejoin (ADVICE r7)."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown cat sits"),
        ],
        ["id", "text"],
    )
    out = dedup.remove_duplicated_spans(df, "id", "text", n=3)
    got = {r.id: r.text for r in out.collect()}
    # doc 1 keeps the first occurrence of "the quick brown"; doc 2
    # loses those three words (covered by a removed span instance)
    assert got[1] == "the quick brown fox jumps"
    assert got[2] == "cat sits"
    # reserved internal names are guarded, not silently shadowed
    import pytest

    with pytest.raises(ValueError, match="reserves"):
        dedup.remove_duplicated_spans(
            df.withColumn("__rds_id", F.lit(1)), "id", "text", n=3
        )


def test_top_ngram_tie_prefers_longest(spark):
    from news_data_pipeline_spark.operators.dedup import (
        top_ngram_char_fraction,
    )

    # "aa b" and "b cccc" both occur twice; the longer gram wins
    df = spark.createDataFrame(
        [(1, "aa b cccc z aa b cccc")], ["doc_id", "text"]
    )
    row = top_ngram_char_fraction(df, "doc_id", "text", n=2).collect()[0]
    assert row.top_gram == "b cccc"
    assert row.rep_chars == 12


def test_dup_ngram_char_coverage_hand_computed(spark):
    from news_data_pipeline_spark.operators.dedup import (
        dup_ngram_char_coverage,
    )

    # doc 1: "a b c a b c x" with n=3 -> gram "a b c" at pos 0 and 3
    # (count 2, duplicated); covered positions {0,1,2,3,4,5}; covered
    # word chars = 6, total word chars = 7
    df = spark.createDataFrame(
        [
            (1, "a b c a b c x"),
            (2, "p q r s t"),  # all 3-grams unique -> coverage 0
        ],
        ["doc_id", "text"],
    )
    got = {
        r.id: r.asDict()
        for r in dup_ngram_char_coverage(df, "doc_id", "text", n=3).collect()
    }
    assert got[1]["covered_chars"] == 6 and got[1]["word_chars"] == 7
    assert got[1]["dup_ngram_char_frac"] == round(6 / 7, 4)
    assert got[2]["covered_chars"] == 0 and got[2]["dup_ngram_char_frac"] == 0.0


def test_dup_ngram_coverage_overlaps_never_double_count(spark):
    from news_data_pipeline_spark.operators.dedup import (
        dup_ngram_char_coverage,
    )

    # "a a a a a": every 2-gram is "a a" (4 instances); overlapping
    # coverage is the whole doc, fraction exactly 1 — not > 1
    df = spark.createDataFrame([(1, "a a a a a")], ["doc_id", "text"])
    row = dup_ngram_char_coverage(df, "doc_id", "text", n=2).collect()[0]
    assert row.covered_chars == 5 and row.word_chars == 5
    assert row.dup_ngram_char_frac == 1.0
