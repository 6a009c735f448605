"""BPE tokenizer training: merges, overlap parity, fit/apply contract."""

from __future__ import annotations

import pyspark.sql.functions as F

from news_data_pipeline_spark.operators.bpe import (
    apply_merges,
    apply_pair,
    bpe_train,
    word_counts,
    word_symbols,
)


def _symbols(spark, text_rows):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(text_rows)], ["doc_id", "text"]
    )
    return word_symbols(word_counts(docs, "doc_id", "text"))


def _word(final, word):
    rows = sorted(
        (r["pos"], r["sym"]) for r in final.where(F.col("word") == word).collect()
    )
    return [s for _, s in rows]


def test_word_symbols_layout_and_eow(spark):
    syms = _symbols(spark, ["ab b"])
    got = sorted((r["word"], r["pos"], r["sym"]) for r in syms.collect())
    assert got == [("ab", 1, "a"), ("ab", 2, "b</w>"), ("b", 1, "b</w>")]


def test_first_merge_is_weighted_top_pair(spark):
    # "ab" x3 + "abc" x1: pair (a, b</w>) weight 3 vs (a, b) weight 1 —
    # corpus weighting, not distinct-word counting, must decide.
    syms = _symbols(spark, ["ab ab ab abc"])
    merges, final = bpe_train(syms, 1)
    m = merges.collect()[0]
    assert (m["merge_rank"], m["left_sym"], m["right_sym"], m["pair_weight"]) == (
        1,
        "a",
        "b</w>",
        3,
    )
    assert _word(final, "ab") == ["ab</w>"]
    assert _word(final, "abc") == ["a", "b", "c</w>"]


def test_merge_tiebreak_on_pair(spark):
    # "xy" and "ax" once each: (a,x?) no — pairs (x, y</w>) and (a, x</w>)
    # both weight 1; lexicographic pair tie-break picks (a, x</w>).
    syms = _symbols(spark, ["xy ax"])
    merges, _ = bpe_train(syms, 1)
    m = merges.collect()[0]
    assert (m["left_sym"], m["right_sym"]) == ("a", "x</w>")


def test_overlap_parity_leftmost_greedy(spark):
    # pair (a, a) over "aaaa": leftmost-greedy merges positions 1-2 and
    # 3 stays (its partner is the EOW-marked final char) -> aa, a, a</w>
    syms = _symbols(spark, ["aaaa aaa"])
    pair = syms.sparkSession.createDataFrame(
        [("a", "a")], ["left_sym", "right_sym"]
    )
    out = apply_pair(syms, pair)
    assert _word(out, "aaaa") == ["aa", "a", "a</w>"]
    assert _word(out, "aaa") == ["aa", "a</w>"]


def test_positions_redensify(spark):
    syms = _symbols(spark, ["abab"])
    pair = syms.sparkSession.createDataFrame(
        [("a", "b")], ["left_sym", "right_sym"]
    )
    out = apply_pair(syms, pair)
    rows = sorted((r["pos"], r["sym"]) for r in out.collect())
    assert rows == [(1, "ab"), (2, "a"), (3, "b</w>")]
    assert [p for p, _ in rows] == [1, 2, 3]


def test_apply_merges_replays_training(spark):
    syms = _symbols(spark, ["low low low lower lowest newer new"])
    merges, final = bpe_train(syms, 4)
    replay = apply_merges(syms, merges, 4)
    assert sorted(map(tuple, replay.collect())) == sorted(
        map(tuple, final.collect())
    )


def test_training_plan_does_not_grow_with_merges(spark):
    # each merge is checkpointed, so step k never re-derives steps 1..k-1
    syms = _symbols(spark, ["low low lower lowest newer new wider"])

    def depth(num_merges):
        _, final = bpe_train(syms, num_merges)
        plan = final._jdf.queryExecution().executedPlan().toString()
        return len(plan.splitlines())

    assert depth(8) <= depth(1)


def test_training_that_runs_out_of_merges_keeps_every_word(spark, tmp_path):
    # "ab" x3 + "a" x1: one merge leaves every word a single symbol, so
    # the remaining NUM_MERGES - 1 ranks find no pair; the operator,
    # its replay, the registered query and the DuckDB oracle must all
    # keep both words
    import duckdb

    from news_data_pipeline_spark.queries import QUERIES
    from news_data_pipeline_spark.queries.tokenizer import (
        NUM_MERGES,
        bpe_word_encodings,
    )

    texts = ["ab ab ab a"]
    sf_dir = str(tmp_path / "sfbpe")
    spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")
    want = [("a", 1, 1, "a</w>"), ("ab", 3, 1, "ab</w>")]

    syms = _symbols(spark, texts)
    merges, final = bpe_train(syms, NUM_MERGES)
    assert [tuple(r) for r in merges.collect()] == [(1, "a", "b</w>", 3)]
    for out in (
        final,
        apply_merges(syms, merges, NUM_MERGES),
        bpe_word_encodings(spark, sf_dir),
    ):
        cols = out.select("word", "n", "pos", "sym")
        assert sorted(map(tuple, cols.collect())) == want

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    oracle = QUERIES["bpe_word_encodings"].oracle
    assert sorted(con.sql(oracle).fetchall()) == want


def test_num_merges_guard(spark):
    syms = _symbols(spark, ["ab"])
    try:
        bpe_train(syms, 0)
    except ValueError as e:
        assert "num_merges" in str(e)
    else:
        raise AssertionError("num_merges=0 must raise")


def test_merge_table_retrains_when_documents_regenerated(spark, tmp_path):
    # The registered merge table is cached per documents-table content:
    # a corpus rewritten at the same path must serve the new corpus's
    # merges, not the first corpus's.
    import time

    from news_data_pipeline_spark.queries.tokenizer import (
        NUM_MERGES,
        bpe_merge_table,
    )

    sf_dir = str(tmp_path / "sfbpe")

    def write_docs(texts):
        spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{sf_dir}/documents.parquet"
        )
        return sorted(
            tuple(r)
            for r in bpe_train(
                _symbols(spark, texts), NUM_MERGES
            )[0].collect()
        )

    def served():
        return sorted(tuple(r) for r in bpe_merge_table(spark, sf_dir).collect())

    first = write_docs(["low lower lowest", "low low slow"])
    assert served() == first
    time.sleep(0.05)  # the mtime moves even on coarse filesystems
    second = write_docs(["newer news knew", "new newest sewn"])
    assert second != first
    assert served() == second
