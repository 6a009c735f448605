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


def test_materialize_matches_lazy(spark):
    syms = _symbols(spark, ["low low lower lowest"])
    m_lazy, f_lazy = bpe_train(syms, 3)
    m_mat, f_mat = bpe_train(syms, 3, materialize=True)
    assert sorted(map(tuple, m_mat.collect())) == sorted(
        map(tuple, m_lazy.collect())
    )
    assert sorted(map(tuple, f_mat.collect())) == sorted(
        map(tuple, f_lazy.collect())
    )


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
