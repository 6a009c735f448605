"""Sequence-packing and mixture-sampling invariants."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from news_data_pipeline_spark.functions.ids import global_running_sum
from news_data_pipeline_spark.operators.packing import pack_sequences
from news_data_pipeline_spark.operators.sampling import mixture_sample


def docs(spark, n=500):
    return spark.range(n).selectExpr(
        "id AS doc_id",
        "(id % 37) + 1 AS n_tok",
        "concat('s', CAST(id % 4 AS STRING)) AS source",
    )


def test_running_sum_matches_global_window(spark):
    df = docs(spark)
    got = {
        r["doc_id"]: r["rs"]
        for r in global_running_sum(
            df, ["doc_id"], "n_tok", out_col="rs", num_partitions=7
        ).collect()
    }
    acc, want = 0, {}
    for i in range(500):
        acc += (i % 37) + 1
        want[i] = acc
    assert got == want


def test_running_sum_handles_negative_values(spark):
    # offsets must come from partition SUMS, not max(running): with
    # negatives the running sum is non-monotone and max overshoots
    df = spark.range(300).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 7 ELSE -5 END AS n_tok"
    )
    got = {
        r["doc_id"]: r["rs"]
        for r in global_running_sum(
            df, ["doc_id"], "n_tok", out_col="rs", num_partitions=6
        ).collect()
    }
    acc, want = 0, {}
    for i in range(300):
        acc += 7 if i % 2 == 0 else -5
        want[i] = acc
    assert got == want


def test_running_sum_empty_input(spark):
    df = docs(spark).where("doc_id < 0")
    assert global_running_sum(df, ["doc_id"], "n_tok").count() == 0


def test_pack_layout_is_a_partition_of_the_token_stream(spark):
    df = docs(spark)
    rows = pack_sequences(
        df, "doc_id", F.col("n_tok"), ctx_len=64, num_partitions=5
    ).collect()
    assert len(rows) == 500
    total = sum((i % 37) + 1 for i in range(500))
    # offsets tile [0, total) exactly: sorted starts are contiguous
    by_start = sorted(rows, key=lambda r: r["start_offset"])
    expect = 0
    for r in by_start:
        assert r["start_offset"] == expect
        expect += r["n_tokens"]
    assert expect == total
    for r in rows:
        assert r["seq_first"] == r["start_offset"] // 64
        last_tok = r["start_offset"] + max(r["n_tokens"] - 1, 0)
        assert r["seq_last"] == last_tok // 64
        assert r["n_ctx"] == r["seq_last"] - r["seq_first"] + 1


def test_pack_is_stable_under_repartitioning(spark):
    df = docs(spark)
    a = pack_sequences(df, "doc_id", F.col("n_tok"), ctx_len=64, num_partitions=3)
    b = pack_sequences(
        df.repartition(13), "doc_id", F.col("n_tok"), ctx_len=64, num_partitions=11
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pack_zero_token_docs_keep_a_window(spark):
    df = spark.range(10).selectExpr("id AS doc_id", "0 AS n_tok")
    rows = pack_sequences(df, "doc_id", F.col("n_tok"), ctx_len=8).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["start_offset"] == 0
        assert r["seq_first"] == r["seq_last"] == 0
        assert r["n_ctx"] == 1


def test_pack_rejects_bad_ctx(spark):
    with pytest.raises(ValueError):
        pack_sequences(docs(spark), "doc_id", F.col("n_tok"), ctx_len=0)


def test_mixture_rates_apply_per_group(spark):
    df = docs(spark, n=4000)
    kept = mixture_sample(
        df, "doc_id", "source", rates={"s0": 1.0, "s1": 0.5, "s2": 0.0}, default_rate=0.25
    )
    counts = {
        r["source"]: r["count"] for r in kept.groupBy("source").count().collect()
    }
    assert counts["s0"] == 1000  # rate 1.0 keeps everything
    assert "s2" not in counts  # rate 0.0 keeps nothing
    assert abs(counts["s1"] / 1000 - 0.5) < 0.06
    assert abs(counts.get("s3", 0) / 1000 - 0.25) < 0.06  # default_rate


def test_mixture_samples_nest(spark):
    df = docs(spark, n=4000)
    lo = mixture_sample(df, "doc_id", "source", rates={}, default_rate=0.2)
    hi = mixture_sample(df, "doc_id", "source", rates={}, default_rate=0.6)
    lo_ids = {r["doc_id"] for r in lo.select("doc_id").collect()}
    hi_ids = {r["doc_id"] for r in hi.select("doc_id").collect()}
    assert lo_ids <= hi_ids


def test_mixture_null_group_uses_default(spark):
    df = spark.range(1000).selectExpr(
        "id AS doc_id", "CAST(NULL AS STRING) AS source"
    )
    kept = mixture_sample(
        df, "doc_id", "source", rates={"x": 1.0}, default_rate=0.3
    )
    assert abs(kept.count() / 1000 - 0.3) < 0.08


def test_mixture_rejects_bad_rates(spark):
    with pytest.raises(ValueError):
        mixture_sample(docs(spark), "doc_id", "source", rates={"s0": 1.5})
    with pytest.raises(ValueError):
        mixture_sample(docs(spark), "doc_id", "source", rates={}, default_rate=-0.1)


# --- chunk_documents ---------------------------------------------------------
from news_data_pipeline_spark.operators.packing import chunk_documents  # noqa: E402


def _chunks(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", **kw)
    return sorted(
        (r["id"], r["chunk_id"], r["chunk_start"], r["chunk_tokens"], r["chunk_text"])
        for r in out.collect()
    )


def test_chunk_overlap_and_tail(spark):
    text = " ".join(str(i) for i in range(10))  # 10 tokens
    got = _chunks(spark, [(1, text)], ctx_len=4, stride=3)
    # starts 0,3,6 cover through token 9; start 9 would be the last:
    # n_chunks = ceil((10-4)/3)+1 = 3
    assert got == [
        (1, 0, 0, 4, "0 1 2 3"),
        (1, 1, 3, 4, "3 4 5 6"),
        (1, 2, 6, 4, "6 7 8 9"),
    ]


def test_chunk_short_doc_single_chunk(spark):
    got = _chunks(spark, [(1, "a b")], ctx_len=5, stride=2)
    assert got == [(1, 0, 0, 2, "a b")]


def test_chunk_empty_and_null_docs_dropped(spark):
    got = _chunks(spark, [(1, "   "), (2, None), (3, "x")], ctx_len=4, stride=4)
    assert got == [(3, 0, 0, 1, "x")]


def test_chunk_no_overlap_reconstructs_document(spark):
    text = " ".join(f"w{i}" for i in range(11))
    got = _chunks(spark, [(7, text)], ctx_len=4, stride=4)
    assert " ".join(c[4] for c in got) == text
    assert [c[3] for c in got] == [4, 4, 3]  # tail chunk is short


def test_chunk_validation(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    import pytest

    with pytest.raises(ValueError, match="ctx_len"):
        chunk_documents(df, "doc_id", "text", ctx_len=0)
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(df, "doc_id", "text", ctx_len=4, stride=5)
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(df, "doc_id", "text", ctx_len=4, stride=0)


def test_shard_plan_balances_sizes_and_covers_all_docs(spark):
    from news_data_pipeline_spark.operators.packing import shard_plan

    rows = [(i, 100 + (i * 37) % 900) for i in range(400)]
    docs = spark.createDataFrame(rows, ["doc_id", "nbytes"])
    plan = shard_plan(docs, "doc_id", "nbytes", n_shards=4, n_groups=8)
    out = plan.collect()
    # total coverage, no duplication
    assert sorted(r["id"] for r in out) == list(range(400))
    totals = {}
    counts = {}
    for r in out:
        totals[r["shard"]] = totals.get(r["shard"], 0) + r["size"]
        counts[r["shard"]] = counts.get(r["shard"], 0) + 1
    assert set(totals) == {0, 1, 2, 3}
    # per-group round-robin bounds the doc-count spread by n_groups and
    # the size spread by n_groups * max_size; with 8 groups x max 1000
    # the theoretical bound is 8000 — real spread lands far below it
    assert max(counts.values()) - min(counts.values()) <= 8
    assert max(totals.values()) - min(totals.values()) <= 8 * 1000
    # deterministic: a second run yields the identical assignment
    again = {
        r["id"]: r["shard"]
        for r in shard_plan(
            docs, "doc_id", "nbytes", n_shards=4, n_groups=8
        ).collect()
    }
    assert again == {r["id"]: r["shard"] for r in out}
