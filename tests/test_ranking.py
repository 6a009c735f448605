"""value_compressed_percent_rank: window-exact semantics without the
per-group sort funnel, NULL-safe where an equi-join would drop rows."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from news_data_pipeline_spark.operators.ranking import (
    value_compressed_percent_rank,
)


def _window_expected(df, part, val):
    w = Window.partitionBy(part).orderBy(F.asc_nulls_last(val))
    return {
        (r["id"],): r["pr"]
        for r in df.withColumn("pr", F.percent_rank().over(w)).collect()
    }


def test_matches_percent_rank_window_with_ties(spark):
    df = spark.range(600).selectExpr(
        "id",
        "CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'de' "
        "ELSE 'fr' END AS lang",
        "CAST(id % 7 AS DOUBLE) / 10 AS q",  # heavy ties
    )
    got = {
        (r["id"],): r["pr"]
        for r in value_compressed_percent_rank(
            df, ["lang"], "q", out_col="pr"
        ).collect()
    }
    want = _window_expected(df, "lang", "q")
    assert got == pytest.approx(want)


def test_null_groups_and_null_values_are_ranked_not_dropped(spark):
    # NULL lang must form its own stratum; NULL value ranks last
    # (NULLS LAST) — a plain equi-join back would drop all of these
    df = spark.range(100).selectExpr(
        "id",
        "CASE WHEN id % 4 = 0 THEN NULL ELSE concat('l', id % 2) END AS lang",
        "CASE WHEN id % 10 = 0 THEN NULL "
        "ELSE CAST(id % 5 AS DOUBLE) END AS q",
    )
    out = value_compressed_percent_rank(df, ["lang"], "q", out_col="pr")
    assert out.count() == 100  # nothing dropped
    got = {(r["id"],): r["pr"] for r in out.collect()}
    want = _window_expected(df, "lang", "q")
    assert got == pytest.approx(want)


def test_single_row_group_scores_zero(spark):
    df = spark.createDataFrame([(1, "only", 0.5)], "id long, g string, q double")
    [row] = value_compressed_percent_rank(df, ["g"], "q", out_col="pr").collect()
    assert row["pr"] == 0.0


def test_reserved_and_out_col_collisions_raise(spark):
    df = spark.range(3).selectExpr("id", "'a' AS g", "1.0 AS q", "2.0 AS __k_v")
    with pytest.raises(ValueError, match="reserves"):
        value_compressed_percent_rank(df, ["g"], "q")
    df2 = spark.range(3).selectExpr("id", "'a' AS g", "1.0 AS q", "0.0 AS pr")
    with pytest.raises(ValueError, match="already exists"):
        value_compressed_percent_rank(df2, ["g"], "q", out_col="pr")


def test_heavy_side_is_never_shuffled(spark):
    # the rank map must BROADCAST onto the input: the only shuffle in
    # the plan is the tiny frequency/window branch — the probe side
    # (the full corpus) reaches the join exchange-free, and no sort
    # ever sees more than the distinct-value frame
    df = spark.range(500).selectExpr(
        "id", "concat('g', id % 3) AS g", "CAST(id % 9 AS DOUBLE) AS q"
    )
    out = value_compressed_percent_rank(df, ["g"], "q", out_col="pr")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange SinglePartition") == 0
    # one shuffle for the partial->final count aggregate, one for the
    # window over the distinct-value frame; nothing touching the probe
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_top_k_per_group_matches_naive_and_is_exact(spark):
    from news_data_pipeline_spark.operators.ranking import top_k_per_group
    import pyspark.sql.functions as F

    rows = [
        ("a", i, float(i % 7)) for i in range(40)
    ] + [("b", 100, 5.0), ("b", 101, 5.0), ("c", 200, 1.0)]
    df = spark.createDataFrame(rows, "g string, id long, v double").repartition(4)
    order = [F.col("v").desc(), F.col("id").asc()]
    two = top_k_per_group(df, ["g"], order, k=3)
    # reference: the naive single window over each whole group
    w = Window.partitionBy("g").orderBy(*order)
    naive = df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    key = lambda r: (r["g"], r["id"], r["v"])
    assert sorted(map(key, two.collect())) == sorted(map(key, naive.collect()))
    got = {r["g"]: r["id"] for r in two.where("v = 5.0 and g = 'b'").collect()}
    # tie at v=5.0 resolves to ascending id first
    bs = sorted(r["id"] for r in two.collect() if r["g"] == "b")
    assert bs == [100, 101]
    # group smaller than k survives whole
    assert [r["id"] for r in two.collect() if r["g"] == "c"] == [200]


def test_top_k_per_group_invalid_k(spark):
    from news_data_pipeline_spark.operators.ranking import top_k_per_group

    df = spark.createDataFrame([("a", 1)], "g string, id long")
    import pytest

    with pytest.raises(ValueError, match="k must be"):
        top_k_per_group(df, ["g"], ["id"], k=0)


def test_top_k_per_group_reserved_names_raise(spark):
    from news_data_pipeline_spark.operators.ranking import top_k_per_group
    import pytest

    df = spark.createDataFrame([("a", 1)], "g string, __rn long")
    with pytest.raises(ValueError, match="reserves internal column names"):
        top_k_per_group(df, ["g"], ["__rn"], k=1)


def _model_top_fraction(rows, frac):
    """Naive model: per group, cutoff = highest v with ceil(frac*n) rows
    at or above; keep rows >= cutoff. rows: (rid, g, v)."""
    import math
    from collections import defaultdict

    by_g = defaultdict(list)
    for rid, g, v in rows:
        if v is not None:
            by_g[g].append(v)
    kept = set()
    for g, vals in by_g.items():
        target = math.ceil(frac * len(vals))
        for t in sorted(set(vals), reverse=True):
            if sum(1 for v in vals if v >= t) >= target:
                cutoff = t
                break
        kept |= {
            rid for rid, gg, v in rows
            if gg == g and v is not None and v >= cutoff
        }
    return kept


def test_top_fraction_matches_model_with_ties(spark):
    from news_data_pipeline_spark.operators.ranking import (
        top_fraction_per_group,
    )

    rows = [
        (0, "a", 5.0), (1, "a", 5.0), (2, "a", 3.0), (3, "a", 1.0),
        (4, "b", 2.0), (5, "b", 2.0), (6, "b", 2.0),
        (7, "c", 9.0),
        (8, None, 4.0), (9, None, 1.0),   # null group key is a group
        (10, "a", None),                   # null value: never kept
    ]
    df = spark.createDataFrame(rows, "rid long, g string, v double")
    for frac in (0.25, 0.5, 1.0):
        got = {
            r["rid"]
            for r in top_fraction_per_group(df, ["g"], "v", frac).collect()
        }
        assert got == _model_top_fraction(rows, frac), frac


def test_top_fraction_every_group_keeps_a_row(spark):
    from news_data_pipeline_spark.operators.ranking import (
        top_fraction_per_group,
    )

    df = spark.createDataFrame(
        [(i, f"g{i}", float(i)) for i in range(6)], "rid long, g string, v double"
    )
    out = top_fraction_per_group(df, ["g"], "v", 0.01)
    assert out.count() == 6  # tiny frac still keeps >= 1 per group


def test_top_fraction_validates_inputs(spark):
    from news_data_pipeline_spark.operators.ranking import (
        top_fraction_per_group,
    )

    df = spark.createDataFrame([(1, "a", 1.0)], "rid long, g string, v double")
    with pytest.raises(ValueError, match="frac"):
        top_fraction_per_group(df, ["g"], "v", 0.0)
    with pytest.raises(ValueError, match="frac"):
        top_fraction_per_group(df, ["g"], "v", 1.5)
    bad = df.withColumnRenamed("rid", "__thr")
    with pytest.raises(ValueError, match="reserves"):
        top_fraction_per_group(bad, ["g"], "v", 0.5)


def test_top_fraction_never_sorts_full_groups(spark):
    """The window must run over the (group, value) histogram, not the
    raw rows: no Sort node may take the full input exchange."""
    from news_data_pipeline_spark.operators.ranking import (
        top_fraction_per_group,
    )

    df = spark.createDataFrame(
        [(i, "hot", float(i % 7)) for i in range(100)],
        "rid long, g string, v double",
    )
    plan = (
        top_fraction_per_group(df, ["g"], "v", 0.5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the only Window sits above a HashAggregate (the histogram), and
    # the per-group frame it sorts is value-compressed
    assert "Window" in plan
    before_window = plan.split("Window")[0]
    assert "Sort" not in before_window or "Exchange" in plan


def test_skew_report_shares_and_ties(spark):
    from news_data_pipeline_spark.operators.ranking import skew_report

    rows = [(1,)] * 6 + [(2,)] * 3 + [(3,)] * 3 + [(4,)] * 1 + [(5,)] * 1
    df = spark.createDataFrame(rows, "k long")
    out = skew_report(df, "k", top_n=3).collect()
    assert [(r["k"], r["n_rows"], r["share"]) for r in out] == [
        (1, 6, round(6 / 14, 6)),
        (2, 3, round(3 / 14, 6)),   # tie with 3 -> lower key first
        (3, 3, round(3 / 14, 6)),
    ]
    # top-k is TakeOrderedAndProject, never a global sort or 1-part window
    plan = skew_report(df, "k", top_n=3)._jdf.queryExecution().toString()
    assert "TakeOrderedAndProject" in plan


def test_scd2_intervals_partition_history(spark):
    from tests.conftest import SF_DIR
    from news_data_pipeline_spark.queries.streaming_batch import (
        user_type_scd2,
    )

    out = user_type_scd2(spark, SF_DIR)
    rows = out.collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: (r["valid_from"],))
        # exactly one open-ended current interval, and it is the last
        assert sum(1 for r in ivs if r["is_current"]) == 1
        assert ivs[-1]["is_current"] and ivs[-1]["valid_to"] is None
        # intervals chain: each valid_to equals the next valid_from
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to"] == b["valid_from"]


def test_grouped_ols_degenerate_groups(spark):
    from news_data_pipeline_spark.operators.fitting import grouped_ols

    df = spark.createDataFrame(
        [
            ("a", 0.0, 1.0),
            ("a", 1.0, 3.0),
            ("a", 2.0, 5.0),
            ("b", 4.0, 9.9),        # single point -> null fit
            ("c", 2.0, 1.0),
            ("c", 2.0, 7.0),        # zero x-variance -> null fit
        ],
        ["g", "x", "y"],
    )
    out = {
        r["g"]: (r["slope"], r["intercept"], r["n"])
        for r in grouped_ols(df, ["g"], y_col="y", x_col="x").collect()
    }
    assert out["a"][0] == pytest.approx(2.0) and out["a"][1] == pytest.approx(1.0)
    assert out["a"][2] == 3
    assert out["b"] == (None, None, 1)
    assert out["c"] == (None, None, 2)


def test_grouped_ols_non_string_group_columns(spark):
    from news_data_pipeline_spark.operators.fitting import grouped_ols

    df = spark.createDataFrame(
        [(7, 0.0, 1.0), (7, 1.0, 2.0), (7, 2.0, 3.0)],
        "g bigint, x double, y double",
    )
    out = grouped_ols(df, ["g"], y_col="y", x_col="x").collect()
    assert out[0]["g"] == 7 and out[0]["slope"] == pytest.approx(1.0)
    with pytest.raises(ValueError, match="unknown group columns"):
        grouped_ols(df, ["nope"], y_col="y", x_col="x")


def test_grouped_ols_skips_null_pairs_like_regr(spark):
    from news_data_pipeline_spark.operators.fitting import grouped_ols

    df = spark.createDataFrame(
        [("a", 1.0, 2.0), ("a", 2.0, None), ("a", 3.0, 4.0)],
        "g string, x double, y double",
    )
    got = grouped_ols(df, ["g"], y_col="y", x_col="x").collect()[0]
    want = df.groupBy("g").agg(
        F.regr_slope("y", "x").alias("s"),
        F.regr_intercept("y", "x").alias("i"),
        F.regr_count("y", "x").alias("n"),
    ).collect()[0]
    assert got["slope"] == pytest.approx(want["s"])
    assert got["intercept"] == pytest.approx(want["i"])
    assert got["n"] == want["n"] == 2


def test_logreg_train_matches_numpy_gd(spark):
    import numpy as np
    from news_data_pipeline_spark.operators.fitting import logreg_train

    rows = [
        (1.0, [0.5, -1.0, 2.0]),
        (0.0, [-0.5, 1.5, 0.0]),
        (1.0, [1.0, 0.0, -1.0]),
        (0.0, [0.0, 2.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "y double, v array<double>")
    got = {
        r["pos"]: r["weight"]
        for r in logreg_train(
            df, y_col="y", vec_col="v", dims=3, iters=3, lr=0.1
        ).collect()
    }
    X = np.array([r[1] for r in rows])
    y = np.array([r[0] for r in rows])
    w = np.zeros(3)
    for _ in range(3):
        p = 1.0 / (1.0 + np.exp(-X @ w))
        w = w - 0.1 * ((p - y)[:, None] * X).mean(axis=0)
    assert got == {
        j: pytest.approx(round(float(w[j]), 6), abs=1e-6) for j in range(3)
    }
    with pytest.raises(ValueError, match="must be >= 1"):
        logreg_train(df, y_col="y", vec_col="v", dims=0)


def test_logreg_train_empty_input_keeps_init_weights(spark):
    # No training rows (empty frame, or every row filtered by the
    # dims/null guard) -> zero gradient -> weights stay at the zero
    # init. Regression for the r5 empty-input sweep (KeyError on the
    # collected gradient of an empty aggregate).
    from news_data_pipeline_spark.operators.fitting import logreg_train

    empty = spark.createDataFrame([], "y double, v array<double>")
    got = {
        r["pos"]: r["weight"]
        for r in logreg_train(
            empty, y_col="y", vec_col="v", dims=3, iters=2
        ).collect()
    }
    assert got == {0: 0.0, 1: 0.0, 2: 0.0}

    too_short = spark.createDataFrame(
        [(1.0, [0.5])], "y double, v array<double>"
    )
    got2 = {
        r["pos"]: r["weight"]
        for r in logreg_train(
            too_short, y_col="y", vec_col="v", dims=3, iters=2
        ).collect()
    }
    assert got2 == {0: 0.0, 1: 0.0, 2: 0.0}
