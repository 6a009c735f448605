"""DQ engine semantics — the SURVEY §2.10 edge cases, made explicit.

The reference's rule engine had three latent hazards (positional bad-key
unions, two coexisting dedup semantics, fail-open pass/fail) — each is a
test here, pinned to the behavior our engine chose.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from news_data_pipeline_spark.dq import (
    ColumnExists,
    MinRows,
    NotNull,
    Unique,
    config_to_rules,
    run_dq,
    to_quarantine_records,
)


def articles(spark):
    rows = [
        ("u1", "Alpha", "body a"),
        ("u2", None, "body b"),        # null title
        ("u3", "", "body c"),          # empty title counts as null
        ("u4", "Delta", None),
        ("u4", "Delta2", "body e"),    # duplicate url u4
        ("u5", "Echo", "body f"),
    ]
    return spark.createDataFrame(rows, ["url", "title", "content"])


def test_not_null_treats_empty_string_as_null(spark):
    res = run_dq(articles(spark), [NotNull("title")])
    bad = {r["url"] for r in res.quarantined.collect()}
    assert bad == {"u2", "u3"}
    assert res.report["not_null(title)"] == {"passed": False, "violations": 2}


def test_unique_quarantine_all_copies(spark):
    # Reference semantics (_lib_dq_helpers.py:159): every copy of a
    # duplicated key is quarantined.
    res = run_dq(articles(spark), [Unique("url")])
    bad = [r["url"] for r in res.quarantined.collect()]
    assert sorted(bad) == ["u4", "u4"]


def test_unique_keep_first(spark):
    # Silver-layer semantics (02:66): keep one copy, quarantine extras.
    res = run_dq(
        articles(spark), [Unique("url", quarantine_all=False, order_by=("title",))]
    )
    bad = res.quarantined.collect()
    assert len(bad) == 1
    assert bad[0]["title"] == "Delta2"  # Delta sorts first, so it stays
    kept = {r["title"] for r in res.valid.collect()}
    assert "Delta" in kept


def test_split_is_a_partition_of_the_input(spark):
    # valid ∪ quarantined == input, disjoint — per-row flags can't lose
    # or duplicate rows the way the reference's key-set joins could.
    df = articles(spark)
    res = run_dq(df, [NotNull("title"), NotNull("content"), Unique("url")])
    n_valid = res.valid.count()
    n_bad = res.quarantined.count()
    assert n_valid + n_bad == df.count()
    overlap = res.valid.join(res.quarantined.select("url", "title"),
                             on=["url", "title"], how="inner")
    assert overlap.count() == 0


def test_multi_rule_reasons_accumulate_per_row(spark):
    df = articles(spark)
    res = run_dq(df, [NotNull("title"), NotNull("content")])
    reasons = {
        r["url"]: sorted(r["reasons"])
        for r in res.quarantined.collect()
    }
    assert reasons["u2"] == ["not_null(title)"]
    assert reasons["u4"] == ["not_null(content)"]


def test_fail_open_valid_rows_still_flow(spark):
    # A failing report never blocks the valid side (reference 02:38-62).
    res = run_dq(articles(spark), [NotNull("title")])
    assert not res.passed
    assert res.valid.count() == 4


def test_column_exists_schema_level(spark):
    res = run_dq(articles(spark), [ColumnExists("url", "missing_col")])
    rep = res.report["column_exists(url,missing_col)"]
    assert not rep["passed"]
    assert rep["detail"]["missing_columns"] == ["missing_col"]
    # schema-level rule quarantines no rows
    assert res.quarantined.count() == 0


def test_min_rows(spark):
    df = articles(spark)
    assert run_dq(df, [MinRows(3)]).passed
    res = run_dq(df, [MinRows(100)])
    assert not res.passed
    assert res.report["min_rows(100)"]["detail"]["rows"] == 6


def test_config_adapter_matches_reference_shape(spark):
    # The reference's dq_config dict (_lib_dq_helpers.py:105-111).
    rules = config_to_rules(
        {
            "required_columns": ["url", "title"],
            "not_null": ["title"],
            "unique_keys": ["url"],
            "min_rows": 1,
        }
    )
    names = [r.rule_name() for r in rules]
    assert names == [
        "column_exists(url,title)",
        "not_null(title)",
        "unique(url)",
        "min_rows(1)",
    ]
    res = run_dq(articles(spark), rules)
    assert res.quarantined.count() == 4  # u2, u3 null-title + 2x u4 dup


def test_quarantine_records_shape(spark):
    # Quarantine sink rows: JSON payload + reason + lineage (02:44-48).
    res = run_dq(articles(spark), [NotNull("title")])
    rec = to_quarantine_records(
        res.quarantined,
        source_table="articles",
        ingestion_time="2026-01-01 00:00:00",
    )
    cols = set(rec.columns)
    assert {"payload", "reason", "source_table", "ingestion_time"} <= cols
    rows = rec.collect()
    assert all(r["source_table"] == "articles" for r in rows)
    assert all("not_null(title)" in r["reason"] for r in rows)
    # payload round-trips the original row
    parsed = rec.select(
        F.get_json_object("payload", "$.url").alias("url")
    ).collect()
    assert {r["url"] for r in parsed} == {"u2", "u3"}


def test_no_rules_passthrough(spark):
    df = articles(spark)
    res = run_dq(df, [])
    assert res.valid.count() == df.count()
    assert res.quarantined.count() == 0
    assert res.passed


def test_quarantine_round_trip(spark):
    # to_quarantine_records -> from_quarantine_records recovers the rows.
    from news_data_pipeline_spark.dq import from_quarantine_records

    df = articles(spark)
    res = run_dq(df, [NotNull("title")])
    rec = to_quarantine_records(
        res.quarantined, source_table="articles",
        ingestion_time="2026-01-01 00:00:00",
    )
    restored = from_quarantine_records(rec, df.schema)
    rows = {r["url"]: r for r in restored.collect()}
    assert set(rows) == {"u2", "u3"}
    assert rows["u3"]["content"] == "body c"
    assert rows["u2"]["source_table"] == "articles"


def test_unique_keep_first_requires_order(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="order_by"):
        Unique("url", quarantine_all=False)


def test_in_range_matches_inset_freshness_rules(spark):
    from news_data_pipeline_spark.dq.rules import Freshness, InRange, InSet, Matches

    df = spark.createDataFrame(
        [
            (1, 50.0, "https://ok.com", "en", "2024-06-01 00:00:00"),
            (2, -3.0, "https://ok.com", "en", "2024-06-01 00:00:00"),   # range
            (3, 50.0, "not a url", "en", "2024-06-01 00:00:00"),        # regex
            (4, 50.0, "https://ok.com", "xx", "2024-06-01 00:00:00"),   # set
            (5, 50.0, "https://ok.com", "en", "2020-01-01 00:00:00"),   # stale
            (6, None, None, None, None),                                # nulls pass
        ],
        "id long, v double, url string, lang string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    res = run_dq(
        df,
        [
            InRange("v", lo=0.0, hi=100.0),
            Matches("url", r"^https?://"),
            InSet("lang", ["en", "de", "fr"]),
            Freshness("ts", "365 days", as_of="2024-12-31 00:00:00"),
        ],
    )
    bad = {r["id"]: sorted(r["reasons"]) for r in res.quarantined.collect()}
    assert set(bad) == {2, 3, 4, 5}
    assert bad[2] == ["in_range(v,0.0,100.0)"]
    assert bad[3] == ["matches(url)"]
    assert bad[4] == ["in_set(lang)"]
    assert bad[5] == ["freshness(ts,365 days)"]
    # nulls pass every value-shape rule (NotNull owns null policy)
    assert 6 not in bad


def test_freshness_validates_at_construction(spark):
    import pytest as _pytest

    from news_data_pipeline_spark.dq.rules import Freshness

    with _pytest.raises(ValueError, match="as_of"):
        Freshness("ts", "30 days")  # missing as_of fails HERE, not at plan time
    with _pytest.raises(ValueError, match="max_age"):
        Freshness("ts", "month'; DROP", as_of="2024-01-01")


def test_matches_full_match_anchors(spark):
    from news_data_pipeline_spark.dq.rules import Matches

    df = spark.createDataFrame(
        [(1, "2024-01-01"), (2, "x 2024-01-01 y")], ["id", "d"]
    )
    shape = r"\d{4}-\d{2}-\d{2}"
    loose = run_dq(df, [Matches("d", shape)])
    assert loose.quarantined.count() == 0  # substring semantics: both pass
    strict = run_dq(df, [Matches("d", shape, full_match=True)])
    assert [r["id"] for r in strict.quarantined.collect()] == [2]


def test_quarantine_remediation_loop(spark, tmp_path):
    """The full audit cycle: quarantine -> persist -> restore -> fix ->
    replay through the same rules -> everything passes."""
    from news_data_pipeline_spark.dq import from_quarantine_records
    from news_data_pipeline_spark.sources.writers import quarantine_writer

    df = articles(spark)
    rules = [NotNull("title")]
    res = run_dq(df, rules)
    qpath = str(tmp_path / "quarantine")
    quarantine_writer(qpath)(
        to_quarantine_records(
            res.quarantined, source_table="articles",
            ingestion_time="2026-01-01 00:00:00",
        )
    )
    # later: read the audit trail back, repair, replay
    restored = from_quarantine_records(spark.read.parquet(qpath), df.schema)
    # repair both null AND empty titles — NotNull treats "" as null
    repaired = restored.select(*df.columns).withColumn(
        "title",
        F.when(
            F.col("title").isNull() | (F.col("title") == ""), F.lit("RECOVERED")
        ).otherwise(F.col("title")),
    )
    replay = run_dq(repaired, rules)
    assert replay.passed
    assert replay.valid.count() == 2  # u2 + u3 both flow after repair
    assert replay.quarantined.count() == 0


def test_profile_columns_nulls_cardinality_native_minmax(spark):
    import pytest as _pytest

    from news_data_pipeline_spark.dq import profile_columns

    df = spark.createDataFrame(
        [(1, "b", 10.0), (2, None, 9.5), (2, "a", None), (11, "a", 2.0)],
        ["k", "s", "v"],
    )
    prof = {r["col_name"]: r for r in profile_columns(df).collect()}
    assert set(prof) == {"k", "s", "v"}
    assert all(r["n_rows"] == 4 for r in prof.values())
    assert (prof["s"]["n_non_null"], prof["s"]["n_distinct"]) == (3, 2)
    assert (prof["v"]["n_non_null"], prof["v"]["n_distinct"]) == (3, 3)
    # native ordering: numeric min/max (11 > 2), THEN cast to string —
    # lexicographic profiling would claim max(k) = "2"
    assert (prof["k"]["min_value"], prof["k"]["max_value"]) == ("1", "11")
    assert (prof["v"]["min_value"], prof["v"]["max_value"]) == ("2.0", "10.0")
    with _pytest.raises(ValueError, match="no such columns"):
        profile_columns(df, ["k", "nope"])


def test_suggest_rules_from_profile(spark):
    from news_data_pipeline_spark.dq import profile_columns, suggest_rules
    from news_data_pipeline_spark.dq.rules import InRange, NotNull, Unique

    df = spark.createDataFrame(
        [
            (1, 10.0, "a", "x"),
            (2, 20.0, "b", None),
            (3, 30.0, "b", "z"),
        ],
        "id long, score double, tag string, opt string",
    )
    rules = suggest_rules(df, profile_columns(df))
    # id: fully populated, all-distinct, numeric -> all three rules
    assert NotNull("id") in rules
    assert any(isinstance(r, Unique) and r.keys == ("id",) for r in rules)
    assert InRange("id", 1.0, 3.0) in rules
    # score: unique + range
    assert InRange("score", 10.0, 30.0) in rules
    # tag: populated but duplicated, non-numeric -> NotNull only
    assert NotNull("tag") in rules
    assert not any(isinstance(r, Unique) and r.keys == ("tag",) for r in rules)
    assert not any(isinstance(r, InRange) and r.column == "tag" for r in rules)
    # opt: has a null -> no NotNull at the default threshold
    assert NotNull("opt") not in rules


def test_suggest_rules_threshold_and_pad(spark):
    from news_data_pipeline_spark.dq import profile_columns, suggest_rules
    from news_data_pipeline_spark.dq.rules import InRange, NotNull

    df = spark.createDataFrame(
        [(float(i),) for i in range(99)] + [(None,)], "v double"
    )
    # 99% populated: suggested at 0.9 threshold, not at the strict default
    strict = suggest_rules(df)
    relaxed = suggest_rules(df, not_null_threshold=0.9)
    assert NotNull("v") not in strict
    assert NotNull("v") in relaxed
    padded = suggest_rules(df, range_pad=0.1)
    rng = [r for r in padded if isinstance(r, InRange)][0]
    # span 98, 10% pad each side
    assert rng.lo == pytest.approx(-9.8) and rng.hi == pytest.approx(107.8)


def test_suggest_rules_never_quarantines_profiled_data(spark):
    """Regression: suggestions must hold on the very rows they were
    profiled from — string columns get no lexicographic InRange, an
    observed '' blocks NotNull (the rule treats '' as null)."""
    from news_data_pipeline_spark.dq import run_dq, suggest_rules
    from news_data_pipeline_spark.dq.rules import InRange, NotNull

    df = spark.createDataFrame(
        [("9", "", "5"), ("10", "a", "60"), ("8", "b", "7")],
        "numstr string, blank string, digits string",
    )
    rules = suggest_rules(df)
    # '9'/'10' min/max are lexicographic ('10' < '9') — a parsed range
    # would be inverted; digit strings must not get a range either
    assert not any(isinstance(r, InRange) for r in rules)
    # '' was observed, and NotNull counts '' as a violation
    assert NotNull("blank") not in rules
    res = run_dq(df, rules)
    assert res.quarantined.count() == 0


def test_suggest_rules_binary_empty_blocks_not_null(spark):
    """Regression: a fully-populated binary column containing b'' must
    not get a NotNull suggestion — b'' is the bytewise minimum and casts
    to '', which the NotNull RULE counts as a violation for any type."""
    from news_data_pipeline_spark.dq import run_dq, suggest_rules
    from news_data_pipeline_spark.dq.rules import NotNull

    df = spark.createDataFrame(
        [(1, b""), (2, b"xy"), (3, b"z")], "id bigint, payload binary"
    )
    rules = suggest_rules(df)
    assert NotNull("payload") not in rules
    # non-empty binary columns still earn the suggestion
    full = spark.createDataFrame(
        [(1, b"a"), (2, b"xy")], "id bigint, payload binary"
    )
    assert NotNull("payload") in suggest_rules(full)
    res = run_dq(df, rules)
    assert res.quarantined.count() == 0


def test_suggest_rules_e2e_enforces_profiled_shape(spark):
    """Profile clean data -> suggested rules -> run_dq splits a later
    batch that violates the profiled shape (discovery-to-enforcement)."""
    from news_data_pipeline_spark.dq import (
        profile_columns,
        run_dq,
        suggest_rules,
    )

    clean = spark.createDataFrame(
        [(1, 5.0), (2, 6.0), (3, 7.0)], "id long, score double"
    )
    rules = suggest_rules(clean, profile_columns(clean))
    later = spark.createDataFrame(
        [(4, 6.5), (4, 6.0), (None, 5.5), (6, 99.0)],
        "id long, score double",
    )
    res = run_dq(later, rules)
    valid = res.valid.collect()
    quarantined = {
        (r["id"], r["score"]): set(r["reasons"])
        for r in res.quarantined.collect()
    }
    # the only fully-conforming row
    assert [(r["id"], r["score"]) for r in valid] == []
    # 4 appears twice -> unique(id) violations on both copies
    assert any("unique(id)" in v for k, v in quarantined.items() if k[0] == 4)
    # null id -> not_null(id)
    assert any(
        "not_null(id)" in v for k, v in quarantined.items() if k[0] is None
    )
    # 99.0 outside profiled [5, 7] envelope
    assert any(
        any(x.startswith("in_range(score") for x in v)
        for k, v in quarantined.items()
        if k == (6, 99.0)
    )


def test_report_frame_matches_dict_report(spark):
    """report_frame must agree with the collected dict report on every
    rule kind, including schema-level ColumnExists and MinRows."""
    from news_data_pipeline_spark.dq import run_dq
    from news_data_pipeline_spark.dq.rules import (
        ColumnExists,
        MinRows,
        NotNull,
        Unique,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], "id bigint, v string"
    )
    res = run_dq(
        df,
        [
            NotNull("v"),
            Unique("id"),
            MinRows(5),
            ColumnExists("id", "missing_col"),
        ],
    )
    frame = {
        r["rule"]: (r["passed"], r["violations"])
        for r in res.report_frame().collect()
    }
    assert set(frame) == set(res.report)
    for rule, entry in res.report.items():
        assert frame[rule] == (entry["passed"], entry["violations"]), rule


def test_report_frame_no_rules(spark):
    from news_data_pipeline_spark.dq import run_dq

    df = spark.createDataFrame([(1,)], "id bigint")
    res = run_dq(df, [])
    assert res.report_frame().count() == 0


def test_fd_flags_every_row_of_violating_group(spark):
    from news_data_pipeline_spark.dq import FunctionalDependency

    df = spark.createDataFrame(
        [
            (1, "srcA"),
            (1, "srcB"),   # doc 1 maps to two sources -> both rows flagged
            (2, "srcA"),
            (2, "srcA"),   # consistent duplicate -> fine
            (3, None),     # null dependent ignored
            (3, "srcC"),
        ],
        "doc_id long, source string",
    )
    res = run_dq(df, [FunctionalDependency("doc_id", dependent="source")])
    bad = sorted(r["doc_id"] for r in res.quarantined.collect())
    assert bad == [1, 1]
    assert res.report["fd(doc_id->source)"] == {
        "passed": False,
        "violations": 2,
    }


def test_fd_all_null_group_and_holding_fd_pass(spark):
    from news_data_pipeline_spark.dq import FunctionalDependency

    df = spark.createDataFrame(
        [(1, None), (1, None), (2, "x")], "k long, v string"
    )
    res = run_dq(df, [FunctionalDependency("k", dependent="v")])
    assert res.quarantined.count() == 0
    assert res.report["fd(k->v)"]["passed"] is True


def test_fd_multi_column_determinant_and_validation(spark):
    import pytest

    from news_data_pipeline_spark.dq import FunctionalDependency

    df = spark.createDataFrame(
        [
            ("a", 1, "x"),
            ("a", 1, "y"),   # (a,1) -> {x,y}: violated
            ("a", 2, "x"),   # different composite key: fine
        ],
        "g string, k long, v string",
    )
    res = run_dq(df, [FunctionalDependency("g", "k", dependent="v")])
    assert res.quarantined.count() == 2
    with pytest.raises(ValueError, match="determinant"):
        FunctionalDependency(dependent="v")
    with pytest.raises(TypeError):
        FunctionalDependency("g", "v")  # dependent is keyword-only


# ---------------------------------------------------------------- drift


def test_schema_drift_kinds():
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from news_data_pipeline_spark.dq.drift import schema_drift

    expected = StructType(
        [
            StructField("id", LongType(), False),
            StructField("name", StringType(), True),
            StructField("score", DoubleType(), True),
            StructField("gone", StringType(), True),
        ]
    )
    observed = StructType(
        [
            StructField("id", LongType(), True),       # nullability loosened
            StructField("name", LongType(), True),     # retyped
            StructField("score", DoubleType(), True),  # unchanged
            StructField("extra", StringType(), True),  # added
        ]
    )
    drift = {(c, k): (e, o) for c, k, e, o in schema_drift(expected, observed)}
    assert ("gone", "missing") in drift
    assert drift[("name", "type_changed")] == ("string", "bigint")
    assert ("id", "nullability_tightened") in drift
    assert ("extra", "added") in drift
    assert not any(c == "score" for c, _ in drift)
    assert schema_drift(expected, expected) == []


def test_schema_drift_report_frame(spark):
    from news_data_pipeline_spark.dq.drift import schema_drift_report

    a = spark.createDataFrame([(1, "x")], "id long, name string")
    b = spark.createDataFrame([(1,)], "id long")
    rows = schema_drift_report(spark, a, b).collect()
    assert [(r["column"], r["kind"]) for r in rows] == [("name", "missing")]
    assert schema_drift_report(spark, a, a).count() == 0


def test_psi_identical_distributions_is_zero(spark):
    from news_data_pipeline_spark.dq.drift import population_stability_index

    vals = [(float(i % 10),) for i in range(1000)]
    ref = spark.createDataFrame(vals, "v double")
    psi, detail = population_stability_index(ref, ref, "v", lo=0.0, hi=10.0)
    assert psi == 0.0
    # identical frames -> identical per-bin proportions
    assert all(r["ref_p"] == r["cur_p"] for r in detail.collect())


def test_psi_shift_detected_and_matches_reference_formula(spark):
    import math

    from news_data_pipeline_spark.dq.drift import population_stability_index

    ref_vals = [(float(i % 10),) for i in range(1000)]       # uniform 0-9
    cur_vals = [(float(i % 5),) for i in range(1000)]        # mass in 0-4
    ref = spark.createDataFrame(ref_vals, "v double")
    cur = spark.createDataFrame(cur_vals, "v double")
    psi, _ = population_stability_index(
        ref, cur, "v", lo=0.0, hi=10.0, bins=10
    )
    # textbook PSI for (0.1 each) -> (0.2 x5, eps x5), eps=1e-6
    eps = 1e-6
    want = 5 * (0.2 - 0.1) * math.log(0.2 / 0.1) + 5 * (eps - 0.1) * math.log(
        eps / 0.1
    )
    assert psi == round(want, 6)
    assert psi > 0.25  # action threshold for a shift this hard


def test_psi_nulls_and_outliers_are_visible(spark):
    from news_data_pipeline_spark.dq.drift import population_stability_index

    ref = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
    cur = spark.createDataFrame(
        [(None,)] * 50 + [(1e9,)] * 50, "v double"
    )
    psi, detail = population_stability_index(ref, cur, "v", lo=0.0, hi=10.0)
    by_bin = {r["bin"]: r for r in detail.collect()}
    assert by_bin[-1]["cur_n"] == 50        # nulls got their own bin
    assert by_bin[9]["cur_n"] == 50         # outliers clamp into the top bin
    assert psi > 0.25


def test_psi_nan_routes_to_missing_bin_not_bin_zero(spark):
    # NaN is not null: floor(NaN).cast(int) is 0 in non-ANSI Spark, so
    # without an isnan branch NaN mass would silently inflate bin 0
    from news_data_pipeline_spark.dq.drift import population_stability_index

    ref = spark.createDataFrame([(float(i % 10),) for i in range(100)], "v double")
    cur = spark.createDataFrame(
        [(float("nan"),)] * 40 + [(float(i % 10),) for i in range(60)],
        "v double",
    )
    _, detail = population_stability_index(ref, cur, "v", lo=0.0, hi=10.0)
    by_bin = {r["bin"]: r for r in detail.collect()}
    assert by_bin[-1]["cur_n"] == 40        # NaN surfaced with the nulls
    assert by_bin[0]["cur_n"] == 6          # bin 0 holds only real zeros


def test_psi_edge_bins_and_guards(spark):
    import pytest

    from news_data_pipeline_spark.dq.drift import population_stability_index

    ref = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    # bins=1: everything lands in one bin -> zero drift vs itself
    psi, detail = population_stability_index(ref, ref, "v", lo=0.0, hi=10.0, bins=1)
    assert psi == 0.0
    assert {r["bin"] for r in detail.collect()} == {-1, 0}
    with pytest.raises(ValueError, match="bins"):
        population_stability_index(ref, ref, "v", lo=0.0, hi=1.0, bins=0)
    with pytest.raises(ValueError, match="hi > lo"):
        population_stability_index(ref, ref, "v", lo=1.0, hi=1.0)
    # empty current frame: all mass vanishes -> large finite PSI, no crash
    empty = spark.createDataFrame([], "v double")
    psi2, _ = population_stability_index(ref, empty, "v", lo=0.0, hi=10.0)
    assert psi2 > 1.0
