"""Scalar quantization (operators.sq): bounds, code values, and the
asymmetric distance ranking on hand-computable vectors."""

from __future__ import annotations

import pyspark.sql.functions as F

from news_data_pipeline_spark.operators.sq import (
    sq_adc_topk,
    sq_encode,
    sq_train,
)


def _vectors(spark):
    # dim 2; dim 1 spans [0, 10], dim 2 is CONSTANT (hi == lo)
    rows = [
        (0, [0.0, 7.0]),
        (1, [10.0, 7.0]),
        (2, [5.0, 7.0]),
        (3, [4.9, 7.0]),
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_sq_train_bounds(spark):
    b = {r.j: (r.lo, r.hi) for r in sq_train(_vectors(spark)).collect()}
    assert b == {1: (0.0, 10.0), 2: (7.0, 7.0)}


def test_sq_encode_values_and_constant_dim(spark):
    vecs = _vectors(spark)
    bounds = sq_train(vecs)
    codes = {
        (r.id, r.j): r.code
        for r in sq_encode(vecs, bounds).collect()
    }
    # dim 1: x/10*255 half-up
    assert codes[(0, 1)] == 0
    assert codes[(1, 1)] == 255
    assert codes[(2, 1)] == 128  # 127.5 + 0.5 -> 128
    assert codes[(3, 1)] == 125  # 124.95 + 0.5 -> 125
    # constant dimension encodes 0 for every vector (no information)
    assert all(codes[(i, 2)] == 0 for i in range(4))


def test_sq_adc_ranks_by_dequantized_distance(spark):
    vecs = _vectors(spark)
    bounds = sq_train(vecs)
    codes = sq_encode(vecs, bounds)
    q = vecs.where(F.col("vec_id") == 2)
    got = sq_adc_topk(q, codes, bounds, k=10).collect()
    # neighbors of 5.0 on dim 1 (dequantized): 3 -> 125/255*10 = 4.902,
    # 0 -> 0.0 and 1 -> 10.0 TIE at dist 25 -> neighbor-id tie-break;
    # dim 2 dequantizes to lo = 7.0 exactly for everyone (constant dim
    # contributes |7 - 7|^2 = 0)
    assert [r.neighbor_id for r in got] == [3, 0, 1]
    assert [r.rank for r in got] == [1, 2, 3]
    assert got[0].sq_dist < got[1].sq_dist == got[2].sq_dist == 25.0
    # self-pair excluded
    assert 2 not in {r.neighbor_id for r in got}
    # exact check of the nearest distance: (5 - 4.901960784313726)^2
    d = (5.0 - (125 * 10.0 / 255)) ** 2
    import math

    assert got[0].sq_dist == math.floor(
        (math.floor(d * 1e12 + 0.5) / 1e12) * 1e6 + 0.5
    ) / 1e6


def test_sq_adc_edge_rows_exact(spark):
    """Exact (query_id, neighbor_id, sq_dist, rank) rows on the edge
    rows the join form's semantics pin: a constant dimension (hi ==
    lo), a NULL vector (dropped), vectors of DIFFERENT lengths (terms
    iterate the shared 1..min(len) prefix), and a NULL component (codes
    0, its dequantized diff still scores against a non-null query
    component). The expected rows were produced identically by the join
    form and by the row-local fold retired in SCALE.md "Retired paths"."""
    rows = [
        (0, [0.0, 7.0, 1.0]),
        (1, [10.0, 7.0, 2.0]),
        (2, [5.0, 7.0, None]),   # null component
        (3, [4.9, 7.0]),         # shorter vector
        (4, None),               # null vector
        (5, [2.5, 7.0, 3.0]),
    ]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    bounds = sq_train(vecs)
    codes = sq_encode(vecs, bounds)
    q = vecs.where(F.col("vec_id") < 3)
    got = sorted(
        (r.query_id, r.neighbor_id, r.sq_dist, r.rank)
        for r in sq_adc_topk(q, codes, bounds, k=10).collect()
    )
    assert got == [
        (0, 1, 101.007859, 4),
        (0, 2, 25.196463, 3),
        (0, 3, 24.02922, 2),
        (0, 5, 10.299116, 1),
        (1, 0, 101.0, 4),
        (1, 2, 25.804306, 1),
        (1, 3, 25.990004, 2),
        (1, 5, 57.103037, 3),
        (2, 0, 25.0, 3),
        (2, 1, 25.0, 4),
        (2, 3, 0.009612, 1),
        (2, 5, 6.201077, 2),
    ]


def test_sq_null_vector_dropped(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None)], "vec_id long, embedding array<double>"
    )
    bounds = sq_train(vecs)
    assert sq_encode(vecs, bounds).where(F.col("id") == 1).count() == 0


def test_read_sq_codes_empty_path_schema_matches_encode(spark, tmp_path):
    """The unwritten-path fallback of ``read_sq_codes`` must declare
    exactly the schema ``sq_encode`` writes (ADVICE r8: it said
    ``j bigint`` where posexplode's position makes ``j`` INT, so a
    union with fresh codes failed or silently widened only on the
    empty branch)."""
    from news_data_pipeline_spark.streaming.sinks import read_sq_codes

    empty = read_sq_codes(spark, str(tmp_path / "never_written"))
    vecs = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    encoded = sq_encode(vecs, sq_train(vecs))
    types = lambda df: [  # noqa: E731 — nullability is format-owned
        (f.name, f.dataType) for f in df.schema.fields
    ]
    assert types(empty) == types(encoded)
    # the merge consumers actually perform: must neither fail nor widen
    merged = empty.unionByName(encoded)
    assert types(merged) == types(encoded)
    assert merged.count() == 2
    # and against a WRITTEN partition (the real table the fallback
    # stands in for) the schemas agree exactly
    encoded.write.parquet(str(tmp_path / "codes" / "batch_id=0"))
    from pyspark.sql import functions as F  # noqa: F401

    written = spark.read.option(
        "basePath", str(tmp_path / "codes")
    ).parquet(str(tmp_path / "codes")).select("id", "j", "code")
    assert empty.schema == written.schema
