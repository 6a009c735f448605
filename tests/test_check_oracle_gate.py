"""The local oracle gate's comparison semantics (tools/check_oracle.py).

This gate is the guard for all 162 oracled queries — its own semantics
deserve pinning: exact matching with int/float tag crossover ONLY at
exact value equality, canonicalization of the cross-engine type zoo,
and the round-5 rule that a tolerance-only match is a FAILURE with a
rescued-cell count (the class that produced r3's and r4's red driver
rows must die locally).
"""

from __future__ import annotations

import importlib.util
import os

from tests.conftest import ROOT

spec = importlib.util.spec_from_file_location(
    "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
)
co = importlib.util.module_from_spec(spec)
spec.loader.exec_module(co)


def test_canon_value_types():
    import datetime

    import numpy as np

    assert co.canon_value(None) is None
    assert co.canon_value(float("nan")) is None
    assert co.canon_value(1.0) == ("f", 1.0)
    assert co.canon_value(np.float64(2.5)) == ("f", 2.5)
    # 6dp rounding is part of the canon
    assert co.canon_value(0.12345649) == ("f", 0.123456)
    assert co.canon_value(7) == ("i", 7)
    assert co.canon_value(np.int32(7)) == ("i", 7)
    assert co.canon_value(True) != ("i", 1)  # bools are not ints here
    assert co.canon_value(datetime.date(2024, 1, 2)) == ("d", "2024-01-02")
    assert co.canon_value(b"\x01\xff") == ("b", "01ff")
    assert co.canon_value([1, 2.0]) == ("l", (("i", 1), ("f", 2.0)))


def test_cell_exact_tag_crossover_only_on_equality():
    # DuckDB HUGEINT arrives as float64; Spark keeps long — equal VALUES
    # must match across tags, unequal values must not
    assert co.cell_exact(("i", 5), ("f", 5.0))
    assert not co.cell_exact(("i", 5), ("f", 5.0000001))
    assert co.cell_exact(("l", (("i", 1),)), ("l", (("f", 1.0),)))
    assert not co.cell_exact(("s", "5"), ("i", 5))


def test_rows_equal_flags_tolerance_rescue_as_failure():
    a = [(("f", 1.23), ("s", "x"))]
    b_exact = [(("f", 1.23), ("s", "x"))]
    b_close = [(("f", 1.230000001), ("s", "x"))]
    b_far = [(("f", 1.24), ("s", "x"))]

    ok, why, rescued = co.rows_equal(a, b_exact)
    assert ok and rescued == 0

    ok, why, rescued = co.rows_equal(a, b_close)
    assert not ok and rescued == 1
    assert "tolerance-rescued" in why

    ok, why, rescued = co.rows_equal(a, b_far)
    assert not ok and rescued == 0
    assert "first diff" in why

    ok, why, _ = co.rows_equal(a, a + a)
    assert not ok and "row count" in why


def test_rows_equal_counts_every_rescued_cell():
    a = [(("f", 1.0), ("f", 2.0)), (("f", 3.0), ("f", 4.0))]
    b = [(("f", 1.000000001), ("f", 2.0)), (("f", 3.0), ("f", 4.000000001))]
    ok, why, rescued = co.rows_equal(a, b)
    assert not ok and rescued == 2


def test_dtype_kind_mismatch_detector():
    """int64-vs-float64 divergence is the r5/r6 driver red class: values
    compare equal locally (42 == 42.0) but the driver stringifies
    through pandas ('42' vs '42.0') and the hash fails. The gate must
    flag kind mismatches even when every value matches."""
    import pandas as pd

    s_int = pd.DataFrame({"a": [1, 2], "b": [1.5, 2.5]})
    d_float = pd.DataFrame({"a": [1.0, 2.0], "b": [1.5, 2.5]})
    got = co.dtype_kind_mismatches(s_int, d_float)
    assert len(got) == 1 and got[0].startswith("a ")
    # same kinds on both sides: clean
    assert co.dtype_kind_mismatches(s_int, s_int.copy()) == []
    # null-bearing int coerces to float64 on BOTH sides -> same kind
    s_null = pd.DataFrame({"a": [1.0, None]})
    d_null = pd.DataFrame({"a": [1.0, None]})
    assert co.dtype_kind_mismatches(s_null, d_null) == []
    # object/decimal vs float is NOT the class (stringifies identically)
    import decimal

    s_dec = pd.DataFrame({"a": [decimal.Decimal("1.5")]})
    d_flt = pd.DataFrame({"a": [1.5]})
    assert co.dtype_kind_mismatches(s_dec, d_flt) == []
    # empty frames carry no dtype evidence
    assert co.dtype_kind_mismatches(s_int.iloc[:0], d_float.iloc[:0]) == []
    # bool vs int is not flagged (different failure surface, not seen)
    s_b = pd.DataFrame({"a": [True, False]})
    d_i = pd.DataFrame({"a": [1, 0]})
    assert co.dtype_kind_mismatches(s_b, d_i) == []
