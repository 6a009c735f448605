"""tools/ab.py: the row-identity check gates every timed run, and the
report carries every key for every arm."""

from __future__ import annotations

import importlib.util
import os

import pytest

from tests.conftest import ROOT

spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(ROOT, "tools", "ab.py")
)
ab = importlib.util.module_from_spec(spec)
spec.loader.exec_module(ab)


def test_equal_arms_report_every_key(spark):
    arms = {
        "range": lambda s: s.range(5),
        "reversed": lambda s: s.range(5).orderBy("id", ascending=False),
    }
    report = ab.run(spark, arms)
    assert report["pairs"] == ab.PAIRS
    assert set(report["arms"]) == set(arms)
    for arm in report["arms"].values():
        assert set(arm) == {
            "median_s",
            "shuffle_write_bytes",
            "shuffle_read_bytes",
            "compiles",
            "wins_vs_first",
        }
        assert 0 <= arm["wins_vs_first"] <= ab.PAIRS
    assert report["arms"]["range"]["wins_vs_first"] == 0
    # warmed up, a rerun of the same plan finds its classes cached
    assert report["arms"]["range"]["compiles"] == 0


def test_different_rows_raise_before_any_timed_run(spark, monkeypatch):
    timed = []
    monkeypatch.setattr(ab, "run_query", lambda *a: timed.append(a))
    arms = {"five": lambda s: s.range(5), "six": lambda s: s.range(6)}
    with pytest.raises(ValueError, match="row count 5 vs 6"):
        ab.run(spark, arms)
    assert timed == []
