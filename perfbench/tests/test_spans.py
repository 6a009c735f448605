"""Self time of nested spans, without Spark."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from spans import Recorder, Span, covered_length  # noqa: E402


def test_covered_length_merges_overlaps():
    assert covered_length([]) == 0
    assert covered_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered_length([(0, 10), (2, 3), (4, 5)]) == 10


def _fixed(rec: Recorder, spec):
    """Install spans (name, parent, start, end) directly."""
    for i, (name, parent, start, end) in enumerate(spec):
        rec.spans.append(Span(i, name, rec.run_id, parent, start, end))


def test_self_time_subtracts_children_once():
    rec = Recorder("r")
    _fixed(
        rec,
        [
            ("plans", None, 0.0, 10.0),
            ("functions", 0, 1.0, 4.0),
            ("functions", 0, 3.0, 6.0),  # overlaps its sibling
            ("dq", 1, 1.5, 2.0),  # grandchild: covered by its parent
        ],
    )
    assert rec.self_time(rec.spans[0]) == pytest.approx(5.0)
    assert rec.self_time(rec.spans[1]) == pytest.approx(2.5)
    assert rec.self_time(rec.spans[3]) == pytest.approx(0.5)


def test_by_layer_counts_nested_same_layer_wall_once():
    rec = Recorder("r")
    _fixed(
        rec,
        [
            ("writers", None, 0.0, 4.0),
            ("writers", 0, 1.0, 3.0),
            ("model", None, 5.0, 6.0),
        ],
    )
    layers = rec.by_layer(cores=4)
    assert layers["writers"]["wall_s"] == pytest.approx(4.0)
    assert layers["writers"]["self_s"] == pytest.approx(4.0)
    assert layers["model"]["wall_s"] == pytest.approx(1.0)


def test_recorder_context_nests_and_closes():
    rec = Recorder("run-7")
    with rec.span("plans"):
        with rec.span("functions"):
            pass
    outer, inner = rec.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert {s.run_id for s in rec.spans} == {"run-7"}
    assert rec.self_time(outer) <= outer.duration
