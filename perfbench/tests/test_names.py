"""What the benchmark prints matches BENCHMARK.json, both ways."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import run  # noqa: E402

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _printed(spec: dict, values: dict) -> dict:
    line = json.loads(run.result_line(True, 1, 0, values, spec))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    return line["metrics"]


def test_end_to_end_names_units_and_direction_match():
    declared = {m["name"]: (m["unit"], m["better"]) for m in _spec()["end_to_end"]}
    assert declared == run.END_TO_END
    printed = _printed(run.END_TO_END, dict.fromkeys(run.END_TO_END, 1.0))
    assert {k: v["unit"] for k, v in printed.items()} == {
        k: u for k, (u, _) in declared.items()
    }


def test_per_layer_names_units_and_direction_match():
    declared = {m["name"]: (m["unit"], m["better"]) for m in _spec()["per_layer"]}
    assert declared == run.PER_LAYER
    printed = _printed(run.PER_LAYER, dict.fromkeys(run.PER_LAYER, 1.0))
    assert set(printed) == set(declared)


def test_layer_values_fill_every_per_layer_metric():
    traced = [
        {
            "wall_s": 2.0,
            "files_written": 3,
            "by_layer": {"dq": {"wall_s": 1.0, "jobs": 2}},
            "notes": {"dq.quarantine_rows": 5.0},
        }
    ]
    values = run.layer_values(traced, [{"wall_s": 1.5}])
    assert set(values) == set(run.PER_LAYER)
    assert values["dq.jobs"] == 2 and values["dq.quarantine_rows"] == 5
    assert values["tracing.overhead_s"] == 0.5


def test_workloads_match_and_command_stays_in_paths():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.workloads())
    assert spec["paths"] == ["perfbench"]
    assert spec["command"][1].startswith("perfbench/")
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
