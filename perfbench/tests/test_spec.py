"""BENCHMARK.json and the runner agree on workloads, metric names and units."""

import json
import os

import run as R
from conftest import ROOT

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)


def test_workloads_match():
    assert [w["name"] for w in SPEC["workloads"]] == list(R.WORKLOADS)


def test_end_to_end_metrics_match():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == R.END_TO_END
    assert any(m["name"] == "setup_s" and m["better"] == "lower" for m in SPEC["end_to_end"])


def test_per_layer_units_match():
    for m in SPEC["per_layer"]:
        assert R._unit(m["name"]) == m["unit"], m["name"]
