"""The metrics the runner prints are the ones BENCHMARK.json declares."""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _declared():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json():
    b = _declared()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.LAYER_UNITS


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in _declared()["workloads"]] == list(WORKLOADS)
