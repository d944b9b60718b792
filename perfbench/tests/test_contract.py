"""BENCHMARK.json and the runner agree on workloads, metrics and units."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_workloads_match():
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)
    assert set(run.SPARK_KINDS) == set(workloads.WORKLOADS)


def test_metric_names_and_units_match():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.LAYER_UNITS
