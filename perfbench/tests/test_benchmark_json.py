"""BENCHMARK.json names exactly the workloads and metrics the runs emit."""

import json
import os

from perfbench import harness, layers
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


def test_end_to_end_metrics_match():
    assert tuple(m["name"] for m in _spec()["end_to_end"]) == harness.END_TO_END


def test_per_layer_metrics_match():
    names = [m["name"] for m in _spec()["per_layer"]]
    assert sorted(names) == sorted(
        [*layers.PER_LAYER, *harness.RUN_LEVEL])
    units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    for name, unit in layers.PER_LAYER.items():
        assert units[name] == unit, name
