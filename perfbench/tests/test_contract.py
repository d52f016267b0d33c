"""The metric names the benchmark prints are the ones BENCHMARK.json declares."""

import json
import os

from perfbench.harness import END_TO_END, PER_LAYER, _result
from perfbench.workloads import NAMES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declared_metrics_match_printed():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == NAMES


def test_result_line_has_every_metric():
    r = _result(True, 3, 0, {"setup_s": 1.5}, END_TO_END)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert set(r["metrics"]) == set(END_TO_END)
    assert r["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}
