"""BENCHMARK.json names exactly the workloads and metrics the runner prints."""

import json
import os

from perfbench.report import E2E, PER_LAYER
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(E2E)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(PER_LAYER)
