"""BENCHMARK.json names exactly the metrics and workloads run.py emits."""

import json
import os

from perfbench import run, workloads

SPEC = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def test_benchmark_json_matches_the_runner():
    with open(SPEC) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
