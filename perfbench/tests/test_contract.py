"""BENCHMARK.json names exactly the metrics run.py prints."""

import json
import os

import run

BENCHMARK = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def test_metric_names_match_the_benchmark_file():
    with open(BENCHMARK, encoding="utf-8") as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == run.LAYER_METRICS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {
        n: run.layer_unit(n) for n in run.LAYER_METRICS
    }
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
