"""BENCHMARK.json names exactly the metrics run.py prints."""

import json
import os

import pytest

import run

BENCH = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


@pytest.fixture(scope="module")
def bench():
    if not os.path.exists(BENCH):
        pytest.skip("no BENCHMARK.json beside the benchmark")
    with open(BENCH) as fh:
        return json.load(fh)


def test_end_to_end_metrics_match(bench):
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} \
        == run.E2E_UNITS
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_per_layer_metrics_match(bench):
    from spans import Tracer

    layers, _ = run.layer_metrics(Tracer(), None, [], 0.0, 0.0, {})
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} \
        == {k: unit for k, (_, unit) in layers.items()}


def test_workloads_are_runnable(bench):
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
