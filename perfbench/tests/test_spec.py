"""Pins the benchmark's contract: workload and metric names, units,
bounds, and that BENCHMARK.json and the code agree."""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

import spec

BENCHMARK = Path(__file__).resolve().parents[2] / "BENCHMARK.json"
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench():
    return json.loads(BENCHMARK.read_text())


def test_top_level_keys(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60


def test_workloads(bench):
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"}
        assert 0 < len(w["why"]) <= 200 and "\n" not in w["why"]


def test_end_to_end_names_units_bounds(bench):
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == spec.END_TO_END
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["docs_per_s"]["better"] == "higher"
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_per_layer_names_units(bench):
    per_layer = {m["name"]: m for m in bench["per_layer"]}
    assert {n: m["unit"] for n, m in per_layer.items()} == spec.PER_LAYER
    assert {n: m["better"] for n, m in per_layer.items()} == spec.PER_LAYER_BETTER
    assert 1 <= len(per_layer) <= 128
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


def test_name_and_unit_syntax(bench):
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in bench[key]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")


def test_every_span_has_a_metric_and_every_layer_is_ledgered():
    assert set(spec.SPAN_METRICS.values()) <= set(spec.PER_LAYER)
    for layer in ("runtime", "extract", "geotag"):
        for name in ("executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
                     "spill_bytes"):
            assert f"{layer}.{name}" in spec.PER_LAYER
    kernels = [n for n in spec.PER_LAYER if n.startswith("extract.kernel.")]
    assert len(kernels) == 3 * len(spec.INPUT_KINDS)
