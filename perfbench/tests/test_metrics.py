"""BENCHMARK.json and the metric registry agree, and every name is
well formed."""

import importlib
import json
import os

from perfbench import metrics

from conftest import ROOT

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_names_are_well_formed():
    names = list(metrics.END_TO_END) + list(metrics.LAYER_NAMES)
    names += [w["name"] for w in BENCH["workloads"]]
    assert all(metrics.NAME_RE.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))


def test_benchmark_json_matches_the_registry():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == metrics.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] == [
        (m.name, m.unit, m.better) for m in metrics.PER_LAYER]
    assert tuple(w["name"] for w in BENCH["workloads"]) == metrics.WORKLOADS


def test_every_layer_maps_to_an_end_to_end_metric_and_workload():
    for m in metrics.PER_LAYER:
        assert m.moves in metrics.END_TO_END
        assert m.workloads and set(m.workloads) <= set(metrics.WORKLOADS)


def test_bounds_and_setup_metric():
    e2e = {m["name"]: m for m in BENCH["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_every_workload_module_has_the_interface():
    for name in metrics.WORKLOADS:
        mod = importlib.import_module(f"perfbench.{name}")
        for fn in ("setup", "run", "check", "targets", "layers"):
            assert callable(getattr(mod, fn)), (name, fn)
