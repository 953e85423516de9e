"""BENCHMARK.json names runnable workloads, and the runner reads its metric
names and units from it."""

import json

import run


def _spec():
    with open(run.SPEC) as f:
        return json.load(f)


def test_end_to_end_bounds():
    spec = _spec()
    for m in spec["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_metric_units_come_from_the_spec():
    spec = _spec()
    for kind in ("end_to_end", "per_layer"):
        assert run.metric_units(kind) == {m["name"]: m["unit"] for m in spec[kind]}


def test_workloads_are_runnable():
    names = [w["name"] for w in _spec()["workloads"]]
    assert set(names) <= {*run.WORKLOADS, run.LIVE}
    assert run.LIVE in names
