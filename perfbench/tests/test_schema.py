"""BENCHMARK.json against the metric catalog the benchmark prints."""

import json
import os
import re

import metrics
import workloads

from conftest import ROOT

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def load():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_top_level_keys():
    bench = load()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert 1 <= bench["run_seconds"] <= 60
    assert isinstance(bench["run_seconds"], int)
    assert 1 <= len(bench["paths"]) <= 16
    for p in bench["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p
    assert len(bench["command"]) <= 32
    for arg in bench["command"]:
        assert len(arg) <= 200 and not arg.startswith("/")
        assert ".." not in arg
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) < 64 << 10


def test_workloads_match_runner():
    bench = load()
    names = [w["name"] for w in bench["workloads"]]
    assert 2 <= len(names) <= 8
    assert sorted(names) == sorted(workloads.WORKLOADS)
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"}
        assert NAME.match(w["name"])
        assert 0 < len(w["why"]) <= 200 and "\n" not in w["why"]


def test_metric_names_and_units_match_catalog():
    bench = load()
    e2e = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
    assert e2e == metrics.END_TO_END
    layer = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert layer == metrics.PER_LAYER
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    all_names = [n for n, _ in e2e + layer]
    assert len(all_names) == len(set(all_names))
    for name, unit in e2e + layer:
        assert NAME.match(name), name
        assert UNIT.match(unit), unit


def test_end_to_end_bounds():
    bench = load()
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"]
                                   for m in bench["end_to_end"])}]
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert m["better"] in ("lower", "higher")


def test_every_op_type_has_a_latency_metric():
    names = {n for n, _ in metrics.PER_LAYER}
    for factory in workloads.WORKLOADS.values():
        for op in factory(1.0).op_types:
            assert f"op.{op}.p50_s" in names
