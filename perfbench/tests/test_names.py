"""Metric and workload names stay inside the allowed character sets, and
the layer-to-end-to-end mapping in metrics.py covers exactly the layer
metrics BENCHMARK.json declares."""

import re

import metrics as M
from workloads import WORKLOADS

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_names_and_units_use_allowed_characters():
    b = M.load()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + list(WORKLOADS)
    bad = [n for n in names if not NAME.match(n)]
    assert not bad, bad
    assert len(set(names)) == len(names)
    assert all(UNIT.match(u) for u in b["units"].values())


def test_benchmark_json_keeps_the_contract_shape():
    b = M.load()
    assert set(b) - {"units"} == {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in b["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in b["per_layer"])
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in b["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert len(b["per_layer"]) <= 128


def test_every_layer_metric_says_what_it_should_move():
    assert set(M.MOVES) == {m["name"] for m in M.load()["per_layer"]}
