"""BENCHMARK.json and the benchmark's code declare the same metrics."""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics_spec  # noqa: E402
import run  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_workloads_and_end_to_end_match_the_runner():
    assert {w["name"] for w in SPEC["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])


def test_per_layer_matches_metrics_spec():
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == [
        (k, u, metrics_spec.better(k))
        for k, u in metrics_spec.PER_LAYER_UNITS.items()]
    assert len(SPEC["per_layer"]) <= 128


def test_names_are_well_formed_and_unique():
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in SPEC[key]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
