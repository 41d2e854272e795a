"""BENCHMARK.json is well formed and names exactly what the runs print.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

from perfbench import config as C
from perfbench import layers, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
E2E = {"setup_s", "op_p50_ms", "throughput_per_s", "fresh_p50_ms"}


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert all(UNIT.match(m["unit"]) and m["better"] in ("lower", "higher") for m in b["end_to_end"] + b["per_layer"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_names_match_what_runs_print():
    b = _bench()
    assert tuple(w["name"] for w in b["workloads"]) == run.WORKLOADS
    assert run.declared("end_to_end") == E2E
    assert run.declared("per_layer") == set(layers.COMMON_MOVES)


def test_holdout_seed_kept_apart():
    assert C.HOLDOUT_SEED not in C.DEV_SEEDS
