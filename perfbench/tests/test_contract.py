"""BENCHMARK.json, perfbench/rationale.json and the runner agree."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

from perfbench.run import E2E, WORKLOADS, layer_units

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _load(*parts: str) -> dict:
    with open(os.path.join(ROOT, *parts), encoding="utf-8") as fh:
        return json.load(fh)


def test_benchmark_json_matches_runner():
    bench = _load("BENCHMARK.json")
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layer_units()
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in bench["workloads"])


def test_rationale_maps_every_layer_metric():
    rationale = _load("perfbench", "rationale.json")
    mapped = {m for layer in rationale["layers"].values() for m in layer["metrics"]}
    assert mapped == set(layer_units())
    assert set(rationale["workloads"]) == set(WORKLOADS)
    e2e = set(E2E)
    for layer in rationale["layers"].values():
        assert set(layer["moves"]) <= e2e


def test_runner_refuses_without_the_engine(tmp_path):
    """Outside a checkout (only BENCHMARK.json and perfbench/ present) the
    runner exits non-zero without printing a result line."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
