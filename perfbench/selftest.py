#!/usr/bin/env python3
"""Smoke self-test of the benchmark at tiny sizes (about 3 minutes).

    python3 perfbench/selftest.py

For each workload it makes two tiny runs through the real command line
(a 10 s acquisition in a fleet of 3; 2 queries on a corpus at sf0.001
shapes) and asserts:

* the untraced run is correct and emits every end-to-end metric of
  ``BENCHMARK.json`` with its unit and a non-zero value;
* the traced run, with one output deliberately corrupted, emits every
  per-layer metric with its unit and reports the corruption as a
  failed operation.

It also asserts that ``BENCHMARK.json`` lists exactly the metrics the
benchmark emits.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, per_layer_specs  # noqa: E402


def run(workload: str, trace: int, corrupt: bool) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--size", "smoke"] + (["--corrupt"] if corrupt else [])
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=180)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                         f"{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, specs, nonzero: bool) -> None:
    got = result["metrics"]
    want = {name: unit for name, unit, _ in specs}
    assert set(got) == set(want), sorted(set(got) ^ set(want))
    for name, unit in want.items():
        assert got[name]["unit"] == unit, (name, got[name])
        assert isinstance(got[name]["value"], float), (name, got[name])
        assert not nonzero or got[name]["value"] > 0, (name, got[name])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] \
        == END_TO_END, "BENCHMARK.json end_to_end differs from run.END_TO_END"
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] \
        == per_layer_specs(), "BENCHMARK.json per_layer differs from run.py"
    for w in bench["workloads"]:
        clean = run(w["name"], trace=0, corrupt=False)
        assert clean["correct"] and clean["failed"] == 0, clean
        assert clean["attempted"] >= 1, clean
        check_metrics(clean, END_TO_END, nonzero=True)
        broken = run(w["name"], trace=1, corrupt=True)
        assert not broken["correct"] and broken["failed"] >= 1, broken
        check_metrics(broken, per_layer_specs(), nonzero=False)
        print(f"{w['name']}: ok ({clean['attempted']} ops clean, "
              f"{broken['failed']} of {broken['attempted']} failed when corrupted)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
