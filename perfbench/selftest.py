#!/usr/bin/env python3
"""Self-test of the benchmark, on tiny inputs.

    python3 perfbench/selftest.py

Runs every workload untraced, and one traced run (which runs flagship,
serve and inventory), each through run.py in its own process, and checks
that:
  - each run prints as its last line one JSON object with exactly the keys
    correct, attempted, failed and metrics, and reports no failure;
  - the metric names are exactly BENCHMARK.json's end_to_end names
    (untraced) or per_layer names (traced), each with its unit and a number;
  - with --sabotage 1, which makes one expected value per workload wrong,
    each workload, and serve inside the traced run, reports the mismatch.
Exits 0 when all of that holds.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("flagship", "inventory")
# a failure line of each workload when its expected values are sabotaged
SABOTAGE_SIGNS = {"flagship": "pip: polygon", "inventory": "values differ|rows !=",
                  "serve": "find [#amenity="}


def run(workload, trace=0, sabotage=0, seed=5):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "3", "--trace", str(trace),
           "--tiny", "1", "--sabotage", str(sabotage)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise AssertionError(f"{' '.join(cmd[1:])} exited with {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), [l for l in lines if l.startswith("# FAILED")]


def check_shape(res, spec, label):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, f"{label}: keys {set(res)}"
    names = {m["name"]: m["unit"] for m in spec}
    assert set(res["metrics"]) == set(names), (
        f"{label}: missing {sorted(set(names) - set(res['metrics']))}, "
        f"extra {sorted(set(res['metrics']) - set(names))}")
    for name, m in res["metrics"].items():
        assert m["unit"] == names[name], f"{label}: {name} unit {m['unit']} != {names[name]}"
        assert isinstance(m["value"], (int, float)), f"{label}: {name} value {m['value']!r}"
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1, label


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w, trace in [(w, 0) for w in WORKLOADS] + [("flagship", 1)]:
        label = f"{w} trace={trace}"
        try:
            res, _ = run(w, trace=trace)
            check_shape(res, bench["per_layer" if trace else "end_to_end"], label)
            assert res["correct"] and res["failed"] == 0, f"{label}: {res['failed']} failed"
            print(f"ok   {label}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} checks", flush=True)
        except AssertionError as e:
            problems.append(str(e))
            print(f"FAIL {e}", flush=True)
    for w, trace in [(w, 0) for w in WORKLOADS] + [("serve", 1)]:
        label = f"{w} sabotage"
        try:
            res, failed = run("flagship" if trace else w, trace=trace, sabotage=1)
            assert not res["correct"] and res["failed"] >= 1, \
                f"{label}: a wrong expected value was not reported"
            signs = SABOTAGE_SIGNS[w].split("|")
            assert any(sign in l for l in failed for sign in signs), \
                f"{label}: no failure line from {w}"
            print(f"ok   {label}: {res['failed']} failure(s) reported", flush=True)
        except AssertionError as e:
            problems.append(str(e))
            print(f"FAIL {e}", flush=True)
    if problems:
        sys.exit(1)
    print("selftest passed")


if __name__ == "__main__":
    main()
