#!/usr/bin/env python3
"""Self-test of the benchmark at its own scales (the star corpus at
scale factor 0.001, 500 documents): every workload runs once untraced
(the incremental loop too), the two timed workloads once traced, all
with seed 7, whose checksums expected.tsv records. Each run must exit 0
with all output checks passed, and its result line must parse, stay
under the length bound and carry exactly the metrics BENCHMARK.json
names, with their units.

Usage: python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "0", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0, f"{workload} trace {trace}: exit {p.returncode}"
    return lines[-1]


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    timed = [w["name"] for w in spec["workloads"]]
    plan = [(w, 0) for w in timed + ["loop_increment"]] + [(w, 1) for w in timed]
    for workload, trace in plan:
        line = run(workload, trace)
        r = json.loads(line)
        assert r["correct"] and r["failed"] == 0, (workload, r)
        assert len(line) < 2000, (workload, len(line))
        got = {k: v["unit"] for k, v in r["metrics"].items()}
        if workload in timed:
            assert got == want[trace], (workload, trace, got)
        print(f"ok {workload} trace={trace} attempted={r['attempted']} "
              f"line={len(line)}B")
    print("selftest passed")


if __name__ == "__main__":
    main()
