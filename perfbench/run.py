#!/usr/bin/env python3
"""End-to-end benchmark of the engine: batch xref, the incremental loop
and corpus curation. Builds the engine from source on first use, runs one
workload in a fresh JVM, and prints one JSON result line last.

Usage:
  python3 perfbench/run.py --workload xref_batch|loop_increment|curate_corpus
      --seed N --seconds S --trace 0|1

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The full record of a run (set-up and unit walls, weather probe, every
span with its jobs, CPU, shuffle and floor) is written to
.bench_out/<workload>-seed<N>-trace<T>.json. The exit code is 0 only
when every output check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("xref_batch", "loop_increment", "curate_corpus")
# the timed workloads must end within 180 s; the standalone loop
# workload drives several micro-batches and takes minutes
TIMEOUT_S = {"loop_increment": 900}
MAX_LINE = 2000

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_result(line):
    """The result line's shape, checked before it is passed on. A run
    whose checks failed may lack values; it exits non-zero anyway."""
    r = json.loads(line)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1
    assert isinstance(r["failed"], int)
    for name, m in r["metrics"].items():
        assert set(m) == {"value", "unit"}, name
        assert not r["correct"] or isinstance(m["value"], (int, float)), name
    assert len(line) < MAX_LINE, len(line)
    return r


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    cp = build.build()
    here = os.path.dirname(os.path.abspath(__file__))
    root = build.ROOT
    work = os.path.join(root, ".bench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    record = os.path.join(root, ".bench_out",
                          f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms1g", "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--data", os.path.join(here, "data"),
              "--expected", os.path.join(here, "expected.tsv"),
              "--work", work, "--record", record])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            cwd=work, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S.get(a.workload, 178))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run: {a.workload} ran out of time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"run: benchmark JVM exited {proc.returncode}")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    result = parse_result(lines[-1])
    print(lines[-1])
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
