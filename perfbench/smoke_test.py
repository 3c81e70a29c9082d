"""Smoke test of the benchmark itself, at toy size.

    python3 perfbench/smoke_test.py

For every workload, an untraced and a traced run must print exactly the
metrics BENCHMARK.json names, with its units, and pass their correctness
checks. A run with a deliberately wrong expected count must report a failed
check (``correct`` false, ``failed`` > 0). Takes a few minutes: every run
starts its own SparkSession.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOY = ["--seconds", "2", "--batch", "300", "--warm", "1"]


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "3", "--trace", str(trace), *TOY, *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    for w in [w["name"] for w in bench["workloads"]]:
        for trace in (0, 1):
            r = run(w, trace)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == want[trace], (w, trace, got)
            assert r["correct"] and r["failed"] == 0 and r["attempted"] > 0, r
            print(f"ok  {w} trace={trace}: {len(got)} metrics, "
                  f"{r['attempted']} checks")
    r = run(bench["workloads"][0]["name"], 0, "--wrong-count")
    assert not r["correct"] and r["failed"] > 0, r
    print(f"ok  wrong expected count -> {r['failed']}/{r['attempted']} failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
