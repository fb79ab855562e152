"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload in tiny mode (sf0.001, few queries and waves),
untraced and traced, and asserts that each run prints every metric
named in BENCHMARK.json with its unit, checks its outputs, and fails no
operation. This includes ``fleet_heavy``, which BENCHMARK.json leaves
out. Takes a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def run_once(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(out)}")
    if not (out["correct"] and out["failed"] == 0 and out["attempted"] >= 1):
        problems.append(f"correct={out['correct']} failed={out['failed']} attempted={out['attempted']}")
    want = spec["per_layer" if trace else "end_to_end"]
    if sorted(out["metrics"]) != sorted(m["name"] for m in want):
        problems.append(f"metric names {sorted(out['metrics'])}")
    for m in want:
        got = out["metrics"].get(m["name"], {})
        if got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            problems.append(f"{m['name']}: {got}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            problems = run_once(spec, w, trace)
            print(f"{'ok  ' if not problems else 'FAIL'} {w} trace={trace}")
            for p in problems:
                print(f"     {p}")
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
