"""Steadiness check of the benchmark's end-to-end metrics.

    python3 perfbench/steady.py --workload fleet_overhead --runs 10 [--first-seed 1]

Runs the benchmark ``--runs`` times per workload, each with its own
seed, and reports per end-to-end metric the median, the quartile
spread as a share of the median (``statistics.quantiles(n=4)``), and
that spread against the metric's bound. It also compares the median of
the first half of the runs with that of the second half, so drift
between runs (state carried from one run to the next, a warming host)
shows as drift rather than as noise, and lists each run's host CPU
steal next to its wall time. ``--raw FILE`` keeps every run's result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(spec: dict, workload: str, seed: int, seconds: int) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    summary = [ln for ln in proc.stderr.splitlines() if ln.startswith("perfbench: summary ")]
    out["steal_s"] = json.loads(summary[-1].split(" ", 2)[2])["steal_s"] if summary else None
    out["log"] = [ln for ln in proc.stderr.splitlines() if ln.startswith("perfbench: ")]
    return out


def spread(values: list[float]) -> tuple[float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def report(spec: dict, workload: str, runs: list[dict]) -> bool:
    ok = True
    print(f"\n== {workload}: {len(runs)} runs")
    names = [m["name"] for m in spec["end_to_end"]]
    print("seed  " + "  ".join(f"{n:>10}" for n in names) + "   steal_s  failed")
    for r in runs:
        vals = "  ".join(f"{r['metrics'][n]['value']:10.3f}" for n in names)
        print(f"{r['seed']:<5} {vals}   {r['steal_s'] or 0:7.2f}  {r['failed']}")
    half = len(runs) // 2
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med, sp = spread(vals)
        first, second = statistics.median(vals[:half]), statistics.median(vals[half:])
        drift = second / first - 1.0
        flag = "" if sp <= m["bound"] else "  SPREAD OVER BOUND"
        flag += "" if abs(drift) <= m["bound"] else "  DRIFT OVER BOUND"
        ok &= not flag
        print(
            f"{m['name']:>10}: median {med:.3f} {m['unit']}  spread {sp:.3f} "
            f"({sp / m['bound']:.2f} of bound {m['bound']})  "
            f"halves {first:.3f} -> {second:.3f} ({drift:+.3f}){flag}"
        )
    if any(r["failed"] or not r["correct"] for r in runs):
        ok = False
        print("   some runs failed operations or checks")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", help="repeatable; default: all")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--raw", help="write every run's result to this JSON file")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    raw, ok = {}, True
    for w in workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            r = one_run(spec, w, seed, spec["run_seconds"])
            r["seed"] = seed
            runs.append(r)
            print(f"{w} seed {seed}: {json.dumps(r['metrics'])} steal_s={r['steal_s']}", flush=True)
        raw[w] = runs
        ok &= report(spec, w, runs)
    if args.raw:
        with open(args.raw, "w") as fh:
            json.dump(raw, fh)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
