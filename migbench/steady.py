"""Steadiness mode: run every workload of ``BENCHMARK.json`` several times,
each run with its own seed, and print every end-to-end metric's median,
quartiles and range.

    python3 migbench/steady.py --runs 10

Run from the repository root. Runs are sequential, each a fresh process of
``run.py`` with ``--seconds`` set to ``run_seconds`` and seeds 1, 2, ...
For each metric the spread is the distance between the first and third
quartile as a share of the median (quartiles as
``statistics.quantiles(values, n=4)`` gives them); next to it stands the
metric's bound from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import summary  # noqa: E402


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                           + proc.stderr[-2000:])
    return json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    for workload in (w["name"] for w in spec["workloads"]):
        runs = []
        for seed in range(1, args.runs + 1):
            out = one_run(workload, seed, seconds)
            runs.append(out)
            print(f"{workload} seed {seed}: correct={out['correct']} "
                  f"attempted={out['attempted']} failed={out['failed']}",
                  file=sys.stderr, flush=True)
        print(f"\n{workload}: {args.runs} runs, seeds 1..{args.runs}, "
              f"{seconds} s each")
        print(f"{'metric':20} {'median':>12} {'q1':>12} {'q3':>12} "
              f"{'min':>12} {'max':>12} {'spread':>7} {'bound':>6}")
        for name in sorted(runs[0]["metrics"]):
            s = summary([r["metrics"][name]["value"] for r in runs])
            print(f"{name:20} {s['median']:12.5g} {s['q1']:12.5g} "
                  f"{s['q3']:12.5g} {s['min']:12.5g} {s['max']:12.5g} "
                  f"{s['iqr_share']:7.3f} {bounds[name]:6.2f}")
        print(f"all correct: {all(r['correct'] for r in runs)}; attempted "
              f"{sum(r['attempted'] for r in runs)}, failed "
              f"{sum(r['failed'] for r in runs)}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
