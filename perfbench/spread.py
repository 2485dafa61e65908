#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance rule reads it.

Usage (from the repository root):

    python3 perfbench/spread.py --workload stream --seeds 1-10 [--seconds 12]

Runs perfbench/run.py once per seed (untraced), then prints, per end-to-end
metric, the median, the quartiles (statistics.quantiles(values, n=4)), the
spread (Q3 - Q1) / median, and the metric's bound from BENCHMARK.json. The
runs are sequential, so the machine should otherwise be idle.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    args = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(args.seeds):
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True)
        last = json.loads(r.stdout.strip().splitlines()[-1])
        if r.returncode != 0 or not last["correct"]:
            print(f"seed {seed}: run failed (exit {r.returncode})", file=sys.stderr)
            sys.exit(1)
        for name, m in last["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + ", ".join(
            f"{n}={m['value']:.4g}" for n, m in last["metrics"].items()), flush=True)
    print(f"{'metric':<14} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        print(f"{name:<14} {med:>12.4g} {q1:>12.4g} {q3:>12.4g} {spread:>8.3f} "
              f"{bounds.get(name, float('nan')):>6}")


if __name__ == "__main__":
    main()
