#!/usr/bin/env python3
"""Run the benchmark over several seeds and print each metric's spread.

    python3 pipebench/spread.py --workload pg_hot_upsert --seeds 1-10 [--trace 0]

For every metric it prints the median of the runs and the interquartile
distance (statistics.quantiles, n=4) as a share of that median, next to the
bound BENCHMARK.json fixes. Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values = {}
    walls = []
    for s in args.seeds:
        t0 = time.time()
        r = subprocess.run([sys.executable, "pipebench/run.py", "--workload", args.workload,
                            "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(args.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        walls.append(time.time() - t0)
        out = json.loads(r.stdout.strip().splitlines()[-1]) if r.stdout.strip() else None
        if r.returncode != 0 or not out:
            print(f"seed {s}: failed (exit {r.returncode})")
            continue
        for k, m in out["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {s} ({walls[-1]:.0f} s): " + " ".join(f"{k}={m['value']:.4g}" for k, m in out["metrics"].items()),
              flush=True)
    print(f"{args.workload} run wall: median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    for k, v in values.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print(f"{args.workload} {k}: n={len(v)} median={med:.5g} spread={spread:.4f} "
              f"bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
