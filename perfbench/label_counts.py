#!/usr/bin/env python3
"""Label every per-layer count as exact or varying.

    python3 perfbench/label_counts.py --seed 7 --runs 3 --seconds 15

Runs each workload's traced pass `--runs` times with one seed, then writes
perfbench/counts.json. A count (unit `count` or `B`) is exact on a workload
when every run gave the same value. Only an exact count can carry a claim.
Run from the repository root.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--seconds", type=int, default=15)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    counts = [m["name"] for m in spec["per_layer"] if m["unit"] in ("count", "B")]
    out = {"method": f"{args.runs} traced runs per workload with seed {args.seed}; "
                     "exact = the same value on every run"}
    for w in spec["workloads"]:
        seen = {}
        for i in range(args.runs):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                 "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "1"],
                capture_output=True, text=True)
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-3000:])
                sys.exit(f"run {i} of {w['name']} failed")
            metrics = json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]
            for name in counts:
                seen.setdefault(name, []).append(metrics[name]["value"])
        out[w["name"]] = {name: {"label": "exact" if len(set(vals)) == 1 else "varying",
                                 "values": vals}
                          for name, vals in seen.items()}
    with open(os.path.join(HERE, "counts.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
