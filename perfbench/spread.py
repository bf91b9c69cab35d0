#!/usr/bin/env python3
"""Steadiness check: run the benchmark on several seeds per workload and
report, for each end-to-end metric, the median and the spread (distance
between first and third quartile, as a share of the median) against the
metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py [--runs 10] [--first-seed 100] [workload ...]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=100)
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w in args.workloads:
        values = {}
        for i in range(args.runs):
            cmd = [*spec["command"], "--workload", w, "--seed", str(args.first_seed + i),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True)
            line = json.loads(out.stdout.strip().splitlines()[-1])
            ok &= line["correct"]
            for k, m in line["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {args.first_seed + i}: correct={line['correct']} " +
                  " ".join(f"{k}={m['value']:.4g}" for k, m in line["metrics"].items()),
                  flush=True)
        for k, xs in values.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else 0.0
            flag = "" if k == "setup_s" or spread < bounds[k] / 3 else "  <-- over a third of bound"
            print(f"{w:14s} {k:18s} median {med:.4g} spread {spread:.3f} "
                  f"(bound {bounds[k]}){flag}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
