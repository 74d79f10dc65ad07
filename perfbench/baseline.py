#!/usr/bin/env python3
"""Baseline of this checkout: runs every workload on several seeds and
prints, per end-to-end metric, the median, the quartiles and the spread
(distance between the quartiles as a share of the median) beside the
metric's bound.

    python3 perfbench/baseline.py [--runs 10] [--seed 1] [--workloads queries]

Run it from the root of the repository. Each run is a fresh process, as in
perfbench/run.py; a run that fails stops the baseline.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    a = ap.parse_args()
    for w in a.workloads.split(","):
        values = {m["name"]: [] for m in spec["end_to_end"]}
        walls = []
        for seed in range(a.seed, a.seed + a.runs):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
            walls.append(time.time() - t0)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            if proc.returncode != 0 or res is None or not res["correct"]:
                print(f"{w} seed {seed}: run failed (exit {proc.returncode})")
                return 1
            for k in values:
                values[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {seed}: wall {walls[-1]:.1f} s  " + "  ".join(
                f"{k} {v[-1]:.4g}" for k, v in values.items()), flush=True)
        print(f"\n{w}: {a.runs} runs, seeds {a.seed}..{a.seed + a.runs - 1}, "
              f"run wall median {statistics.median(walls):.1f} s")
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            q1, _, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            print(f"  {m['name']:12s} median {med:.4g} {m['unit']}  "
                  f"q1 {q1:.4g}  q3 {q3:.4g}  spread {(q3 - q1) / med:.3f}"
                  f"  (bound {m['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
