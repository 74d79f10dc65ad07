#!/usr/bin/env python3
"""Paired A/B runs of the benchmark on two checkouts.

    python3 perfbench/ab.py PARENT_DIR CHANGE_DIR [--pairs 10] [--seconds S]
                            [--workloads queries,pipeline] [--seed 1000]

Each directory is a checkout of one side (for example made with
`git archive <rev> | tar -x -C DIR`). This benchmark directory and
BENCHMARK.json are copied into both, so both sides run identical benchmark
code and settings. Each pair runs the two sides on the same seed, and the
side that runs first alternates from pair to pair.

For every workload and end-to-end metric the report gives each side's median
and quartiles, the change's wins (ties count for neither side), and a
verdict: `gain` when there are at least ten pairs, the change wins at least
nine tenths of them and the medians differ by more than the parent's own
quartile spread;
`regression` when the change's median is worse than the parent's by more
than the metric's bound; `unresolved` when the parent's spread is wider
than the bound; otherwise `same`.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    return q1, statistics.median(xs), q3


def run_side(root: Path, workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, stdout=subprocess.PIPE, text=True, timeout=1200)
    lines = proc.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if res is None or not res["correct"]:
        raise SystemExit(f"{root} {workload} seed {seed}: run failed "
                         f"(exit {proc.returncode})")
    return {k: m["value"] for k, m in res["metrics"].items()}


def main() -> int:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=Path)
    ap.add_argument("change", type=Path)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seed", type=int, default=1000)
    a = ap.parse_args()
    if a.pairs < 10:
        print("note: a gain needs at least ten pairs", file=sys.stderr)
    sides = {"parent": a.parent.resolve(), "change": a.change.resolve()}
    for root in sides.values():
        if root == HERE.parent:
            continue
        shutil.rmtree(root / "perfbench", ignore_errors=True)
        shutil.copytree(HERE, root / "perfbench",
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        shutil.copy(HERE.parent / "BENCHMARK.json", root / "BENCHMARK.json")
    workloads = a.workloads.split(",")
    samples = {(s, w): [] for s in sides for w in workloads}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for w in workloads:
            for side in order:
                samples[(side, w)].append(
                    run_side(sides[side], w, a.seed + i, a.seconds))
        print(f"pair {i + 1}/{a.pairs} done", file=sys.stderr)

    for w in workloads:
        print(f"\n{w} ({a.pairs} pairs)")
        print(f"  {'metric':14s} {'parent q1/med/q3':>26s} "
              f"{'change q1/med/q3':>26s} {'wins':>6s}  verdict")
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            p = [r[name] for r in samples[("parent", w)]]
            c = [r[name] for r in samples[("change", w)]]
            wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
            pq, cq = quartiles(p), quartiles(c)
            worse = (cq[1] - pq[1]) / pq[1] * (1 if lower else -1)
            spread = (pq[2] - pq[0]) / pq[1]
            if (len(p) >= 10 and wins >= 0.9 * len(p)
                    and abs(cq[1] - pq[1]) > pq[2] - pq[0]):
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = "regression"
            elif spread > m["bound"]:
                verdict = "unresolved"
            else:
                verdict = "same"
            fmt = "{:.4g}/{:.4g}/{:.4g}"
            print(f"  {name:14s} {fmt.format(*pq):>26s} {fmt.format(*cq):>26s} "
                  f"{wins:>3d}/{len(p):<2d}  {verdict} ({m['unit']}, "
                  f"change {worse:+.1%} worse than parent, "
                  f"parent spread {spread:.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
