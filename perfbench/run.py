#!/usr/bin/env python3
"""The repo benchmark: one command builds the harness, generates seeded
inputs, runs one workload in a fresh JVM and checks its outputs.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. Workloads:

  queries   a fixed sample of the query suite (four queries from four query
            packs) over seeded sf0.01 tables; the unit of work is one pass
            over the sample, each query built and then computed by a noop
            write.
  batch     the two batch runs a user makes, one after the other: first
            Pipeline.run (ingest, transform, quality gate, combine, predict)
            over seeded hourly bars, each unit a new simulated day in the
            same work directory; then CurationPipeline.run over seeded
            documents plus injected exact and near-duplicate copies, a noop
            write of the kept corpus and a collect of the report.

A run builds the session, runs one cold unit and then warm units for at
least --seconds and at least as many as WARM gives for the workload;
warm_s is the median of the measured ones, which sit at the same positions
in every run. Then it checks the outputs: every sampled query against
DuckDB running its oracle SQL over the same tables, the pipeline's zones
and predictions, the curation report and the removal of the injected
copies.

With --trace 0 the run is untraced and the last line of stdout reports the
end-to-end metrics of BENCHMARK.json; with --trace 1 listeners split the
time across layers and the last line reports the per-layer metrics, after
the trace report. Every run uses its own directory under .perfbench/ and
removes it at the end.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
STATE = ROOT / ".perfbench"

# Workload sizes. The benchmark is run about 50 times in under an hour, so
# a whole run (set-up, cold unit, warm units, checks) has to
# stay well under a minute on four cores; set-up and the JIT-bound cold unit
# take most of that.
QUERIES_SF = 0.01
QUERIES = 4
PIPELINE_SYMBOLS = 1
PIPELINE_BARS = 1000
CURATION_DOCS = 300
CURATION_EXACT = 15
CURATION_NEAR = 15
# (warm-up units, measured units) after the cold unit. A pass over the query
# sample still speeds up for several passes while the JIT settles.
WARM = {"queries": (3, 3), "batch": (0, 1)}
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint() -> str:
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def sbt_env() -> dict:
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build() -> str:
    """Compile the repo and the harness once per source state; returns the
    harness classpath."""
    cache = STATE / "build" / f"{source_fingerprint()}.classpath"
    if cache.is_file():
        return cache.read_text().strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("harness build failed")
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(lines[-1])
    print(f"built harness in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1]


def java(classpath: str, run_dir: Path, args: list, timeout: float):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # no hsperfdata file outside the run directory
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += ["-cp", classpath, "perfbench.Harness"] + [str(a) for a in args]
    # Spark's scratch space goes to spark.local.dir, inside the run directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                          text=True, timeout=timeout)
    if proc.returncode != 0:
        fail(f"harness exited with {proc.returncode}: {' '.join(map(str, args[:2]))}")
    return proc.stdout


def generate(workload: str, seed: int, data: Path) -> tuple:
    """Writes the workload's inputs; returns (harness argument, facts)."""
    import datagen
    if workload == "queries":
        datagen.analytics_tables(data, seed, QUERIES_SF)
        return str(QUERIES), {"sf": QUERIES_SF, "queries": QUERIES}
    rows = datagen.bars(data, seed, PIPELINE_SYMBOLS, PIPELINE_BARS)
    injected = datagen.corpus(data, seed, CURATION_DOCS, CURATION_EXACT,
                              CURATION_NEAR)
    arg = f"{PIPELINE_SYMBOLS}|" + ";".join(
        f"{k}={','.join(map(str, v))}" for k, v in injected.items())
    return arg, {"symbols": PIPELINE_SYMBOLS, "bars": rows,
                 "docs": CURATION_DOCS, "exact": CURATION_EXACT,
                 "near": CURATION_NEAR}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["queries", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"{ROOT} holds no sources to build (build.sbt, src/main)")
    sys.path.insert(0, str(HERE))
    classpath = build()
    started = time.time()

    run_dir = STATE / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data = run_dir / "data"
        arg, facts = generate(a.workload, a.seed, data)
        out_json = run_dir / "harness.json"
        budget = RUN_TIMEOUT_S - (time.time() - started)
        java(classpath, run_dir, ["run", a.workload, data, run_dir, a.seconds,
                                  a.trace, a.seed, out_json, *WARM[a.workload],
                                  arg], budget)
        res = json.loads(out_json.read_text())
        attempted, failed = res["attempted"], res["failed"]
        errors = list(res["errors"])
        if a.workload == "queries":
            import oracle
            verdicts = oracle.compare(data, run_dir / "results",
                                      run_dir / "oracle_sql.json")
            attempted += len(verdicts)
            bad = {q: why for q, why in verdicts.items() if why}
            failed += len(bad)
            errors += [f"oracle {q}: {why}" for q, why in sorted(bad.items())]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    units = res["units"]
    print(f"workload={a.workload} seed={a.seed} cores={res['cores']} "
          f"jvm={res['jvm']!r} inputs={json.dumps(facts)} "
          f"load1={res['load_start']:.2f}->{res['load_end']:.2f} "
          f"units={' '.join('%.3f' % u['seconds'] for u in units)}s "
          f"warm_ops={res['warm_ops']} "
          f"warm_op_p50={res['warm_op_p50_s']:.4f}s "
          f"warm_op_p90={res['warm_op_p90_s']:.4f}s")
    if a.workload == "queries":
        print("queries in run order: " + " ".join(
            f"{q}={t:.3f}s" for q, t in units[0]["ops"]) + " (cold)")
    for e in errors[:20]:
        print(f"ERROR {e}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.trace:
        values, listed = res["per_layer"], spec["per_layer"]
        report = res["trace_report"]
        print(f"trace coverage {report['coverage']:.1%} of wall"
              f"{'' if report['coverage'] >= 0.9 else ' (below 90%)'}, "
              f"overhead {report['overhead_s']:+.4f} s per warm unit")
        for gap in report["largest_gaps"]:
            print(f"  uncovered {gap['seconds']:.3f} s after {gap['after']}")
        for name, v in sorted(report["workload"].items()):
            print(f"  {name:28s} {v:.6g}")
        for m, v in sorted(report["modules"].items()):
            print(f"  exec.{m}.run_s{'':{19 - len(m)}s} {v['run_s']:.6g} "
                  f"({v['jobs']:.4g} jobs)")
        print("TRACE " + json.dumps(report, sort_keys=True))
    else:
        values = dict(res["end_to_end"], setup_s=res["setup_s"])
        listed = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in listed}
    for k, m in metrics.items():
        print(f"  {k:28s} {m['value']:.6g} {m['unit']}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
