"""Benchmark self-tests.

    python3 perfbench/selftest.py [--only names|smoke|repeat]

- ``names``: metric names and units in ``BENCHMARK.json`` follow the
  ``[A-Za-z0-9_.-]`` grammar and match what ``run.py`` reports.
- ``smoke``: every workload, traced and untraced, at small inputs and the
  minimum number of operations, ends correct with every metric present.
- ``repeat``: two traced runs with one seed report identical counts:
  Spark jobs and tasks, files planned, bytes written, files copied and
  fsio calls.  One exception: ingest's Spark job and task counts may
  differ by up to 5%.  Adaptive execution submits the shuffle and
  broadcast stages of the STAC traversal's and the status view's joins
  from a thread pool and re-plans by which stage finishes first, so
  identical runs have differed by one job in ~130 per version and one in
  ~43 over eight lookups; analytics and lake have repeated exactly.

Run from the repository root; each benchmark run is its own process.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import report  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
COUNT = re.compile(r"(jobs|tasks|files|calls|docs|bytes_written|planned_frac|mb_hashed|mb_copied)")
SPARK_COUNT = re.compile(r"(jobs|tasks)")
SPARK_COUNT_TOLERANCE = {"ingest": 0.05}


def check_names() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    errs = []
    for section, reported in (("end_to_end", report.END_TO_END_UNITS),
                              ("per_layer", report.PER_LAYER_UNITS)):
        declared = {m["name"]: m["unit"] for m in spec[section]}
        if declared != reported:
            errs.append(f"{section}: BENCHMARK.json {declared} != reported {reported}")
        for name, unit in declared.items():
            if not NAME.match(name) or not UNIT.match(unit):
                errs.append(f"{section}: bad name or unit {name!r} {unit!r}")
    for w in spec["workloads"]:
        if w["name"] not in WORKLOADS:
            errs.append(f"workload {w['name']} is not run by run.py")
    return errs


def bench(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--trace", str(trace), "--small"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}: {proc.stderr[-2000:]}")
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    path = os.path.join(ROOT, ".perfbench", "results", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path, encoding="utf-8") as fh:
        return {"line": line, "record": json.load(fh)}


def check_smoke(workload: str, out: dict, trace: int) -> list[str]:
    line = out["line"]
    units = report.PER_LAYER_UNITS if trace else report.END_TO_END_UNITS
    errs = []
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{workload}: result keys {sorted(line)}")
    if not line["correct"] or line["failed"] or line["attempted"] < 1:
        errs.append(f"{workload}: {line['correct']=} {line['failed']=} "
                    f"{out['record']['failures'][:3]}")
    if set(line["metrics"]) != set(units):
        errs.append(f"{workload}: metrics {sorted(line['metrics'])}")
    return errs


def counts(out: dict) -> dict:
    found = {k: v["value"] for k, v in out["line"]["metrics"].items() if v["unit"] == "count"}
    found.update({k: v for k, v in out["record"]["layers"].items()
                  if COUNT.search(k)})
    return found


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--only", choices=("names", "smoke", "repeat"))
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args(argv)
    errs = []
    if args.only in (None, "names"):
        errs += check_names()
    traced = {}
    if args.only in (None, "smoke", "repeat"):
        for workload in WORKLOADS:
            traced[workload] = bench(workload, args.seed, 1)
            errs += check_smoke(workload, traced[workload], 1)
            if args.only != "repeat":
                errs += check_smoke(workload, bench(workload, args.seed, 0), 0)
    if args.only in (None, "repeat"):
        for workload in WORKLOADS:
            first, second = counts(traced[workload]), counts(bench(workload, args.seed, 1))
            for key in sorted(set(first) | set(second)):
                a, b = first.get(key), second.get(key)
                tol = SPARK_COUNT_TOLERANCE.get(workload, 0) if SPARK_COUNT.search(key) else 0
                if a is None or b is None or abs(a - b) > tol * max(abs(a), abs(b)):
                    errs.append(f"{workload}: count {key} {a} != {b}")
    for e in errs:
        print(f"FAIL {e}")
    print("selftest:", "ok" if not errs else f"{len(errs)} failures")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
