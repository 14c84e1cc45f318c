"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,lake,analytics} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  One closed-loop client drives the
package's public API on ``local[N]``, N half the host's cores (at most
two).  Set-up (session start
plus input generation or seeding) is repeated three times on fresh
SparkContexts and reported as a median; inputs come from ``--seed`` and
the fixture tables under ``perfbench/data/`` only.

End-to-end metrics are CPU seconds of the whole process tree (Python
driver, JVM, Python workers) per operation: ``setup_s`` (one set-up),
``write_cpu_p50_s`` and ``read_cpu_p50_s`` (medians).  Wall-clock times
of the same operations are in the artifact; on a shared host they also
count time the hypervisor steals from the guest, which changes from run
to run by more than the benchmark's bounds.

Every workload has a *write* side and a *read* side:

    workload   write op                          read op
    ingest     create_dataset_version            status_view + get_dataset
    lake       a ManifestTable commit            a ManifestTable read
    analytics  cold pass: table handles, then    warm pass: the median
               plan build + first noop run of    of two steady noop
               all eight queries, in a fresh     runs of each query
               session

With ``--trace 0`` the last stdout line carries the end-to-end metrics,
with ``--trace 1`` the per-layer ones (Spark job groups, the status
tracker, the folded event log and fsio call counts).  The full record --
run context, raw per-sample values and the per-layer breakdown under
layer names -- is written to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "lake", "analytics")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="read the sf0.001 fixture instead (self-tests)")
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file the run writes under ``work`` and put the package
    on the Python workers' path, whatever the caller's environment."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the launcher JVM spark-submit starts would write hsperfdata_* to the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "geospatial_data_lake_spark", "__init__.py")):
        print("perfbench: package geospatial_data_lake_spark not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    # named by the arguments, not the pid: input paths feed Spark's hash
    # partitioning, and the job counts must repeat for one seed
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)

    from perfbench import common, report

    load_start, cpu_start = common.loadavg(), common.cpu_jiffies()
    t0 = time.perf_counter()
    try:
        result = report.run_workload(args, work)
    finally:
        common.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    record = report.assemble(args, result, time.perf_counter() - t0)
    record["context"] = common.run_context(
        ROOT, args, {"load_start": load_start, "load_end": common.loadavg(),
                     "cpu_jiffies": common.jiffies_since(cpu_start),
                     **result.get("context", {})}
    )
    out_dir = os.path.join(base, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, sort_keys=True, default=str)
    for line in record["failures"][:20]:
        print(f"perfbench: incorrect: {line}", file=sys.stderr)
    print(json.dumps(record["line"], sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
