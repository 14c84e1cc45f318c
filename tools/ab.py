#!/usr/bin/env python
"""Interleaved A/B of two git revisions.

Usage::

    python tools/ab.py REV_A REV_B QUERY... [--pairs N] [--sf-dir D]
                                            [--explain DIR]
    python tools/ab.py REV_A REV_B --workload W [--pairs N]

Each revision is exported with ``git archive REV | tar -x`` into a
temporary directory; ``.`` is this checkout as it is, uncommitted edits
included.  Both exports are removed at exit.  Both sides run with the
same ``SPARK_GRAFT_CPUS`` (the usable cores) and ``SPARK_DRIVER_MEMORY``
(``session.default_driver_memory()`` of this checkout).  Pair *i* runs
A first when *i* is even and B first when *i* is odd.

Query mode: each side runs THIS checkout's ``tools/time_queries.py``
against its own export's package, one session per side and pair.  The
first pair also saves every query's rows, and with ``--explain`` writes
the final plans to ``DIR/A`` and ``DIR/B``.  The rows of the two sides
must be equal under ``exceptAll`` both ways (map columns compared as
sorted ``map_entries``).  Reported per query and layer (``build_s``,
``first_s``, ``steady_s``): both medians, A's IQR, and B-wins, the pairs
where B was faster (ties count for neither side).

Benchmark mode: each side runs its export's ``perfbench/run.py
--workload W --seed S --trace 0``, seeds 1..N, and the last stdout line
is parsed.  Reported per end-to-end metric of this checkout's
``BENCHMARK.json``: both medians, A's IQR and B-wins; plus ``correct``
and ``failed`` of every run.

The last stdout line is the whole report as JSON.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
QUERY_LAYERS = ("build_s", "first_s", "steady_s")  # seconds: lower is better


def pair_order(i: int) -> tuple[str, str]:
    """The sides of pair ``i`` in running order."""
    return ("A", "B") if i % 2 == 0 else ("B", "A")


def iqr(values: list[float]) -> float:
    """Interquartile range (linear interpolation between order
    statistics); 0 below two values."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def b_wins(a: list[float], b: list[float], better: str = "lower") -> int:
    """Pairs in which B beat A; a tie counts for neither side."""
    return sum(y < x if better == "lower" else y > x for x, y in zip(a, b))


def summarize(a: list[float], b: list[float], better: str = "lower") -> dict:
    return {
        "a_median": round(statistics.median(a), 4),
        "a_iqr": round(iqr(a), 4),
        "b_median": round(statistics.median(b), 4),
        "b_wins": b_wins(a, b, better),
        "pairs": len(a),
    }


def export(rev: str, dest: Path) -> None:
    """Write ``rev``'s tree to ``dest``; ``.`` copies the working tree
    (tracked and untracked files, ignored ones left out)."""
    dest.mkdir(parents=True)
    if rev == ".":
        listed = subprocess.run(
            ["git", "ls-files", "-z", "-c", "-o", "--exclude-standard"],
            cwd=REPO, check=True, capture_output=True,
        ).stdout
        for rel in filter(None, os.fsdecode(listed).split("\0")):
            src = REPO / rel
            if src.is_file():  # a tracked file deleted in the working tree is skipped
                (dest / rel).parent.mkdir(parents=True, exist_ok=True)
                shutil.copy2(src, dest / rel)
        return
    archive = subprocess.Popen(["git", "archive", rev], cwd=REPO, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait():
        raise SystemExit(f"ab: git archive {rev} failed")


def run_side(cmd: list[str], root: Path) -> dict | None:
    """Run ``cmd`` in ``root``; its last stdout line as JSON, or None
    when it failed."""
    proc = subprocess.run(cmd, cwd=root, env=dict(os.environ, PYTHONPATH=str(root)),
                          capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        print(f"ab: {' '.join(cmd)} exited {proc.returncode}\n"
              f"{proc.stderr[-3000:]}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def comparable(df):
    """``df`` with map columns as sorted entry arrays, so exceptAll
    (which cannot compare maps) sees the same content as equal."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    return df.select(*[
        F.array_sort(F.map_entries(f.name)).alias(f.name)
        if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ])


def same_rows(saved: dict[str, Path], names: list[str]) -> dict[str, str]:
    from geospatial_data_lake_spark.session import get_spark

    spark = get_spark(app_name="gdl-ab-compare")
    out = {}
    for name in names:
        a, b = (comparable(spark.read.parquet(str(saved[s] / name))) for s in "AB")
        if a.schema.names != b.schema.names:
            out[name] = f"columns differ: {a.schema.names} vs {b.schema.names}"
            continue
        only_a, only_b = a.exceptAll(b).count(), b.exceptAll(a).count()
        out[name] = "equal" if only_a == only_b == 0 else (
            f"differ: {only_a} rows only in A, {only_b} only in B")
    spark.stop()
    return out


def query_mode(args, roots: dict[str, Path], work: Path) -> dict:
    saved = {s: work / f"rows-{s}" for s in "AB"}
    timings: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(args.pairs):
        for side in pair_order(i):
            cmd = [sys.executable, str(REPO / "tools" / "time_queries.py"), *args.queries]
            if args.sf_dir:
                cmd += ["--sf-dir", args.sf_dir]
            if i == 0:
                cmd += ["--save", str(saved[side])]
                if args.explain:
                    cmd += ["--explain", str(Path(args.explain).resolve() / side)]
            result = run_side(cmd, roots[side])
            if result is None:
                raise SystemExit(f"ab: side {side} failed in pair {i}")
            timings[side].append(result)
            print(f"# pair {i} {side}: " + json.dumps(
                {q: [r["build_s"], r["first_s"], r["steady_s"]] for q, r in result.items()}),
                file=sys.stderr, flush=True)
    report = {"rows": same_rows(saved, args.queries), "layers": {}}
    for q in args.queries:
        report["layers"][q] = {
            layer: summarize([r[q][layer] for r in timings["A"]],
                             [r[q][layer] for r in timings["B"]])
            for layer in QUERY_LAYERS
        }
    return report


def bench_mode(args, roots: dict[str, Path]) -> dict:
    with open(REPO / "BENCHMARK.json") as fh:
        metrics = [(m["name"], m["better"]) for m in json.load(fh)["end_to_end"]]
    runs: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(args.pairs):
        seed = i + 1
        for side in pair_order(i):
            line = run_side([sys.executable, "perfbench/run.py", "--workload",
                             args.workload, "--seed", str(seed), "--trace", "0"],
                            roots[side])
            if line is None:
                line = {"correct": False, "failed": None, "metrics": {}}
            run = {"seed": seed, "correct": line["correct"], "failed": line["failed"],
                   **{m: line["metrics"].get(m, {}).get("value", math.nan)
                      for m, _ in metrics}}
            runs[side].append(run)
            print(f"# pair {i} {side}: {json.dumps(run)}", file=sys.stderr, flush=True)
    return {
        "runs": runs,
        "metrics": {
            m: summarize([r[m] for r in runs["A"]], [r[m] for r in runs["B"]], better)
            for m, better in metrics
        },
    }


def print_table(title: str, rows: dict[str, dict]) -> None:
    print(f"{title:<44} {'A median':>10} {'A IQR':>8} {'B median':>10} {'B wins':>7}")
    for name, s in rows.items():
        print(f"{name:<44} {s['a_median']:>10.3f} {s['a_iqr']:>8.3f} "
              f"{s['b_median']:>10.3f} {s['b_wins']:>4}/{s['pairs']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--sf-dir", help="default: time_queries.py's")
    ap.add_argument("--explain")
    ap.add_argument("--workload")
    args = ap.parse_args(argv)
    if bool(args.queries) == bool(args.workload):
        ap.error("give either query names or --workload")
    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))
    from geospatial_data_lake_spark.session import default_driver_memory

    # both sides and the row compare run under the same explicit settings
    os.environ.update(SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
                      SPARK_DRIVER_MEMORY=default_driver_memory())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = Path(tempfile.mkdtemp(prefix="gdl-ab-"))
    try:
        roots = {"A": work / "A", "B": work / "B"}
        export(args.rev_a, roots["A"])
        export(args.rev_b, roots["B"])
        if args.workload:
            report = bench_mode(args, roots)
            print_table(f"{args.workload} (A={args.rev_a}, B={args.rev_b})", report["metrics"])
            for side in "AB":
                print(f"{side} correct/failed: "
                      + " ".join(f"{r['correct']}/{r['failed']}" for r in report["runs"][side]))
        else:
            report = query_mode(args, roots, work)
            for q, layers in report["layers"].items():
                print_table(f"{q} (rows: {report['rows'][q]})", layers)
        report.update(rev_a=args.rev_a, rev_b=args.rev_b, pairs=args.pairs)
        print(json.dumps(report, sort_keys=True))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
