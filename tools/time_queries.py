#!/usr/bin/env python
"""Time registered queries layer by layer with the noop sink.

Usage::

    python tools/time_queries.py [query ...] [--sf-dir DIR] [--save DIR]
                                 [--explain DIR]

With no names, times every bench headliner.  Per query: ``build_s`` (the
``fn(spark, sf_dir)`` call: plan construction, training collects,
checkpoints), ``first_s`` (the first noop run: codegen and the first data
pass), then three steady noop runs.  Prints one JSON line
``{name: {build_s, first_s, runs, steady_s}}``; ``steady_s`` is the
median of ``runs``.  Jobs are labelled so the timing is attributable in
the event log.

``--save DIR`` writes each query's rows once, untimed, to
``DIR/<name>`` (parquet) for an equivalence check; ``--explain DIR``
executes the plan once more, untimed, and writes its final formatted
plan (adaptive stages resolved) to ``DIR/<name>.txt``.

The package is imported from ``PYTHONPATH`` first and from this
checkout last, so ``tools/ab.py`` can time another revision's package
with this timer.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
if str(_REPO) not in sys.path:
    sys.path.append(str(_REPO))


def _timed(spark, label: str, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    out = fn()
    return out, round(time.perf_counter() - t0, 3)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_query(spark, fn, name: str, sf_dir: str, runs: int) -> tuple:
    """(df, record): the built frame and its build/first/steady times."""
    df, build_s = _timed(spark, f"{name}: build", lambda: fn(spark, sf_dir))
    _, first_s = _timed(spark, f"{name}: first", lambda: _noop(df))
    steady = [_timed(spark, f"{name}: run {i}", lambda: _noop(df))[1] for i in range(runs)]
    spark.sparkContext.setJobDescription(None)
    return df, {
        "build_s": build_s,
        "first_s": first_s,
        "runs": steady,
        "steady_s": round(statistics.median(steady), 3),
    }


def final_plan(df) -> str:
    """Execute ``df``'s own plan once and render it formatted, so the
    adaptive plan shows its final stages (reused exchanges included)."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--save")
    ap.add_argument("--explain")
    args = ap.parse_args(argv)

    from geospatial_data_lake_spark import load_all_queries
    from geospatial_data_lake_spark.session import get_spark

    spark = get_spark(app_name="gdl-time")
    registry = load_all_queries()
    names = args.queries
    if not names:
        import bench

        names = list(bench.HEADLINE)
    out = {}
    for name in names:
        df, out[name] = time_query(
            spark, registry[name].fn, name, args.sf_dir, runs=3
        )
        print(f"# {name}: {out[name]}", file=sys.stderr)
        if args.save:
            df.write.mode("overwrite").parquet(os.path.join(args.save, name))
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            Path(args.explain, f"{name}.txt").write_text(final_plan(df))
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
