"""``analytics`` workload: registry queries, cold and warm.

Eight registry queries over the sf0.01 fixture tables, in a new
SparkSession (``newSession()``), so the per-session memos the operators
keep are empty: every ``spec.fn`` call is a real plan build.  Per query:
build (``spec.fn``), first noop write, then ``STEADY_RUNS`` steady noop
writes.  The seed rotates the query order.  Before the pass the run
asserts that the fresh session has no memo entries and that no fixture
or index build is on disk; results are compared with the query's DuckDB
oracle (``tests/oracle.py``) outside the timed region.

A write sample is one cold pass (the sum of build + first run over the
eight queries), a read sample one warm pass (the sum over the queries of
each one's median steady run).  Set-up ends with a throwaway session
running a cheap registry query from outside the measured set, so query
start-up is set-up time.  "Cold" means a fresh session, not a fresh JVM.
The cold pass starts from a collected heap and opens with the session's
table handles (``tables.tables`` over every fixture table), timed as part
of the pass, so neither is charged to whichever query the seed puts
first; the queries' own builds share those handles, as they would in any
session.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import tempfile
import time
import weakref

from perfbench import common

QUERIES = (
    "tpch_q9_product_profit",
    "j02_fk_chain_join",
    "a10_percentiles",
    "w04_lag_running_sum",
    "geo04_point_in_polygon",
    "dd04_minhash_lsh_pairs",
    "dd14_decontamination",
    "vs25_posdelete_change_feed",
)
# The two index-training queries are left out.  rk02_rrf_fusion_serve's
# plan build alone (~52 Spark jobs, 12-20 s on a 4-core host) would push a
# run past the per-run time the benchmark can afford; ss12_autok_ivf_search
# costs ~10 s a run and its k-means build (5-8 s of chained small jobs)
# varied more from run to run than all other queries together.
SCALE = "sf0.01"
STEADY_RUNS = 2
WARM_UP = ("a01_count_per_group",)


def query_order(seed: int) -> list[str]:
    k = seed % len(QUERIES)
    return list(QUERIES[k:] + QUERIES[:k])


def session_memos() -> list[weakref.WeakKeyDictionary]:
    """Every module-level WeakKeyDictionary in the package: the
    per-session memos a second ``spec.fn`` in one session would hit."""
    import geospatial_data_lake_spark as pkg

    memos = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        module = importlib.import_module(info.name)
        memos += [v for v in vars(module).values() if isinstance(v, weakref.WeakKeyDictionary)]
    return memos


def run(work: str, args, fsio) -> dict:
    from geospatial_data_lake_spark import load_all_queries, tables

    trace = bool(args.trace)
    registry = load_all_queries()
    order = query_order(args.seed)
    sf_dir = common.fixture_dir(SCALE, args.small)

    def prepare(spark, rep):
        _warm_up(spark, registry, sf_dir)

    spark, _, setup, start, setup_cpu = common.repeated_setup(work, trace, prepare)
    failures = _unisolated(work)
    # start the timed pass from a collected heap, so set-up's garbage is
    # not collected inside whichever query the seed puts first
    spark.sparkContext._jvm.System.gc()
    memos = session_memos()
    spans = common.Spans(spark, trace, fsio)
    results = {}
    deadline = time.perf_counter() + args.seconds
    passes = 0
    while passes == 0 or time.perf_counter() < deadline:
        session = spark.newSession()
        if any(session in memo for memo in memos):
            failures.append("a fresh session already has memoized builds")
        with spans.span("analytics.build.tables", side="write"):
            handles = tables.tables(session, sf_dir)
            for table in tables.TABLE_NAMES:
                getattr(handles, table)
        for name in order:
            with spans.span(f"analytics.build.{name}", side="write", query=name):
                df = registry[name].fn(session, sf_dir)
            with spans.span(f"analytics.first.{name}", side="write", query=name):
                df.write.format("noop").mode("overwrite").save()
            for _ in range(STEADY_RUNS):
                with spans.span(f"analytics.run.{name}", side="read", query=name):
                    df.write.format("noop").mode("overwrite").save()
            results[name] = df
        passes += 1
    t0 = time.perf_counter()
    failures += _check(results, registry, sf_dir)
    check_s = time.perf_counter() - t0
    n = len(order)
    per_pass = 1 + 2 * n  # table handles, then build + first per query
    k = STEADY_RUNS

    def passes_of(key):
        cold = [r[key] for r in spans.of_side("write")]
        warm = [r[key] for r in spans.of_side("read")]
        return (
            [sum(cold[i : i + per_pass]) for i in range(0, len(cold), per_pass)],
            [
                sum(common.p50(warm[j : j + k]) for j in range(i, i + n * k, k))
                for i in range(0, len(warm), n * k)
            ],
        )

    cold_passes, warm_passes = passes_of("s")
    cold_cpu, warm_cpu = passes_of("cpu_s")
    return {
        "spark": spark,
        "spans": spans,
        "setup": setup,
        "start": start,
        "setup_cpu": setup_cpu,
        "failures": failures,
        "attempted": len(spans.records) + len(order),
        "write": cold_passes,
        "read": warm_passes,
        "write_cpu": cold_cpu,
        "read_cpu": warm_cpu,
        "write_layers": ("analytics.build", "analytics.first"),
        "read_layers": ("analytics.run",),
        "extra": {
            "order": order,
            "passes": passes,
            "check_s": check_s,
            "analytics.cold_s": common.p50(cold_passes),
            "analytics.warm_s": common.p50(warm_passes),
        },
        "context": {"query_order": order},
    }


def _unisolated(work: str) -> list[str]:
    """Fixture and index builds go under the temp dir, which must be this
    run's own, fresh work dir: nothing built by an earlier run is there
    to be reused."""
    tmp = tempfile.gettempdir()
    if os.path.commonpath([tmp, work]) != work:
        return [f"temp dir {tmp} is outside the run's work dir"]
    stale = [d for d in os.listdir(tmp) if d.startswith("gdl_")]
    return [f"build artifacts present before the timed pass: {stale}"] if stale else []


def _warm_up(spark, registry, sf_dir) -> None:
    """Pay the once-per-context costs (class loading, codegen) in a
    throwaway session."""
    throwaway = spark.newSession()
    for name in WARM_UP:
        registry[name].fn(throwaway, sf_dir).write.format("noop").mode("overwrite").save()


def _check(results, registry, sf_dir) -> list[str]:
    from tests import oracle

    errs = []
    for name, df in results.items():
        sql = registry[name].oracle
        if sql is None:
            errs.append(f"{name}: no oracle")
            continue
        try:
            oracle.compare(df, sql, sf_dir)
        except AssertionError as exc:
            errs.append(f"{name}: {str(exc)[:300]}")
    return errs


def layer_metrics(res, folded) -> dict:
    """Per-query and per-group figures for the ``analytics`` artifact."""
    spans = res["spans"]
    cpus = common.host_cpus()
    out = {}
    for name in QUERIES:
        for kind, label in (("build", "build_s"), ("first", "first_s"), ("run", "steady_s")):
            recs = spans.of(f"analytics.{kind}.{name}")
            out[f"operators.{name}.{label}"] = common.p50([r["s"] for r in recs])
        out[f"operators.{name}.build_jobs"] = common.p50(
            [r.get("jobs", 0) for r in spans.of(f"analytics.build.{name}")]
        )
        out[f"operators.{name}.run_tasks"] = common.p50(
            [r.get("tasks", 0) for r in spans.of(f"analytics.run.{name}")]
        )
    for name in ("dd04_minhash_lsh_pairs", "geo04_point_in_polygon"):
        stages = {}
        for group, m in folded.items():
            if group.split("#", 1)[0] == f"analytics.run.{name}":
                stages.update(m["stages"])
        slow = max(stages.values(), key=lambda s: s["run_ms"], default=None)
        out[f"operators.{name}.max_task_ms"] = slow["max_task_ms"] if slow else 0
        out[f"operators.{name}.tasks_per_slot"] = slow["tasks"] / cpus if slow else 0
    for group in ("analytics.build", "analytics.first", "analytics.run"):
        m = common.merge_groups(folded, group)
        for k in ("cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes", "max_task_ms"):
            out[f"{group}.{k}"] = m[k]
    return out
