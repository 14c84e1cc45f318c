"""Shared benchmark machinery: host-sized sessions, spans around layer
calls, Spark job accounting, event-log folding, fsio call counters and
order statistics.

Everything here observes the package from outside: spans are timed with
``perf_counter`` around public calls, Spark work is attributed through
job groups, and fsio calls are counted by wrapping the module's public
functions for the duration of a traced run.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

# ---------------------------------------------------------------- statistics


def p50(values):
    return statistics.median(values) if values else float("nan")


def tail(values):
    """Highest percentile with at least ten samples beyond it, as
    ``(value, percentile, n)``; ``(None, None, n)`` below 11 samples."""
    n = len(values)
    if n < 11:
        return None, None, n
    ordered = sorted(values)
    idx = n - 11  # ten samples strictly above this one
    return ordered[idx], round(100.0 * (idx + 1) / n, 2), n


def summarize(values):
    value, pct, n = tail(values)
    return {
        "n": len(values),
        "p50": p50(values),
        "mean": statistics.fmean(values) if values else float("nan"),
        "tail": value,
        "tail_pct": pct,
        "raw": list(values),
    }


# ---------------------------------------------------------------- inputs

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def fixture_dir(scale: str, small: bool) -> str:
    """A copy of the repo's deterministic fixture tables (seed 42, one
    parquet per table) at ``scale``, or at ``sf0.001`` for self-tests.
    The copies keep every run's reads inside the checkout."""
    return os.path.join(DATA, "sf0.001" if small else scale)


# ---------------------------------------------------------------- session


def host_cpus() -> int:
    """Half the host's cores, at most two, so the driver's, JIT and GC
    threads have cores of their own.  On a shared 4-core host, interleaved
    ingest runs were faster and varied less at local[2] than at local[4]."""
    return max(1, min(4, os.cpu_count() or 1) // 2)


def host_driver_memory() -> str:
    """A quarter of physical memory, clamped to 1..4 GiB: the default in
    ``session.py`` (48g) would overcommit a small host."""
    total_kb = 4 << 20
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return f"{max(1, min(4, total_kb // (4 << 20)))}g"


def session_conf(work: str, trace: bool) -> dict[str, str]:
    """Keep every file Spark writes under ``work`` and retain enough job
    history for per-call accounting."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise write hsperfdata_* to the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Duser.timezone=UTC -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": log_dir,
            }
        )
    return conf


def start_session(work: str, trace: bool):
    from geospatial_data_lake_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=host_cpus(),
        driver_memory=host_driver_memory(),
        extra_conf=session_conf(work, trace),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it; its
    Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    try:
        gateway.shutdown()
    except Exception:  # py4j raises its own error types once the JVM is gone
        pass
    proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children) of this
    process and every live descendant: the Python driver, the JVM and the
    JVM's Python workers.  Time the hypervisor steals and time spent
    waiting for a core other tenants hold are not in it."""
    root = os.getpid()
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while the table was read
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / _TICK


def repeated_setup(work: str, trace: bool, prepare, reps: int = 3):
    """Run session start + ``prepare(spark, rep)`` ``reps`` times, each
    on a fresh SparkContext; return the last session, the last
    ``prepare`` result and the per-rep times.  Only the last session
    carries the event log.  The gateway JVM outlives ``spark.stop()``, so
    only the first rep pays JVM launch."""
    spark = None
    setup, start, cpu = [], [], []
    state = None
    for rep in range(reps):
        if spark is not None:
            spark.stop()
        c0, t0 = tree_cpu_s(), time.perf_counter()
        spark = start_session(work, trace and rep == reps - 1)
        t1 = time.perf_counter()
        state = prepare(spark, rep)
        t2 = time.perf_counter()
        start.append(t1 - t0)
        setup.append(t2 - t0)
        cpu.append(tree_cpu_s() - c0)
    return spark, state, setup, start, cpu


# ---------------------------------------------------------------- spans


class Spans:
    """Wall-clock spans around calls into a layer.  In a traced run each
    span also runs under its own Spark job group (``layer#n``), so jobs,
    tasks and event-log task metrics can be attributed to it afterwards."""

    def __init__(self, spark, trace: bool, fsio: "FsioCounter | None" = None):
        self.sc = spark.sparkContext
        self.trace = trace
        self.fsio = fsio
        self.records: list[dict] = []

    @contextmanager
    def span(self, layer: str, own_group: bool = True, **attrs):
        """Time one call into ``layer``.  ``own_group=False`` leaves job
        groups to inner phase marks."""
        rec = {"layer": layer, "group": f"{layer}#{len(self.records)}", **attrs}
        self.records.append(rec)
        own_group = own_group and self.trace
        if own_group:
            self.sc.setJobGroup(rec["group"], layer)
        calls = self.fsio.calls if self.fsio else 0
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s() - c0
            if self.fsio:
                rec["fsio"] = self.fsio.calls - calls
            if own_group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def of(self, layer: str) -> list[dict]:
        return [r for r in self.records if r["layer"] == layer]

    def of_side(self, side: str) -> list[dict]:
        return [r for r in self.records if r.get("side") == side]

    def count_jobs(self) -> None:
        """Attach Spark job and completed-task counts to every span.
        The status store is fed asynchronously, so drain the listener bus
        first."""
        if not self.trace:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for rec in self.records:
            jobs = tracker.getJobIdsForGroup(rec["group"])
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    stage = tracker.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numCompletedTasks
            rec["jobs"] = len(jobs)
            rec["tasks"] = tasks


class PhaseMarks:
    """Split one outer call into phases by wrapping the functions it
    calls: entering a wrapped function closes the running phase, opens the
    next and switches the Spark job group, so the lazy work a phase
    triggers later is charged to the phase running when it executes."""

    def __init__(self, sc):
        self.sc = sc
        self.current = None
        self.t = 0.0
        self.seconds: dict[str, float] = {}
        self.serial = 0

    def enter(self, phase: str) -> None:
        now = time.perf_counter()
        if self.current is not None:
            self.seconds[self.current] = self.seconds.get(self.current, 0.0) + (
                now - self.t
            )
        self.current, self.t = phase, now
        if phase is not None:
            self.serial += 1
            self.sc.setJobGroup(f"{phase}#m{self.serial}", phase)

    def close(self) -> dict[str, float]:
        self.enter(None)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        out, self.seconds = self.seconds, {}
        return out

    def wrap(self, owner, name: str, phase: str):
        original = getattr(owner, name)

        def wrapped(*args, **kwargs):
            self.enter(phase)
            return original(*args, **kwargs)

        setattr(owner, name, wrapped)
        return original


# ---------------------------------------------------------------- fsio


class FsioCounter:
    """Counts calls to the public functions of ``sources.fsio`` while
    installed; the table code calls them through the module, so wrapping
    the module attributes sees every call."""

    NAMES = (
        "listdir",
        "mkdirs",
        "mkdir_exclusive",
        "read_text",
        "write_text",
        "put_if_absent",
        "unlink",
        "rmtree",
        "mtime",
        "walk_files",
        "sweep_empty_dirs",
        "list_parquet_files",
        "read_parquet_schema",
    )

    def __init__(self):
        from geospatial_data_lake_spark.sources import fsio

        self.mod = fsio
        self.calls = 0
        self.conflicts = 0
        self._originals = {}

    def install(self) -> None:
        for name in self.NAMES:
            original = getattr(self.mod, name, None)
            if original is None:
                continue
            self._originals[name] = original
            setattr(self.mod, name, self._counted(name, original))

    def _counted(self, name, original):
        def wrapped(*args, **kwargs):
            self.calls += 1
            try:
                return original(*args, **kwargs)
            except FileExistsError:
                if name == "put_if_absent":
                    self.conflicts += 1
                raise

        return wrapped

    def uninstall(self) -> None:
        for name, original in self._originals.items():
            setattr(self.mod, name, original)
        self._originals.clear()


# ---------------------------------------------------------------- event log

_TASK_FIELDS = ("cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes", "run_ms")


def fold_event_log(log_dir: str) -> dict:
    """Fold Spark's JSON event log into per-job-group task metrics.

    Returns ``{group: {"cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes",
    "run_ms", "max_task_ms", "tasks", "job_ms", "stages": {sid: {...}}}}``.
    Shuffle bytes count read plus written; spill counts memory plus disk.
    """
    paths = [
        os.path.join(root, name)
        for root, _, files in os.walk(log_dir)
        for name in files
        if not name.startswith(".")
    ]
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    groups: dict[str, dict] = {}

    def bucket(group):
        return groups.setdefault(
            group,
            {**{k: 0 for k in _TASK_FIELDS}, "max_task_ms": 0, "tasks": 0,
             "jobs": 0, "job_ms": 0, "stages": {}},
        )

    for path in sorted(paths):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    job_group[ev["Job ID"]] = group
                    bucket(group)["jobs"] += 1
                    job_start[ev["Job ID"]] = ev.get("Submission Time", 0)
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerJobEnd":
                    group = job_group.get(ev["Job ID"])
                    if group is not None:
                        bucket(group)["job_ms"] += ev.get(
                            "Completion Time", 0
                        ) - job_start.get(ev["Job ID"], 0)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics")
                    if group is None or not metrics:
                        continue
                    info = ev.get("Task Info") or {}
                    shuffle_r = metrics.get("Shuffle Read Metrics") or {}
                    shuffle_w = metrics.get("Shuffle Write Metrics") or {}
                    task = {
                        "cpu_ms": metrics.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": metrics.get("JVM GC Time", 0),
                        "shuffle_bytes": shuffle_r.get("Remote Bytes Read", 0)
                        + shuffle_r.get("Local Bytes Read", 0)
                        + shuffle_w.get("Shuffle Bytes Written", 0),
                        "spill_bytes": metrics.get("Memory Bytes Spilled", 0)
                        + metrics.get("Disk Bytes Spilled", 0),
                        "run_ms": metrics.get("Executor Run Time", 0),
                    }
                    wall = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    b = bucket(group)
                    st = b["stages"].setdefault(
                        str(ev["Stage ID"]),
                        {**{k: 0 for k in _TASK_FIELDS}, "max_task_ms": 0, "tasks": 0},
                    )
                    for target in (b, st):
                        for k, v in task.items():
                            target[k] += v
                        target["tasks"] += 1
                        target["max_task_ms"] = max(target["max_task_ms"], wall)
    return groups


def merge_groups(folded: dict, prefix: str) -> dict:
    """Sum the folded metrics of every job group whose layer (the part
    before ``#``) equals or starts with ``prefix``."""
    out = {**{k: 0 for k in _TASK_FIELDS}, "max_task_ms": 0, "tasks": 0, "jobs": 0, "job_ms": 0}
    for group, m in folded.items():
        layer = group.split("#", 1)[0]
        if layer == prefix or layer.startswith(prefix + "."):
            for k in (*_TASK_FIELDS, "tasks", "jobs", "job_ms"):
                out[k] += m[k]
            out["max_task_ms"] = max(out["max_task_ms"], m["max_task_ms"])
    return out


# ---------------------------------------------------------------- context


def run_context(root: str, args, extra: dict) -> dict:
    import pyspark

    rev = None
    # outside a git work tree (a plain checkout) git would search the
    # parent directories instead
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            rev = subprocess.run(
                ["git", "rev-parse", "HEAD"],
                cwd=root,
                capture_output=True,
                text=True,
                timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cpus": host_cpus(),
        "driver_memory": host_driver_memory(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_rev": rev,
        "source_sha256": source_digest(root),
        "argv": sys.argv,
        **extra,
    }


def source_digest(root: str) -> str:
    """SHA-256 over the package's and the benchmark's Python sources, so
    a run from a checkout without git history still names its code."""
    digest = hashlib.sha256()
    for top in ("geospatial_data_lake_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, top)):
            dirnames.sort()
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(dirpath, name)
                digest.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    digest.update(fh.read())
    return digest.hexdigest()


def loadavg() -> list[float]:
    try:
        return list(os.getloadavg())
    except OSError:
        return []


_CPU_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")


def cpu_jiffies() -> dict[str, int]:
    """Host-wide CPU time by state from ``/proc/stat``; ``steal`` and
    ``idle`` tell a run slowed by other tenants from one slowed by its
    own work."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()[1:]
    except OSError:
        return {}
    return {k: int(v) for k, v in zip(_CPU_FIELDS, fields)}


def jiffies_since(start: dict[str, int]) -> dict[str, int]:
    end = cpu_jiffies()
    return {k: end[k] - start[k] for k in start if k in end}


def finite(x) -> bool:
    return isinstance(x, (int, float)) and math.isfinite(x)
