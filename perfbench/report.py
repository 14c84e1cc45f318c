"""Turn one workload's samples into the result line and the artifact."""

from __future__ import annotations

import importlib
import math
import os

from perfbench import common

END_TO_END_UNITS = {"setup_s": "s", "write_cpu_p50_s": "s", "read_cpu_p50_s": "s"}
_SIDE_FIELDS = ("jobs", "tasks", "cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes")
PER_LAYER_UNITS = {
    "session.launch_s": "s",
    "session.start_s": "s",
    **{f"{side}.{k}": "count" if k in ("jobs", "tasks") else ("ms" if k.endswith("_ms") else "bytes")
       for side in ("write", "read") for k in _SIDE_FIELDS},
    "write.max_task_ms": "ms",
    "read.max_task_ms": "ms",
    "write.driver_frac": "fraction",
    "read.driver_frac": "fraction",
    "fsio.calls_per_write": "count",
    "fsio.calls_per_read": "count",
}


def run_workload(args, work: str) -> dict:
    module = importlib.import_module(f"perfbench.w_{args.workload}")
    fsio = common.FsioCounter() if args.trace else None
    if fsio:
        fsio.install()
    try:
        res = module.run(work, args, fsio)
    finally:
        if fsio:
            fsio.uninstall()
    res["spans"].count_jobs()
    spark = res.pop("spark")
    spark.stop()
    folded = {}
    if args.trace:
        folded = common.fold_event_log(os.path.join(work, "eventlog"))
    res["folded"] = folded
    res["layers"] = module.layer_metrics(res, folded) if args.trace else {}
    return res


def _side(res, side: str) -> dict:
    spans = res["spans"].of_side(side)
    n = max(1, len(res[side]))
    totals = {k: 0.0 for k in ("jobs", "tasks", "cpu_ms", "gc_ms", "shuffle_bytes",
                               "spill_bytes", "job_ms")}
    max_task = 0
    for prefix in res[f"{side}_layers"]:
        m = common.merge_groups(res["folded"], prefix)
        for k in totals:
            totals[k] += m[k]
        max_task = max(max_task, m["max_task_ms"])
    wall_ms = 1000.0 * sum(r["s"] for r in spans)
    out = {f"{side}.{k}": totals[k] / n for k in _SIDE_FIELDS}
    out[f"{side}.max_task_ms"] = max_task
    out[f"{side}.driver_frac"] = max(0.0, 1.0 - totals["job_ms"] / wall_ms) if wall_ms else 0.0
    out[f"fsio.calls_per_{side}"] = sum(r.get("fsio", 0) for r in spans) / n
    return out


def assemble(args, res: dict, wall: float) -> dict:
    write, read = res["write"], res["read"]
    # CPU seconds of the whole process tree: on a shared host the wall
    # clock also counts time the hypervisor steals, which varies from run
    # to run by more than the bounds; wall times stay in the artifact
    e2e = {
        "setup_s": common.p50(res["setup_cpu"]),
        "write_cpu_p50_s": common.p50(res["write_cpu"]),
        "read_cpu_p50_s": common.p50(res["read_cpu"]),
    }
    wall_clock = {
        "setup_s": common.p50(res["setup"]),
        "write_p50_s": common.p50(write),
        "read_p50_s": common.p50(read),
    }
    per_layer = {}
    if args.trace:
        # the first rep's start includes JVM launch, which later reps skip
        per_layer = {"session.launch_s": res["start"][0],
                     "session.start_s": common.p50(res["start"])}
        per_layer.update(_side(res, "write"))
        per_layer.update(_side(res, "read"))
    failures = list(res["failures"])
    chosen, units = (per_layer, PER_LAYER_UNITS) if args.trace else (e2e, END_TO_END_UNITS)
    for name in units:
        if not common.finite(chosen.get(name)):
            failures.append(f"metric {name} is not a finite number: {chosen.get(name)}")
    failed = min(res["attempted"], len(res["failures"]))
    line = {
        "correct": not failures,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": chosen.get(k, math.nan), "unit": u} for k, u in units.items()},
    }
    spans = res["spans"].records
    return {
        "line": line,
        "failures": failures,
        "wall_s": wall,
        "end_to_end": e2e,
        "per_layer": per_layer,
        "layers": res["layers"],
        "workload_figures": res.get("extra", {}),
        "wall_clock": wall_clock,
        "samples": {
            "setup_s": res["setup"],
            "setup_cpu_s": res["setup_cpu"],
            "write_cpu_s": res["write_cpu"],
            "read_cpu_s": res["read_cpu"],
            "session_start_s": res["start"],
            "write_s": common.summarize(write),
            "read_s": common.summarize(read),
        },
        "spans": spans,
        "event_log_groups": res["folded"],
    }
