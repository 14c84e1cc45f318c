"""Resumable full-registry parity sweep vs the DuckDB oracle.

Runs every registered query side-by-side with its oracle SQL at a given
scale factor (default sf0.1 — the bench scale, 10x the driver's
correctness gate), persisting one JSON checkpoint entry per query so an
interrupted sweep RESUMES instead of restarting: the heavy DuckDB
oracles (inverted-index joins, iterative replays) cost minutes each at
sf0.1, so a single-session all-or-nothing sweep does not fit a wall
clock — this one survives any number of sessions.

Usage:
    python tools/parity_sweep.py [--sf-dir DIR] [--checkpoint FILE]
                                 [--budget-secs N] [--only-failed]
                                 [--only NAME[,NAME...]]

``--only`` re-runs just the named queries and overwrites their checkpoint
entries (the check after a change to those queries); for several scale
factors run the sweep once per ``--sf-dir``.

Ordering: cheap oracles first, the known-heavy set last, so one session
banks the bulk of the registry before paying for the expensive tails.
Checkpoint schema: {name: {status: pass|fail|error|rows_only,
secs, rows, err}}, plus a _meta block with the sf dir and totals.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Oracles that cost minutes at sf0.1 (DuckDB inverted-index self-joins,
# iterative replays, window-heavy prefix sums) — swept last.
HEAVY = (
    "dd03_jaccard_pairs", "dd04_minhash_lsh_pairs", "dd15_canonical_dedup_decision",
    "dd06_embedding_neardup", "dd09_incremental_dedup",
    "dd11_indexed_incremental_dedup", "dd12_dispatched_incremental",
    "dd10_substring_spans", "cl01_kmeans_train", "vb02_bpe_merges",
    "ss04_ivf_trained_ann", "em02_product_quantization", "tx10_bigram_prob_score",
    "tx07_winnowing_fingerprints", "geo01_bbox_intersect_pairs",
    "geo04_point_in_polygon",
)


def _load_checkpoint(path: str) -> dict:
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def _save_checkpoint(path: str, data: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--checkpoint", default="PARITY_SF01.json")
    ap.add_argument("--budget-secs", type=float, default=None)
    ap.add_argument(
        "--only-failed",
        action="store_true",
        help="re-run only fail/error entries (after a fix)",
    )
    ap.add_argument(
        "--only",
        type=lambda v: [n for n in v.split(",") if n],
        default=[],
        help="re-run only these comma-separated queries",
    )
    args = ap.parse_args()

    from geospatial_data_lake_spark.registry import load_all_queries
    from geospatial_data_lake_spark.session import get_spark
    from tests.oracle import compare

    spark = get_spark(app_name="parity-sweep", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    registry = load_all_queries()
    ckpt = _load_checkpoint(args.checkpoint)
    unknown = [n for n in args.only if n not in registry]
    if unknown:
        ap.error(f"not registered: {unknown}")
    names = [n for n in registry if not n.startswith("_")]
    names.sort(key=lambda n: (n in HEAVY, HEAVY.index(n) if n in HEAVY else -1, n))

    t_start = time.monotonic()
    n_run = 0
    for name in names:
        prior = ckpt.get(name)
        if args.only:
            if name not in args.only:
                continue
        elif prior and not (
            args.only_failed and prior.get("status") in ("fail", "error")
        ):
            continue
        if args.budget_secs and time.monotonic() - t_start > args.budget_secs:
            print(f"budget reached after {n_run} queries; resume later")
            break
        spec = registry[name]
        t0 = time.monotonic()
        entry: dict = {}
        try:
            df = spec.fn(spark, args.sf_dir)
            if spec.oracle is None:
                rows = df.count()
                entry = {"status": "rows_only", "rows": rows}
            else:
                compare(df, spec.oracle, args.sf_dir)
                entry = {"status": "pass"}
        except AssertionError as e:
            entry = {"status": "fail", "err": str(e)[:500]}
        except Exception as e:
            entry = {
                "status": "error",
                "err": f"{type(e).__name__}: {e}"[:500],
                "trace": traceback.format_exc()[-1000:],
            }
        entry["secs"] = round(time.monotonic() - t0, 2)
        ckpt[name] = entry
        n_run += 1
        done = sum(1 for n in names if n in ckpt)
        statuses = [v.get("status") for k, v in ckpt.items() if k != "_meta"]
        ckpt["_meta"] = {
            "sf_dir": args.sf_dir,
            "checked": done,
            "total": len(names),
            "pass": statuses.count("pass"),
            "fail": statuses.count("fail"),
            "error": statuses.count("error"),
            "rows_only": statuses.count("rows_only"),
        }
        _save_checkpoint(args.checkpoint, ckpt)
        print(f"[{done}/{len(names)}] {name}: {entry['status']} ({entry['secs']}s)")

    meta = ckpt.get("_meta", {})
    print(json.dumps(meta))
    return 0 if meta.get("fail", 0) == 0 and meta.get("error", 0) == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
