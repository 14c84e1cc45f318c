"""x10 scale-stress harness: do the 100 TB claims survive an order of
magnitude more data than the bench fixture?

Every plan-shape claim in the repo is pinned at <= sf0.1 (~600k
lineitem rows).  This tool builds a x``--factor`` derivative of the
sf0.1 tables in a scratch directory (key-shifted unions — /root/testdata
is never touched), then for each HEAVY query family:

- times the query at sf0.1 and at xN on the same session/config,
- re-asserts the family's pinned plan shape AT xN by calling the exact
  pin functions from tests/test_plan_shapes.py against the scaled dir,
- records everything in a resumable JSON checkpoint (one entry per
  step, so an interrupted run continues instead of restarting).

Scaling expectations (reported per family):

- dedup (dd04/dd10/dd13), ANN serve (ss08 search), lake (vs01/vs14),
  streaming (st03), relational (q9): work is ~linear in rows -> the
  time ratio should be ~factor (amortized; small-fixture constants
  make sub-factor ratios common).
- geo (geo04/geo07/geo08/geo09): the fixture derives coordinates from
  ids over a FIXED area, so a xN corpus is xN DENSER — candidate pairs
  per point grow xN and total work grows ~xN^2.  That is a property of
  densifying the fixture, not of the plan: at constant density (the
  production case — more data covers more area) the same plan is
  linear, so a geo ratio of ~factor^2 means linear in work.

Copy construction (copy i of ``--factor``, i=0 keeps the original):

- ids shift by i*K (K=10_000_000: far above any fixture key) so keys
  stay unique and modular derivations stay uniformly distributed;
- documents.text is vowel/consonant-rotated per copy (``translate``),
  so cross-copy docs are NOT near-duplicates and dup density per copy
  matches the original (a naive 10x copy would make every doc a
  10-clique and blow up pair OUTPUT quadratically — unrealistic);
- embeddings get a small per-copy additive offset (distinct vectors,
  same geometry per copy);
- events shift ts by i*777 hours so time-windowed state (st03) grows
  xN instead of piling into the same hours.

Usage:
    python tools/scale_stress.py [--factor 10] [--out DIR]
        [--checkpoint FILE] [--budget-secs N] [--queries a,b,c]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_K = 10_000_000  # id shift per copy

# query -> (plan-pin function name in tests.test_plan_shapes, family)
HEAVY: dict[str, tuple[str | None, str]] = {
    "dd04_minhash_lsh_pairs": ("should_pin_lsh_candidate_join_as_broadcast", "dedup"),
    "dd10_substring_spans": ("should_keep_dd10_substring_dedup_hash_keyed", "dedup"),
    "dd13_substring_removal": ("should_cut_spans_in_row_without_token_shuffle", "dedup"),
    "geo04_point_in_polygon": ("should_broadcast_polygon_cells_in_point_containment", "geo"),
    "geo07_nearest_within_radius": ("should_run_knn_join_via_cell_probe_not_cartesian", "geo"),
    "geo08_wkb_point_in_polygon": ("should_run_wkb_roundtrip_as_passthrough_map_stages", "geo"),
    "geo09_wkb_multipolygon_holes": (None, "geo"),
    "geo10_wkb_polyline_length": (None, "geo"),
    "ss09_ivfpq_refined_search": (None, "ann"),
    "vs16_spec_rewrite_read": (None, "lake"),
    "st04_stream_geo_ingest": (None, "stream"),
    "st05_stream_ann_index_maintenance": (None, "stream"),
    "em03_matryoshka_prefix_search": (None, "ann"),
    "mx03_token_budget_plan": (None, "pipeline"),
    "geo12_st_functions": ("should_fold_st_functions_without_joins_or_python", "geo"),
    "pk02_shard_manifest": ("should_partial_aggregate_shard_manifest", "pipeline"),
    "geo11_geoparquet_roundtrip": ("should_decode_pruned_geoparquet_files_without_joins", "geo"),
    "ss08_persisted_ivfpq_search": ("should_search_persisted_ivfpq_without_training_or_smj", "ann"),
    "vs01_manifest_merge_roundtrip": (None, "lake"),
    "vs14_branch_divergence": ("should_compare_branch_heads_without_cartesian", "lake"),
    "vs15_spec_evolution_read": (None, "lake"),
    "vs17_partition_column_evolution_read": (None, "lake"),
    "vs18_cdc_replication_read": (None, "lake"),
    "st03_stream_volume_monitor": ("should_score_volume_cells_not_raw_events", "stream"),
    "tpch_q9_product_profit": (None, "relational"),
    "dd14_decontamination": ("should_broadcast_benchmark_ngrams_in_dd14", "dedup"),
    "sm05_mixture_quota_sample": ("should_broadcast_quota_table_in_sm05", "pipeline"),
    "ss10_binary_quant_search": ("should_broadcast_query_sketches_in_ss10", "ann"),
    "ts01_gap_fill_locf": ("should_explode_filled_intervals_joinlessly_in_ts01", "timeseries"),
    "ts02_ohlc_downsample": ("should_fold_ohlc_bars_in_one_joinless_scan", "timeseries"),
    "ts03_time_weighted_avg": ("should_reaggregate_locf_core_joinlessly_in_ts03", "timeseries"),
    "st06_stream_timeseries_rollup": (None, "stream"),
    "sd01_semantic_dedup": ("should_confine_pair_join_to_cluster_cells_in_sd01", "dedup"),
    "rk01_rrf_fusion": ("should_fuse_vanishing_candidate_lists_in_rk01", "ann"),
    "pl01_training_pipeline": ("should_broadcast_decision_sets_through_pl01_stages", "pipeline"),
    "vs19_metadata_only_counts": ("should_answer_vs19_counts_without_any_parquet_scan", "lake"),
    "vs20_metadata_column_range": ("should_answer_vs20_ranges_without_any_parquet_scan", "lake"),
    "ev05_top_event_paths": ("should_reduce_trigrams_before_global_rank_in_ev05", "analytics"),
    "ss11_scalar_quant_search": ("should_broadcast_codes_and_stats_in_ss11", "ann"),
    "rk02_rrf_fusion_serve": ("should_serve_rk02_fusion_from_index_sized_arms", "ann"),
    "vs21_zorder_clustered_read": ("should_prune_vs21_read_to_an_intersecting_file_subset", "lake"),
    "vs22_positional_delete_read": ("should_keep_vs22_delete_state_metadata_only", "lake"),
    "vs23_files_metadata_audit":
        ("should_answer_vs23_metadata_audit_without_any_parquet_scan", "lake"),
    "dd15_canonical_dedup_decision": ("should_broadcast_group_table_for_dd15_election", "dedup"),
    "dd07_duplicate_groups": (None, "dedup"),
    "vs25_posdelete_change_feed": ("should_join_content_diff_on_full_row_never_cartesian", "lake"),
    "vs26_delete_files_audit":
        ("should_answer_vs26_delete_files_audit_without_any_parquet_scan", "lake"),
    "vs27_per_commit_change_feed": ("should_join_content_diff_on_full_row_never_cartesian", "lake"),
    "sd02_semantic_dedup_autok": (None, "dedup"),
    "vs28_mapcol_change_feed": ("should_join_content_diff_on_full_row_never_cartesian", "lake"),
    "vs29_content_feed_apply": (None, "lake"),
    "st07_stream_content_replication": (None, "stream"),
    "ss12_autok_ivf_search": (None, "ann"),
    "vs24_timestamp_pruned_read": ("should_prune_vs24_window_to_intersecting_time_slices", "lake"),
}

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# per-copy text rotation alphabets: rotating common letters changes
# most shingles, so copies are not near-duplicates of each other
_ROT_SRC = "etaoinsrhl"


def _rot(i: int) -> str:
    """Distinct substitution alphabet per copy.  A bare rotation cycles
    at factor len(_ROT_SRC)=10 — copies 0/10/20 would share texts and
    alias into cross-copy near-dup cliques, silently changing the
    workload at factor > 10.  Rotation x case tier x coprime stride
    gives 10 x 3 x 4 = 120 distinct bijections (enough for x100)."""
    rot = i % 10
    stride = (1, 3, 7, 9)[(i // 30) % 4]
    base = "".join(_ROT_SRC[(j * stride + rot) % 10] for j in range(10))
    tier = (i // 10) % 3
    if tier == 1:
        return base.upper()
    if tier == 2:
        return "".join(
            c.upper() if j % 2 else c for j, c in enumerate(base)
        )
    return base


def _copy_expr(spark, src_dir: str, name: str, i: int):
    """Copy i of one source table, key-shifted/perturbed (i=0: as-is)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(os.path.join(src_dir, f"{name}.parquet"))
    if i == 0:
        return df
    shift = i * _K
    if name == "orders":
        return df.withColumn("o_orderkey", F.col("o_orderkey") + shift)
    if name == "lineitem":
        return df.withColumn("l_orderkey", F.col("l_orderkey") + shift)
    if name == "documents":
        return df.withColumns(
            {
                "doc_id": F.col("doc_id") + shift,
                "text": F.translate("text", _ROT_SRC, _rot(i)),
            }
        )
    if name == "embeddings":
        # ISOMETRIC per-copy perturbation: cyclic dim-shift (+ reverse
        # on the second tier) — every copy is a distance-preserving
        # image of the base cloud, so cluster geometry holds at ANY
        # factor (an additive offset drifts copies into a few k-means
        # megacells).  Cross-copy vectors stay non-near-dup, so dup
        # density per copy matches the original.
        dim = 64  # embeddings.parquet contract (clustering._DIM)
        s = i % dim
        shifted = (
            F.concat(
                F.slice("embedding", s + 1, dim - s),
                F.slice("embedding", 1, s),
            )
            if s
            else F.col("embedding")
        )
        if (i // dim) % 2 == 1:
            shifted = F.reverse(shifted)
        return df.withColumns(
            {"vec_id": F.col("vec_id") + shift, "embedding": shifted}
        )
    if name == "events":
        return df.withColumns(
            {
                "event_id": F.col("event_id") + shift,
                "user_id": F.col("user_id") + i * 1000,
                "ts": F.col("ts") + F.expr(f"INTERVAL {i * 777} HOURS"),
            }
        )
    return None  # dimension tables stay 1x


def build_scaled_dir(
    spark,
    src_dir: str,
    out_dir: str,
    factor: int,
    only_tables: set[str] | None = None,
) -> None:
    """Materialize the scaled tables (resumable: existing outputs are
    kept — delete the directory to force a rebuild).  ``only_tables``
    restricts which tables scale (others copy 1x) — e.g. scaling ONLY
    ``events`` gives a constant-density geo corpus (x10 points against
    1x polygons), isolating per-point linearity from the densification
    effect a fixed-area x10-everything corpus has."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(dst):
            continue
        first = _copy_expr(spark, src_dir, name, 1)
        scale_this = first is not None and (
            only_tables is None or name in only_tables
        )
        out = _copy_expr(spark, src_dir, name, 0)
        if scale_this:
            for i in range(1, factor):
                out = out.unionByName(_copy_expr(spark, src_dir, name, i))
        tmp = dst + ".tmp"
        out.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, dst)
        print(f"[scale] built {name} x{factor if scale_this else 1}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/gdl_scale_x10")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--checkpoint", default="/tmp/gdl_scale_x10_ckpt.json")
    ap.add_argument("--budget-secs", type=float, default=1e9)
    ap.add_argument("--queries", default="")
    ap.add_argument(
        "--scale-tables",
        default="",
        help="comma-separated tables to scale (others copy 1x); "
        "default: every fact table",
    )
    args = ap.parse_args()

    from geospatial_data_lake_spark import load_all_queries
    from geospatial_data_lake_spark.session import get_spark
    from parity_sweep import _load_checkpoint, _save_checkpoint
    from time_queries import time_query

    ckpt = _load_checkpoint(args.checkpoint)

    def save() -> None:
        _save_checkpoint(args.checkpoint, ckpt)

    def steady_s(name: str, sf_dir: str) -> float:  # one noop run after the first
        return time_query(spark, registry[name].fn, name, sf_dir, runs=1)[1]["steady_s"]

    spark = get_spark(app_name="gdl-scale-stress")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all_queries()
    t0 = time.time()

    only = set(t for t in args.scale_tables.split(",") if t) or None
    build_scaled_dir(spark, args.sf_dir, args.out, args.factor, only)

    names = [q for q in args.queries.split(",") if q] or list(HEAVY)
    from tests import test_plan_shapes as pins

    for name in names:
        if time.time() - t0 > args.budget_secs:
            print("[scale] budget exhausted; re-run to resume")
            break
        pin_name, family = HEAVY[name]
        entry = ckpt.setdefault(name, {"family": family})

        # ss08: time the index BUILD separately from the serve path
        if name.startswith("ss08") and "build_x_secs" not in entry:
            from geospatial_data_lake_spark.operators import clustering

            start = time.perf_counter()
            clustering._ivfpq_store(spark, args.out)
            entry["build_x_secs"] = round(time.perf_counter() - start, 3)
            save()

        try:
            if "base_secs" not in entry:
                entry["base_secs"] = steady_s(name, args.sf_dir)
                save()
            if "x_secs" not in entry:
                entry["x_secs"] = steady_s(name, args.out)
                entry["ratio"] = round(
                    entry["x_secs"] / max(entry["base_secs"], 1e-9), 2
                )
                save()
            if pin_name and "pin" not in entry:
                try:
                    getattr(pins, pin_name)(spark, registry, args.out)
                    entry["pin"] = "pass"
                except AssertionError as exc:
                    entry["pin"] = f"FAIL: {str(exc)[:400]}"
                save()
        except Exception:
            entry["error"] = traceback.format_exc()[-800:]
            save()
        print(f"[scale] {name}: {entry.get('base_secs')}s -> "
              f"{entry.get('x_secs')}s (x{entry.get('ratio')}) "
              f"pin={entry.get('pin', '-')}")

    ckpt["_meta"] = {
        "factor": args.factor,
        "src": args.sf_dir,
        "out": args.out,
        "note": (
            "geo family densifies at fixed area -> expected ~factor^2 "
            "raw ratio; see module docstring"
        ),
    }
    save()
    print(json.dumps(
        {n: {k: v for k, v in e.items() if k != "error"}
         for n, e in ckpt.items() if n != "_meta"},
        indent=1, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
