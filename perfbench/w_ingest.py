"""``ingest`` workload: the reference's literal path through ``plans/``.

One dataset, then a sequence of ``create_dataset_version`` calls, each
over a freshly generated STAC tree (105 documents, 200 DATA assets of
4 KiB..1 MiB).  After each version the client looks up its import status
twice, as a polling client would (``status.status_view`` for that
version plus ``catalog.get_dataset``).  Closed loop, one client.

Versions come in blocks of four, the second of each block carrying one
tampered asset; at least one block, and whole blocks until ``--seconds``
have passed.  The first version of a run is the session's first and pays
JIT, Python-worker and copy-path warm-up; in a block of four it is the
slowest sample by far, so the median never includes it.

Writes are the versions, reads the status lookups.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from perfbench import common, gen_stac

TAMPER_EVERY = 4
TAMPER_AT = 1
LOOKUPS_PER_VERSION = 2


def run(spark_work: str, args, fsio) -> dict:
    from pyspark.sql import functions as F

    from geospatial_data_lake_spark import schemas
    from geospatial_data_lake_spark.plans import checksums, importer, stac, status
    from geospatial_data_lake_spark.plans import pipeline
    from geospatial_data_lake_spark.plans.catalog import DatasetCatalog

    trace = bool(args.trace)

    def prepare(spark, rep):
        root = os.path.join(spark_work, f"ingest-{rep}")
        pool = gen_stac.write_pool(os.path.join(root, "pool"), args.seed)
        catalog = DatasetCatalog(spark, os.path.join(root, "catalog"))
        dataset = catalog.create_dataset(f"bench_{args.seed}_{rep}")
        return root, pool, catalog, dataset

    spark, (root, pool, catalog, dataset), setup, start, setup_cpu = common.repeated_setup(
        spark_work, trace, prepare
    )
    spans = common.Spans(spark, trace, fsio)
    restore = []
    if trace:
        marks = common.PhaseMarks(spark.sparkContext)
        restore = [
            (stac, "traverse_and_validate", marks.wrap(stac, "traverse_and_validate", "plans.stac")),
            (checksums, "verify_checksums", marks.wrap(checksums, "verify_checksums", "plans.checksums")),
            (importer, "build_manifest", marks.wrap(importer, "build_manifest", "plans.importer")),
            (catalog, "register_version", marks.wrap(catalog, "register_version", "plans.catalog.commit")),
        ]
    storage = os.path.join(root, "storage")
    failures: list[str] = []
    versions = []
    deadline = time.perf_counter() + args.seconds
    v = 0
    try:
        # whole blocks only, so every run has the same clean/tampered mix
        while v == 0 or v % TAMPER_EVERY or time.perf_counter() < deadline:
            tampered = v % TAMPER_EVERY == TAMPER_AT
            tree = gen_stac.write_version_tree(
                os.path.join(root, "trees", f"v{v:03d}"), pool, args.seed, v, tampered
            )
            with spans.span(
                "ingest.version", own_group=False, side="write", version=v, tampered=tampered
            ) as rec:
                if trace:
                    marks.enter("plans.catalog.read")
                result = pipeline.create_dataset_version(
                    spark, catalog, dataset["dataset_id"], tree["url"], storage
                )
            rec["phases"] = marks.close() if trace else {}
            rec["data_bytes"] = sum(r["bytes"] for r in tree["data"].values())
            rec["docs"] = len(tree["docs"])
            copied = result.copy_status.collect() if result.copy_status is not None else None
            failed_rows = result.validation.filter(
                F.col("result") == schemas.RESULT_FAILED
            ).collect()
            copy_jobs = _copy_job_rows(dataset["dataset_id"], result.version_id, copied)
            jobs_df = spark.createDataFrame(copy_jobs, schemas.COPY_JOBS)
            failures += _check_version(tree, result, copied, failed_rows, dataset, storage, tampered)
            for _ in range(LOOKUPS_PER_VERSION):
                with spans.span("plans.status", side="read", version=v):
                    view = status.status_view(
                        catalog.versions().filter(F.col("version_id") == result.version_id),
                        result.validation,
                        jobs_df,
                    ).collect()
                    got = catalog.get_dataset(dataset_id=dataset["dataset_id"])
                failures += _check_lookup(result, view, got, dataset, tampered)
            rec["copied_files"] = len(copied) if copied is not None else 0
            versions.append(rec)
            v += 1
    finally:
        for owner, name, original in restore:
            setattr(owner, name, original)
    return {
        "spark": spark,
        "spans": spans,
        "setup": setup,
        "start": start,
        "setup_cpu": setup_cpu,
        "failures": failures,
        "attempted": len(versions) + len(spans.of_side("read")),
        "write": [r["s"] for r in versions],
        "read": [r["s"] for r in spans.of_side("read")],
        "write_cpu": [r["cpu_s"] for r in versions],
        "read_cpu": [r["cpu_s"] for r in spans.of_side("read")],
        "extra": _extra(versions, spans.of_side("read")),
        "write_layers": ("plans.stac", "plans.checksums", "plans.importer", "plans.catalog"),
        "read_layers": ("plans.status",),
    }


def _copy_job_rows(dataset_id, version_id, copied):
    if copied is None:
        return []
    rows = []
    for job_type, is_meta in (("metadata", True), ("asset", False)):
        statuses = [r.status for r in copied if r.target.endswith(".json") == is_meta]
        ok = all(s == "Complete" for s in statuses)
        rows.append(
            (dataset_id, version_id, job_type, f"{job_type}-{version_id}",
             "COMPLETE" if ok else "FAILED", [] if ok else ["copy failed"])
        )
    return rows


def _check_version(tree, result, copied, failed_rows, dataset, storage, tampered):
    errs = []
    tag = f"version {result.version_id}"
    target = os.path.join(storage, f"{dataset['title']}-{dataset['dataset_id']}", result.version_id)
    if tampered:
        if result.validation_passed or copied is not None:
            errs.append(f"{tag}: tampered version passed validation")
        if len(failed_rows) != 1 or failed_rows[0]["check"] != "checksum":
            errs.append(f"{tag}: expected one failed checksum row, got {len(failed_rows)}")
        elif os.path.basename(failed_rows[0]["url"]) != tree["tampered_name"]:
            errs.append(f"{tag}: wrong asset flagged: {failed_rows[0]['url']}")
        if os.path.exists(target):
            errs.append(f"{tag}: tampered version was copied")
        return errs
    if not result.validation_passed or failed_rows:
        return [f"{tag}: clean version failed validation ({len(failed_rows)} rows)"]
    expected = set(tree["data"]) | set(tree["docs"])
    if {os.path.basename(r.target) for r in copied} != expected or any(
        r.status != "Complete" for r in copied
    ):
        errs.append(f"{tag}: copy status does not cover the tree")
    for name, record in tree["data"].items():
        with open(os.path.join(target, name), "rb") as fh:
            if "1220" + hashlib.sha256(fh.read()).hexdigest() != record["multihash"]:
                errs.append(f"{tag}: copied {name} does not hash to its multihash")
    for name in tree["docs"]:
        with open(os.path.join(target, name), encoding="utf-8") as fh:
            doc = json.load(fh)
        hrefs = [link["href"] for link in doc.get("links", [])]
        hrefs += [a["href"] for a in (doc.get("assets") or {}).values()]
        if any(h != os.path.basename(h) for h in hrefs):
            errs.append(f"{tag}: {name} keeps a non-basename href")
    return errs


def _check_lookup(result, view, got, dataset, tampered):
    tag = f"version {result.version_id} status"
    if got["dataset_id"] != dataset["dataset_id"]:
        return [f"{tag}: get_dataset returned {got['dataset_id']}"]
    if len(view) != 1:
        return [f"{tag}: view has {len(view)} rows"]
    row = view[0]
    if tampered:
        want = ("Failed", 1, "Skipped", "Skipped")
    else:
        want = ("Passed", 0, "Complete", "Complete")
    got_row = (row.validation_status, row.n_failures, row.asset_upload_status,
               row.metadata_upload_status)
    return [] if got_row == want else [f"{tag}: {row.asDict()}"]


def _extra(versions, lookups) -> dict:
    """Workload-level ingest figures for the artifact."""
    wall = sum(r["s"] for r in versions)
    return {
        "ingest.version_p50_s": common.p50([r["s"] for r in versions]),
        "ingest.status_p50_s": common.p50([r["s"] for r in lookups]),
        "ingest.assets_mb_per_s": sum(r["data_bytes"] for r in versions) / 1e6 / wall,
        "ingest.versions": len(versions),
    }


def layer_metrics(res, folded) -> dict:
    """Per-layer figures for the ``ingest`` artifact."""
    versions = [r for r in res["spans"].records if r["layer"] == "ingest.version"]
    n = len(versions)
    clean = [r for r in versions if not r["tampered"]]
    out = {}
    for phase, name in (
        ("plans.stac", "traverse_s"),
        ("plans.checksums", "gate_s"),
        ("plans.importer", "copy_s"),
        ("plans.catalog.commit", "commit_s"),
        ("plans.catalog.read", "read_s"),
    ):
        runs = [r["phases"].get(phase) for r in versions if phase in r["phases"]]
        layer = phase.rsplit(".", 1)[0] if phase.startswith("plans.catalog") else phase
        out[f"{layer}.{name}"] = common.p50(runs)
        m = common.merge_groups(folded, phase)
        out[f"{phase}.jobs_per_version"] = m["jobs"] / max(1, len(runs))
        for k in ("cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes", "max_task_ms"):
            out[f"{phase}.{k}"] = m[k]
    out["plans.stac.docs"] = sum(r["docs"] for r in versions) / max(1, n)
    out["plans.checksums.mb_hashed"] = sum(r["data_bytes"] for r in versions) / 1e6 / max(1, n)
    out["plans.importer.files"] = sum(r["copied_files"] for r in clean) / max(1, len(clean))
    out["plans.importer.mb_copied"] = sum(r["data_bytes"] for r in clean) / 1e6 / max(1, len(clean))
    out["plans.catalog.retries"] = 0
    out["plans.status.view_s"] = common.p50([r["s"] for r in res["spans"].of("plans.status")])
    out["plans.status.jobs"] = common.p50([r.get("jobs", 0) for r in res["spans"].of("plans.status")])
    return out
