"""Bulk import (copy) of a validated dataset version — SURVEY.md M5.

The reference builds two CSV manifests and launches two S3 Batch copy jobs
(`backend/import_dataset/task.py:86-146`): data files copied verbatim
(`backend/import_asset_file/task.py:23-27`), metadata files rewritten so
every href becomes its basename (`backend/import_metadata_file/task.py:24-42,
69-71`), targets keyed ``title-id/version/basename``
(`backend/import_dataset/task.py:84,104`).

Spark re-architecture: the manifest is a DataFrame; the copy runs as one
``mapInPandas`` job over manifest rows (executor-side IO, idempotent
same-target writes => safe under task retries — replaces S3 Batch retry
codes). Metadata rewriting is the same transform the reference does, per
row in the copy kernel.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geospatial_data_lake_spark.plans import local_file_path
from geospatial_data_lake_spark.plans.logging_contract import log_event


def build_manifest(assets: DataFrame, target_prefix: str) -> DataFrame:
    """Manifest rows: (url, item_type, target) — A4/S7. Target key =
    prefix/basename (ref task.py:104)."""
    log_event(__name__, {"task": "import_dataset", "target_prefix": target_prefix})
    basename = F.element_at(F.split(F.col("url"), "/"), -1)
    return assets.select(
        "url",
        "item_type",
        F.concat(F.lit(target_prefix.rstrip("/") + "/"), basename).alias("target"),
    )


def write_manifest_csv(manifest: DataFrame, path: str) -> None:
    """CSV manifest sink (S7; ref writes bucket,quoted-json rows,
    backend/import_dataset/task.py:87-107)."""
    manifest.select("url", "target").write.mode("overwrite").csv(path)


def _copy_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Copy each manifest row; METADATA JSON gets every href rewritten to
    its basename (ref: backend/import_metadata_file/task.py:24-42,69-71).
    Idempotent: same source -> same target, so Spark task retries are safe
    (S9/S10/X2)."""
    for pdf in batches:
        statuses = []
        for url, item_type, target in zip(pdf["url"], pdf["item_type"], pdf["target"]):
            try:
                src = local_file_path(url)
                dst = local_file_path(target)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                if item_type == "METADATA":
                    with open(src, encoding="utf-8") as fh:
                        doc = json.load(fh)
                    for link in doc.get("links", []):
                        if link.get("href"):
                            link["href"] = os.path.basename(link["href"])
                    for asset in (doc.get("assets") or {}).values():
                        if asset.get("href"):
                            asset["href"] = os.path.basename(asset["href"])
                    with open(dst, "w", encoding="utf-8") as fh:
                        json.dump(doc, fh)
                else:
                    shutil.copyfile(src, dst)
                statuses.append("Complete")
            except OSError as exc:
                statuses.append(f"Failed: {exc}")
        yield pd.DataFrame({"url": pdf["url"], "target": pdf["target"], "status": statuses})


def run_copy(manifest: DataFrame) -> DataFrame:
    """Execute the distributed copy; returns per-file status rows."""
    log_event(__name__, {"task": "import_asset_files"})
    return manifest.mapInPandas(
        _copy_kernel, schema="url string, target string, status string"
    )
