"""STAC metadata validation — SURVEY.md §3.1 / M3.

The reference walks a STAC link graph recursively in one Lambda
(`backend/check_stac_metadata/utils.py:66-130`): per document it JSON-
parses (rejecting duplicate keys, utils.py:154-171), JSON-Schema-validates
by type (stac_validators.py:34-74), accumulates asset + metadata manifest
rows (utils.py:84-97), and follows ``links[].href`` breadth-first with
cycle suppression (utils.py:126-130).

Spark re-architecture: the traversal is a driver-side BFS loop (no
recursive CTE in Spark) where each hop processes the *whole frontier* as
one distributed job — document parse + validate runs as a mapInPandas
kernel over the frontier's URLs (executor-side IO), link/asset extraction
is columnar explode. Per-version asset indexes come from one global
ordinal pass over both item types (W1).

Per hop the only eager work is one ``localCheckpoint`` of the hop's docs
plus an ``isEmpty`` probe of their exploded links. The next frontier stays
lazy: the distinct links minus (left-anti join) the urls of every doc
checkpoint taken so far, which IS the visited set — so URLs are unique
across hops and no separate visited, frontier or dedupe materialization
exists. A child-link cycle costs one extra hop whose frontier is empty.

Scale: a frontier of N docs costs one job regardless of N; hop count is
graph depth (STAC trees are shallow: catalog -> collection -> item). Each
hop's checkpoint caps lineage, so plans stay flat however deep the graph.

Cost model (local mode, measured): the data here is small, so the price
of a version is per-job and per-task overhead, not bytes. One trivial
Spark job costs ~0.1 CPU-s; one pandas-UDF task costs ~0.2-0.25 CPU-s even
with an empty kernel, because Spark 4.1.2's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
on every task, and on Python 3.11 that re-reads ``pyspark.zip``'s
directory for each of its ~16 zipimporters (cProfile of the worker). The
kernels themselves (parse + schema-validate 105 docs) take ~0.16 s.
Hence: no job that an earlier checkpoint can answer, and no Python task
for a row the JVM can build (the root frontier is a ``range`` literal).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from functools import reduce
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geospatial_data_lake_spark import schemas
from geospatial_data_lake_spark.plans import local_file_path
from geospatial_data_lake_spark.plans.logging_contract import log_event
from geospatial_data_lake_spark.operators.ordinal import with_global_ordinal

try:  # optional dependency — fall back to structural checks
    import jsonschema

    _HAVE_JSONSCHEMA = True
except ImportError:  # pragma: no cover
    _HAVE_JSONSCHEMA = False

STAC_TYPES = ("Catalog", "Collection", "Feature")
# Required keys per STAC type — mirrors the vendored schema tree's
# ``required`` sets (plans/stac_schemas/); used as the fallback check when
# jsonschema is unavailable, and for fast/clear missing-key messages.
_REQUIRED_KEYS = {
    "Catalog": ("type", "stac_version", "id", "description", "links"),
    "Collection": ("type", "stac_version", "id", "description", "license", "extent", "links"),
    "Feature": ("type", "stac_version", "id", "geometry", "properties", "links", "assets"),
}

_DOC_SCHEMA = (
    "url string, ok boolean, error string, type string, "
    "links array<string>, asset_hrefs array<string>, asset_multihashes array<string>"
)


def _parse_no_duplicates(text: str) -> dict:
    """JSON parse that rejects duplicate object keys (ref:
    object_pairs_hook duplicate detection,
    backend/check_stac_metadata/utils.py:154-171). ``json.loads`` silently
    keeps the last duplicate, so a pairs hook is required — F10."""

    def hook(pairs):
        keys = [k for k, _ in pairs]
        if len(keys) != len(set(keys)):
            dupes = sorted({k for k in keys if keys.count(k) > 1})
            raise ValueError(f"duplicate keys: {dupes}")
        return dict(pairs)

    return json.loads(text, object_pairs_hook=hook)


def _validate_structure(doc: dict) -> str | None:
    """Full STAC draft-7 schema validation (vendored tree + RFC 3339
    format checks — see plans/stac_schema.py); returns an error message
    or None. Falls back to required-key checks without jsonschema."""
    doc_type = doc.get("type")
    if doc_type not in STAC_TYPES:
        return f"unknown STAC type: {doc_type!r}"
    missing = [k for k in _REQUIRED_KEYS[doc_type] if k not in doc]
    if missing:
        return f"missing required keys: {missing}"
    if _HAVE_JSONSCHEMA:
        from geospatial_data_lake_spark.plans.stac_schema import (
            validate_stac_document,
        )

        error = validate_stac_document(doc)
        if error is not None:
            return f"schema violation: {error}"
    return None


def _resolve_href(parent_url: str, href: str) -> str:
    """ref: backend/check_stac_metadata/utils.py:43-48 — relative hrefs are
    resolved against the parent document's directory."""
    if urlparse(href).scheme:
        return href
    return f"{os.path.dirname(parent_url)}/{href}"


def _read_docs_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: fetch+parse+validate each frontier URL.

    IO happens executor-side (ref streams from S3; here file:// paths).
    Output is columnar: link hrefs and asset (href, multihash) arrays.
    """
    for pdf in batches:
        rows = []
        for url in pdf["url"]:
            try:
                with open(local_file_path(url), encoding="utf-8") as fh:
                    text = fh.read()
            except OSError as exc:
                rows.append((url, False, f"staging access: {exc}", None, [], [], []))
                continue
            try:
                doc = _parse_no_duplicates(text)
            except ValueError as exc:
                rows.append((url, False, f"JSON parse: {exc}", None, [], [], []))
                continue
            error = _validate_structure(doc)
            if error is not None:
                rows.append((url, False, error, doc.get("type"), [], [], []))
                continue
            links = [
                _resolve_href(url, link["href"])
                for link in doc.get("links", [])
                if link.get("rel") == "child" and link.get("href")
            ]
            asset_hrefs, asset_hashes = [], []
            for asset in (doc.get("assets") or {}).values():
                if asset.get("href"):
                    asset_hrefs.append(_resolve_href(url, asset["href"]))
                    asset_hashes.append(asset.get("file:checksum"))
            rows.append((url, True, None, doc.get("type"), links, asset_hrefs, asset_hashes))
        yield pd.DataFrame(
            rows,
            columns=[
                "url",
                "ok",
                "error",
                "type",
                "links",
                "asset_hrefs",
                "asset_multihashes",
            ],
        )


def traverse_and_validate(
    spark: SparkSession,
    dataset_id: str,
    version_id: str,
    root_url: str,
    max_hops: int = 32,
) -> tuple[DataFrame, DataFrame]:
    """Walk the STAC graph from ``root_url``; return (assets, validation).

    assets: schemas.ASSETS rows — METADATA rows for every traversed doc,
    DATA rows for every distinct referenced asset (indexes 0..n-1 per type
    in url order, W1; ref enumerate at utils.py:84-97).
    validation: schemas.VALIDATION_RESULTS rows (JSON parse / schema /
    duplicate-asset checks; ref utils.py:69-74,104-116 and USAGE.md:76-79).
    """
    log_event(
        __name__,
        {
            "task": "check_stac_metadata",
            "dataset_id": dataset_id,
            "version_id": version_id,
            "metadata_url": root_url,
        },
    )
    # a JVM-local one-row relation: createDataFrame([...]) would run
    # Python-worker tasks just to build it
    frontier = spark.range(1, numPartitions=1).select(F.lit(root_url).alias("url"))
    doc_frames: list[DataFrame] = []
    for _ in range(max_hops):
        docs = frontier.mapInPandas(_read_docs_kernel, schema=_DOC_SCHEMA).localCheckpoint(
            eager=True
        )
        doc_frames.append(docs)
        links = docs.select(F.explode("links").alias("url"))
        if links.isEmpty():
            break
        # every doc read so far (this hop included) is the visited set
        visited = reduce(DataFrame.union, [d.select("url") for d in doc_frames])
        frontier = links.distinct().join(visited, "url", "left_anti")

    # urls are unique across hops: each frontier is distinct and excludes
    # every earlier hop's docs
    all_docs = reduce(DataFrame.union, doc_frames)
    ok_docs = all_docs.filter(F.col("ok"))

    key = [F.lit(dataset_id).alias("dataset_id"), F.lit(version_id).alias("version_id")]

    # METADATA manifest rows: every successfully parsed doc.
    metadata_rows = ok_docs.select(
        F.lit("METADATA").alias("item_type"),
        "url",
        F.lit(None).cast("string").alias("multihash"),
        F.lit(False).alias("conflict"),
    )
    # DATA manifest rows: exploded asset references, one row per url. The
    # same per-url aggregate runs U4: an asset url referenced twice must
    # carry an identical multihash (USAGE.md:76-79); a conflicting
    # reference fails validation and its row keeps the smallest multihash.
    data_rows = (
        ok_docs.select(
            F.explode(F.arrays_zip("asset_hrefs", "asset_multihashes")).alias("a")
        )
        .groupBy(F.col("a.asset_hrefs").alias("url"))
        .agg(
            F.min("a.asset_multihashes").alias("multihash"),
            (F.min("a.asset_multihashes") != F.max("a.asset_multihashes")).alias(
                "conflict"
            ),
        )
        .select(F.lit("DATA").alias("item_type"), "url", "multihash", "conflict")
    )
    # Contiguous 0-based index per item_type in url order: one
    # range-partition + offsets pass for both types (W1 at scale), not a
    # one-task window.
    indexed = with_global_ordinal(
        metadata_rows.unionByName(data_rows), "url", "item_index", group_col="item_type"
    )
    assets = indexed.select(*key, "item_type", "item_index", "url", "multihash")

    dup_failures = indexed.filter(F.col("conflict")).select(
        *key,
        F.lit(schemas.CHECK_DUPLICATE_ASSET).alias("check"),
        F.col("url"),
        F.lit(schemas.RESULT_FAILED).alias("result"),
        F.create_map(
            F.lit("message"), F.lit("conflicting multihash for duplicate asset reference")
        ).alias("details"),
    )

    doc_validation = all_docs.select(
        *key,
        F.when(F.col("error").startswith("JSON parse"), schemas.CHECK_JSON_PARSE)
        .otherwise(schemas.CHECK_JSON_SCHEMA)
        .alias("check"),
        "url",
        F.when(F.col("ok"), schemas.RESULT_PASSED)
        .otherwise(schemas.RESULT_FAILED)
        .alias("result"),
        F.when(
            F.col("error").isNotNull(), F.create_map(F.lit("message"), F.col("error"))
        ).alias("details"),
    )
    validation = doc_validation.unionByName(dup_failures)
    return assets, validation
