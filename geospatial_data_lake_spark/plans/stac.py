"""STAC metadata validation — SURVEY.md §3.1 / M3.

The reference walks a STAC link graph recursively in one Lambda
(`backend/check_stac_metadata/utils.py:66-130`): per document it JSON-
parses (rejecting duplicate keys, utils.py:154-171), JSON-Schema-validates
by type (stac_validators.py:34-74), accumulates asset + metadata manifest
rows (utils.py:84-97), and follows ``links[].href`` breadth-first with
cycle suppression (utils.py:126-130), holding ``traversed_urls`` in memory.

Spark re-architecture: a driver-side BFS loop (no recursive CTE in Spark)
in which each hop reads the *whole frontier* as one distributed job — the
mapInPandas kernel below fetches, parses and validates every frontier URL
executor-side and returns one compact row per doc (url, ok, error, type,
child links, asset hrefs and multihashes), which the hop ``collect``s.
Everything else is plain Python over URL strings on the driver, as in the
reference's Lambda: the visited set, the next frontier (child links not
yet read), the duplicate-asset check (U4) and the per-type ``item_index``
(0..n-1 in url order, W1). ``assets`` and ``validation`` are then built
once as Arrow-backed JVM-local relations with the exact catalog schemas.

Memory bound: the driver holds O(docs + asset references) strings — one
kernel row per doc read and one (href, multihash) pair per asset
reference — the same state the reference's Lambda held. Past
``spark.sql.execution.arrow.localRelationThreshold`` (48 MiB by default)
Spark ships the output frames to the executors as parallelized Arrow
batches instead of embedding them in the plan.

Scale: a frontier of N docs costs one job regardless of N; hop count is
graph depth (STAC trees are shallow: catalog -> collection -> item). The
frontier frame gets as many partitions as adaptive execution would give a
shuffled frontier of the same size:
``min(shuffle.partitions, ceil(url_bytes / coalescePartitions.minPartitionSize))``,
at least 1 — one kernel task per hop for trees of up to ~10^4 docs, and
the kernel still parallelises when the frontier is large. A traversal
that stops at ``max_hops`` with URLs left unread fails validation for
each of them, so an incomplete version is never copied.

Cost model (local mode, measured): the data here is small, so the price
of a version is per-job and per-task overhead, not bytes. One trivial
Spark job costs ~0.1 CPU-s; one pandas-UDF task costs ~0.2-0.25 CPU-s even
with an empty kernel, because Spark 4.1.2's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
on every task, and on Python 3.11 that re-reads ``pyspark.zip``'s
directory for each of its ~16 zipimporters (cProfile of the worker). The
kernels themselves (parse + schema-validate 105 docs) take ~0.16 s.
Hence one job and one kernel task per hop and nothing else: the frontier
and output frames are Arrow-backed local relations, which no Spark job or
Python-worker task builds. Fewer, simpler plans also keep the generated-
code working set inside Spark's codegen cache, so a warm version compiles
almost no new classes.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterator
from urllib.parse import urlparse

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from geospatial_data_lake_spark import schemas
from geospatial_data_lake_spark.plans import local_file_path
from geospatial_data_lake_spark.plans.logging_contract import log_event

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


def _local_frame(spark: SparkSession, schema: StructType, rows: list[tuple]) -> DataFrame:
    """``rows`` as an Arrow-backed local relation with exactly ``schema``."""
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table)


def _read_frontier(spark: SparkSession, urls: list[str]) -> list:
    """Read one hop's frontier as one job; return the kernel's doc rows.

    The frontier is partitioned the way adaptive execution coalesces a
    shuffle of the same bytes, so it takes one task until it is large."""
    conf = spark.conf
    java_utils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    min_size = java_utils.byteStringAsBytes(
        conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1MB")
    )
    url_bytes = sum(len(u.encode()) for u in urls)
    shuffle_partitions = int(conf.get("spark.sql.shuffle.partitions"))
    n = max(1, min(shuffle_partitions, math.ceil(url_bytes / min_size)))
    frontier = _local_frame(spark, StructType().add("url", "string"), [(u,) for u in urls])
    # bounded: one compact row per doc of the hop (module docstring)
    return frontier.coalesce(n).mapInPandas(_read_docs_kernel, schema=_DOC_SCHEMA).collect()


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
    duplicate-asset checks; ref utils.py:69-74,104-116 and USAGE.md:76-79),
    plus a failed schema row for every URL left unread at ``max_hops``.
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
    docs = {}  # url -> kernel row of every doc read so far: the visited set
    frontier = [root_url]
    for _ in range(max_hops):
        hop = _read_frontier(spark, frontier)
        docs.update((row.url, row) for row in hop)
        frontier = sorted({url for row in hop for url in row.links} - docs.keys())
        if not frontier:
            break

    def failed(check, url, message):
        return (dataset_id, version_id, check, url, schemas.RESULT_FAILED, {"message": message})

    validation = [
        (
            dataset_id,
            version_id,
            schemas.CHECK_JSON_PARSE
            if (row.error or "").startswith("JSON parse")
            else schemas.CHECK_JSON_SCHEMA,
            row.url,
            schemas.RESULT_PASSED if row.ok else schemas.RESULT_FAILED,
            None if row.error is None else {"message": row.error},
        )
        for row in docs.values()
    ]
    validation += [
        failed(
            schemas.CHECK_JSON_SCHEMA, url, f"not read: traversal stopped at max_hops={max_hops}"
        )
        for url in frontier
    ]

    ok_docs = sorted(url for url, row in docs.items() if row.ok)
    references: dict[str, set] = {}  # asset url -> its non-null multihashes
    for url in ok_docs:
        row = docs[url]
        for href, multihash in zip(row.asset_hrefs, row.asset_multihashes):
            references.setdefault(href, set())
            if multihash is not None:
                references[href].add(multihash)
    assets = [
        (dataset_id, version_id, "METADATA", i, url, None) for i, url in enumerate(ok_docs)
    ]
    # U4: an asset url referenced twice must carry an identical multihash
    # (USAGE.md:76-79); a conflicting reference fails validation and its
    # row keeps the smallest multihash, a null one yields to a value
    for i, url in enumerate(sorted(references)):
        multihashes = references[url]
        assets.append(
            (dataset_id, version_id, "DATA", i, url, min(multihashes, default=None))
        )
        if len(multihashes) > 1:
            validation.append(
                failed(
                    schemas.CHECK_DUPLICATE_ASSET,
                    url,
                    "conflicting multihash for duplicate asset reference",
                )
            )
    return (
        _local_frame(spark, schemas.ASSETS, assets),
        _local_frame(spark, schemas.VALIDATION_RESULTS, validation),
    )
