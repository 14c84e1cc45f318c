"""Distributed multihash checksum verification — SURVEY.md M4.

The reference fans out one AWS Batch array task per file, batched 10,000 at
a time by a Step-Functions loop (`backend/content_iterator/task.py:40-75`,
`backend/check_files_checksums/utils.py:83-106`). In Spark that entire
subsystem dissolves: ONE distributed job over the DATA manifest verifies
every file; partitioning replaces manual batching, task retries replace
Batch retry codes.

Hash-function dispatch mirrors the reference's multihash FUNCS lookup
(`backend/check_files_checksums/utils.py:98-99`): the first multihash
byte is the function code, resolved to a hashlib constructor per row, so
a manifest may freely mix sha1 / sha2-256 / sha2-512 / sha3-* digests.
An unregistered code fails the row with a distinct "unsupported hash
function" detail rather than a misleading mismatch.

Physical path: a mapInPandas kernel streams each file in 1 MiB chunks
through hashlib executor-side — bounded memory per task, mirroring the
reference's 1 KiB streamed read (`utils.py:26,102`) at a chunk size tuned
for object storage. (Spark's builtin ``sha2(content, 256)`` would cover
only one algorithm and require whole-file binaryFile rows; the streamed
kernel handles any size and any registered function.)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geospatial_data_lake_spark import schemas
from geospatial_data_lake_spark.plans import local_file_path
from geospatial_data_lake_spark.plans.logging_contract import log_error, log_event

CHUNK_SIZE = 1 << 20  # 1 MiB streamed-read granularity

# multihash function-code registry — the subset of the public multihash
# table (ref: backend/check_files_checksums/utils.py:9,98-99 `FUNCS`)
# that hashlib provides everywhere. Keys are the first multihash byte.
FUNCS: dict[int, str] = {
    0x11: "sha1",
    0x12: "sha256",
    0x13: "sha512",
    0x14: "sha3_512",
    0x15: "sha3_384",
    0x16: "sha3_256",
    0x17: "sha3_224",
}

# Kept for callers that build sha2-256 multihashes (fn 0x12, len 0x20).
SHA2_256_CODE = "1220"


def make_multihash(data: bytes, algo: str = "sha256") -> str:
    """Hex multihash of ``data``: fn-code byte + digest-length byte +
    digest (single-byte varints only — true for every FUNCS entry)."""
    code = {v: k for k, v in FUNCS.items()}[algo]
    digest = hashlib.new(algo, data).digest()
    return f"{code:02x}{len(digest):02x}{digest.hex()}"


def _streaming_digest_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-partition streamed digest with per-row function dispatch:
    constant memory regardless of file size (A5/X4 — the custom-aggregate
    path)."""
    for pdf in batches:
        digests, errors = [], []
        for url, multihash in zip(pdf["url"], pdf["multihash"]):
            algo = None
            if isinstance(multihash, str) and len(multihash) >= 4:
                try:
                    algo = FUNCS.get(int(multihash[:2], 16))
                except ValueError:
                    algo = None
            if algo is None:
                digests.append(None)
                code = multihash[:2] if isinstance(multihash, str) else "??"
                errors.append(f"unsupported hash function 0x{code}")
                continue
            try:
                digest = hashlib.new(algo)
                with open(local_file_path(url), "rb") as fh:
                    while True:
                        chunk = fh.read(CHUNK_SIZE)
                        if not chunk:
                            break
                        digest.update(chunk)
                digests.append(digest.hexdigest())
                errors.append(None)
            except OSError as exc:
                digests.append(None)
                errors.append(str(exc))
        yield pd.DataFrame(
            {
                "dataset_id": pdf["dataset_id"],
                "version_id": pdf["version_id"],
                "url": pdf["url"],
                "multihash": pdf["multihash"],
                "actual_digest": digests,
                "read_error": errors,
            }
        )


def verify_checksums(assets: DataFrame) -> DataFrame:
    """Verify every DATA asset's multihash; returns VALIDATION_RESULTS rows.

    Input: schemas.ASSETS rows. Expected digest = multihash minus the
    2-byte fn/length prefix; the hash function itself is dispatched per
    row from the fn code (ref utils.py:98-105).
    """
    log_event(__name__, {"task": "check_files_checksums"})
    data = assets.filter(F.col("item_type") == "DATA").select(
        "dataset_id", "version_id", "url", "multihash"
    )
    digested = data.mapInPandas(
        _streaming_digest_kernel,
        schema=(
            "dataset_id string, version_id string, url string,"
            " multihash string, actual_digest string, read_error string"
        ),
    )

    expected = F.when(
        F.col("multihash").isNotNull() & (F.length("multihash") > 4),
        F.expr("substring(multihash, 5)"),
    )
    passed = (
        F.col("read_error").isNull()
        & F.col("multihash").isNotNull()
        & (expected == F.col("actual_digest"))
    )
    return digested.select(
        "dataset_id",
        "version_id",
        F.lit(schemas.CHECK_CHECKSUM).alias("check"),
        "url",
        F.when(passed, schemas.RESULT_PASSED)
        .otherwise(schemas.RESULT_FAILED)
        .alias("result"),
        F.when(
            ~passed,
            F.create_map(
                F.lit("message"),
                F.coalesce(
                    F.col("read_error"),
                    F.concat(
                        F.lit("checksum mismatch: expected "),
                        F.coalesce(expected, F.lit("<none>")),
                        F.lit(" got "),
                        F.coalesce(F.col("actual_digest"), F.lit("<none>")),
                    ),
                ),
            ),
        ).alias("details"),
    )


def validation_summary(validation: DataFrame) -> bool:
    """Per-version success = no Failed rows (ref: limit-1 existence probe,
    backend/validation_summary/task.py:33-40). isEmpty() short-circuits at
    the first failed row — the declarative analog of count(limit=1)."""
    ok = validation.filter(F.col("result") == schemas.RESULT_FAILED).isEmpty()
    if not ok:
        log_error(__name__, "some checks failed")  # ref validation_summary outcome
    return ok
