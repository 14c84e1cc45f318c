"""Import-status view — SURVEY.md §3.3.

The reference fuses three remote lookups per GET (Step Functions
describe_execution, validation-failure GSI query, per-job S3 Batch
describe_job — `backend/import_status/get.py:39-94`) plus a
skip-propagation rule (failed validation forces upload statuses to
``Skipped``, get.py:79-85).

Here the whole thing is ONE aggregate over a tagged union: the executions
rows, the ``Failed`` validation rows and the copy-job rows are projected
onto one schema (the keys, a ``kind`` tag — ``e``/``v``/``j`` — and the
fields each kind contributes), unioned, coalesced to one partition and
grouped by (dataset_id, version_id).  Conditional aggregates pick each
source's fields back out of the group, and when/otherwise chains derive
the outcome columns.  A single partition already satisfies the
aggregate's clustering requirement, so the executed plan has no Exchange,
no broadcast and no join: a lookup is one Spark job with one task
(measured on the golden-path version; ``tests/test_pipeline_e2e.py`` pins
it).  Left-outer joins of the three sources cost 4-6 jobs and two
shuffles for the same row, and without the coalesce the aggregate still
needs one shuffle and a second job.

One partition is the right size because a lookup's inputs are one
version's metadata — its executions row, its ``Failed`` validation rows
and its copy-job rows (two) — as in the reference's per-execution GET,
so the single task reads tens of rows, never the assets.  A bulk status
over every version also runs as one task; it stays cheap while the
catalog's metadata rows fit one task comfortably."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geospatial_data_lake_spark import schemas

_KEYS = ["dataset_id", "version_id"]

# the union schema: each kind fills its own fields and leaves the rest NULL.
# Projections and aggregates are SQL strings, one py4j call each instead of
# one per Column operator: building a lookup then costs the driver about a
# third less CPU, a visible share of a lookup that runs one small task.
_FIELDS = {
    "execution_status": "CAST(NULL AS STRING)",
    "job_type": "CAST(NULL AS STRING)",
    "status": "CAST(NULL AS STRING)",
    "error": "CAST(NULL AS STRUCT<check: STRING, url: STRING, details: STRING>)",
}


def _tagged(df: DataFrame, kind: str, **fields: str) -> DataFrame:
    """``df`` projected onto the union schema under tag ``kind``."""
    exprs = {**_FIELDS, **fields}
    return df.selectExpr(*_KEYS, f"'{kind}' AS kind", *[f"{e} AS {n}" for n, e in exprs.items()])


def status_view(
    executions: DataFrame,
    validation_results: DataFrame,
    copy_jobs: DataFrame,
) -> DataFrame:
    """At most one row per (dataset_id, version_id) of ``executions`` with
    validation + upload status and the sorted failure report.

    executions: schemas.DATASET_VERSIONS rows (execution_status per ref
    get.py:105). copy_jobs: schemas.COPY_JOBS rows. Versions without an
    executions row produce no row.
    """
    failed = validation_results.filter(F.col("result") == schemas.RESULT_FAILED)
    rows = (
        _tagged(executions, "e", execution_status="execution_status")
        # the map field is JSON-encoded because maps are not orderable
        .unionByName(_tagged(failed, "v", error="struct(check, url, to_json(details) AS details)"))
        .unionByName(_tagged(copy_jobs, "j", job_type="job_type", status="status"))
    )
    per_version = (
        rows.coalesce(1)
        .groupBy(*_KEYS)
        .agg(
            F.expr("bool_or(kind = 'e') AS in_executions"),
            F.expr("first(execution_status, true) AS execution_status"),
            F.expr("count_if(kind = 'v') AS n_failures"),
            # deterministic error report (A7): collect_list skips the NULL
            # error of every row that is not a failure
            F.expr("array_sort(collect_list(error)) AS validation_errors"),
            F.expr("first(CASE WHEN job_type = 'metadata' THEN status END, true) AS metadata"),
            F.expr("first(CASE WHEN job_type = 'asset' THEN status END, true) AS asset"),
        )
        .filter("in_executions")
    )

    # validation outcome state machine — ref get.py:97-107
    validation_outcome = (
        F.when(F.col("n_failures") > 0, "Failed")
        .when(F.col("execution_status") == "SUCCEEDED", "Passed")
        .when(F.col("execution_status") == "RUNNING", "Pending")
        .otherwise("Failed")
    )

    # skip-propagation — ref get.py:79-85: failed validation forces upload
    # statuses to Skipped; missing job rows mean Pending
    def upload_status(col: str):
        return (
            F.when(F.col("validation_status") == "Failed", "Skipped")
            .when(F.col(col).isNotNull(), F.initcap(F.col(col)))
            .otherwise("Pending")
        )

    return per_version.withColumn("validation_status", validation_outcome).select(
        *_KEYS,
        F.initcap(F.lower(F.col("execution_status"))).alias("execution"),
        "validation_status",
        "n_failures",
        upload_status("metadata").alias("metadata_upload_status"),
        upload_status("asset").alias("asset_upload_status"),
        "validation_errors",
    )
