"""SparkSession factory tuned for the engine.

Local mode is one JVM with N executor threads; on a real cluster the same
configs apply per executor.  Every knob here is chosen for the 100 TB design
point and merely *scaled down* for local testing:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast) — at
  1000 executors AQE is what turns a 200k-partition shuffle plan into a
  right-sized one.
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  cluster this should be ~2-3x total cores (AQE coalesces down).
- Session timezone pinned to UTC so timestamp semantics are reproducible
  against the DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled: every pandas UDF / toPandas crosses the JVM<->Python
  boundary in columnar batches, not row-at-a-time pickles.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of the host's physical memory, capped at 48g and at least 1g:
    a fixed 48g overcommits a small host (the JVM heap would outgrow RAM
    long before it collects). 48g where the host size cannot be read."""
    try:
        with open(meminfo) as fh:
            total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "48g"
    return f"{max(1, min(48, total_kb // (2 << 20)))}g"


def get_spark(
    app_name: str = "geospatial-data-lake-spark",
    cpus: int | str | None = None,
    driver_memory: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or return) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` env var controls local parallelism (driver
    contract); defaults to 32. Driver memory: ``driver_memory``, else
    ``SPARK_DRIVER_MEMORY``, else ``default_driver_memory()``.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    driver_memory = (
        driver_memory or os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def free_local_checkpoint(df) -> None:
    """Release the block-manager storage behind an EAGER
    ``localCheckpoint`` result (a ``LogicalRDD`` plan node wrapping the
    persisted internal RDD).  Only call this once nothing will read the
    DataFrame again — a local checkpoint is lineage-truncating, so its
    blocks cannot be recomputed.  Loops that supersede a checkpoint per
    iteration (iterative contraction, chunked unions) must free
    explicitly: Spark's ContextCleaner only reclaims checkpoint RDDs on
    a JVM GC after every reference drops, which is far too lazy for a
    long session.  Best-effort: any failure (plan-shape drift across
    Spark versions, a stopped context) degrades to keeping the blocks —
    exactly the no-hygiene behavior.  The unpersist is BLOCKING for
    deterministic accounting (a driver RPC — microseconds against a
    multi-second iteration)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)
    except Exception:
        pass
