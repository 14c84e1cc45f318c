"""Versioned parquet table — MERGE + time travel on the commit log.

The reference maps dataset versions to lake-format semantics (ref:
backend/dataset_versions/create.py:58-75: a version row pins an
immutable snapshot of imported assets).  Delta Lake is not installable
in this container, so this module provides the SEMANTIC contract —
serializable multi-writer MERGE, ``VERSION AS OF`` reads, commit
history — on plain parquet, reusing the catalog's generation commit
log (plans/catalog.py): every mutation writes an immutable snapshot
directory and commits it by creating ``commits/<gen>`` with
``O_CREAT|O_EXCL``; the POSIX atomic-create is the single commit
point, so racing writers serialize and losers retry against the
winner's state (optimistic concurrency).

Scale honesty — where this is and is not the 100 TB path:

- Each commit writes a FULL table snapshot: O(table) per mutation, the
  right trade only for catalog/metadata tables (small, hot,
  contended).  The fact-table upsert at scale is the partition-scoped
  rewrite in ``sinks.upsert_parquet`` (O(touched partitions)), or a
  real lake format.
- On a deployment with Delta/Iceberg, ``upsert`` binds to ``MERGE
  INTO``, ``read(version=...)`` to ``VERSION AS OF``, ``history()`` to
  ``DESCRIBE HISTORY``; call sites keep the same shape and this module
  disappears.  The protocol tests (tests/test_versioned.py) are the
  contract any such backend must keep.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from geospatial_data_lake_spark.plans.catalog import (
    _MAX_RETRIES,
    CommitConflict,
    NotFoundError,
    _Table,
)


class VersionedTable:
    """A keyed parquet table with serializable upserts and time travel.

    ``keep_versions`` bounds the time-travel window: older snapshots
    (and their commit entries) are garbage-collected as new commits
    land, so storage is O(keep_versions * table), never unbounded.
    """

    def __init__(self, spark: SparkSession, root: str, keep_versions: int = 16):
        self._spark = spark
        self._table = _Table(root, keep=keep_versions)

    # -- reads -------------------------------------------------------------
    def read(self, version: int | None = None) -> DataFrame:
        """Latest committed state, or ``VERSION AS OF version``.

        Raises NotFoundError for a version outside the retention window
        or a table that has never been committed."""
        if version is None:
            gen, snap = self._table.current()
            if snap is None:
                raise NotFoundError(f"table never committed: {self._table.root}")
            return self._spark.read.parquet(snap)
        return self._spark.read.parquet(self._table.at(version))

    def current_version(self) -> int:
        """Latest committed generation (0 = never committed)."""
        return self._table.current()[0]

    def history(self) -> list[dict]:
        """Commit history inside the retention window, newest first —
        the ``DESCRIBE HISTORY`` analog.  ``committed_at`` is the commit
        file's mtime (the atomic-create instant)."""
        out = []
        for gen in reversed(self._table.generations()):
            commit_path = os.path.join(self._table.commits_dir, f"{gen:020d}")
            try:
                ts = datetime.fromtimestamp(
                    os.stat(commit_path).st_mtime, tz=timezone.utc
                )
            except OSError:
                continue  # concurrent GC
            out.append({"version": gen, "committed_at": ts})
        return out

    # -- writes ------------------------------------------------------------
    def overwrite(self, df: DataFrame) -> int:
        """Replace the table contents as a new version; returns it."""
        return self._commit_with_retry(lambda _existing: df)

    def upsert(self, updates: DataFrame, key_cols: list[str]) -> int:
        """MERGE: rows in ``updates`` win on key collision, unmatched
        existing rows survive.  Key matching is NULL-SAFE (a plain key
        join never matches NULL = NULL, so an old NULL-keyed row would
        survive alongside its replacement).  Serializable under
        concurrent writers — a loser of the commit race re-reads the
        winner's state and re-merges, so no update is ever lost.
        Returns the committed version."""
        from geospatial_data_lake_spark.sources.merge_common import (
            null_safe_key_join,
        )

        updates = updates.dropDuplicates(key_cols)

        def merge(existing: DataFrame | None) -> DataFrame:
            if existing is None:
                return updates
            survivors = null_safe_key_join(
                existing, updates, key_cols, "left_anti"
            )
            # allowMissingColumns: schema-evolving upserts widen the
            # update side; surviving rows take NULL for new columns
            return survivors.unionByName(updates, allowMissingColumns=True)

        return self._commit_with_retry(merge)

    def delete_where(self, condition) -> int:
        """MERGE ... WHEN MATCHED THEN DELETE analog: drop rows matching
        ``condition`` (a Column predicate) as a new version.  SQL DELETE
        removes only rows where the predicate is TRUE — rows where it
        evaluates to NULL survive (merge_common.keep_unmatched)."""
        from geospatial_data_lake_spark.sources.merge_common import (
            keep_unmatched,
        )

        def drop(existing: DataFrame | None) -> DataFrame:
            if existing is None:
                raise NotFoundError(f"table never committed: {self._table.root}")
            return keep_unmatched(existing, condition)

        return self._commit_with_retry(drop)

    def _commit_with_retry(self, transform) -> int:
        """Optimistic-concurrency loop: read head -> transform -> commit;
        on CommitConflict re-read the new head and re-apply.  The
        transform must be a pure function of the existing state (it is
        re-run on every retry against fresher data)."""
        for _ in range(_MAX_RETRIES):
            gen, snap = self._table.current()
            existing = self._spark.read.parquet(snap) if snap else None
            try:
                self._table.commit(transform(existing), gen)
            except CommitConflict:
                continue
            return gen + 1
        raise CommitConflict("versioned-table contention: retries exhausted")
