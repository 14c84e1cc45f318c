"""Dataset catalog CRUD — SURVEY.md §3.2.

The reference's catalog is DynamoDB items behind Lambda handlers
(`backend/datasets/entrypoint.py:15-24`); here it is a parquet table with
the same request semantics:

- create: title-regex validation (`backend/datasets/create.py:11-29`),
  title-uniqueness precondition (`create.py:33`), mint id, insert.
- get by id (point read, `get.py:42-44`), by title (`get.py:73`),
  list (`list.py:14-16`).
- update: title uniqueness re-checked (`update.py:30`).
- delete: guarded by the no-versions anti-join (`delete.py:38-45`).

Storage: immutable parquet snapshots + a generation-numbered commit log.
Each mutation writes a full new snapshot directory, then *commits* it by
creating ``commits/<generation>`` with ``O_CREAT|O_EXCL`` — the POSIX
atomic-create is the single commit point, so exactly one writer can own
each generation (the filesystem analog of DynamoDB's conditional put,
ref: backend/datasets/create.py:33-39). A writer that loses the race
re-reads the new state, re-checks its preconditions (title uniqueness,
existence), and retries — optimistic concurrency, serializable commits.
Readers take the highest committed generation; a writer crash before its
commit-create leaves only an unreferenced snapshot directory (garbage,
never corruption). On a production lake this module is the one place
that would swap to Delta/Iceberg ``MERGE INTO`` — the call sites keep
the same shape. Catalog tables are small (metadata, not data), so
snapshot rewrite is O(catalog), never O(data).

Concurrency guarantee: linearizable catalog mutations for any number of
concurrent writers sharing the catalog root on a POSIX filesystem (or
any store with atomic create-if-absent). Tested by the races in
tests/test_pipeline_e2e.py::should_serialize_concurrent_catalog_writers.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geospatial_data_lake_spark import schemas
from geospatial_data_lake_spark.plans.logging_contract import log_error, log_event

TITLE_PATTERN = re.compile(r"^[A-Za-z0-9_-]+$")  # ref: backend/datasets/create.py:11-12


class ConflictError(Exception):
    pass


class NotFoundError(Exception):
    pass


class ValidationError(Exception):
    pass


class CommitConflict(Exception):
    """Another writer committed the generation we targeted; retry."""


_GC_KEEP = 5  # trailing generations kept for in-flight readers
# optimistic-commit attempts before a writer gives up, shared by every
# commit-log table (catalog, VersionedTable, ManifestTable)
_MAX_RETRIES = 64


class _Table:
    """One catalog table: immutable snapshots + an append-only commit log.

    ``commits/<gen>`` (zero-padded) names the snapshot directory holding
    that generation's full state. Creating the commit file with
    ``O_CREAT|O_EXCL`` is the atomic commit point."""

    def __init__(self, root: str, keep: int = _GC_KEEP):
        self.root = root
        self.keep = keep
        self.commits_dir = os.path.join(root, "commits")
        self.snaps_dir = os.path.join(root, "snapshots")

    def current(self) -> tuple[int, str | None]:
        """(generation, snapshot path) of the latest commit; (0, None)
        when the table has never been written."""
        try:
            names = sorted(os.listdir(self.commits_dir))
        except FileNotFoundError:
            return 0, None
        if not names:
            return 0, None
        latest = names[-1]
        with open(os.path.join(self.commits_dir, latest)) as fh:
            snap = fh.read().strip()
        return int(latest), os.path.join(self.snaps_dir, snap)

    def at(self, gen: int) -> str:
        """Snapshot path of a specific committed generation (time travel).

        Raises NotFoundError when the generation was never committed or
        has been garbage-collected past the retention window."""
        try:
            with open(os.path.join(self.commits_dir, f"{gen:020d}")) as fh:
                snap = fh.read().strip()
        except FileNotFoundError:
            raise NotFoundError(
                f"generation {gen} not available (never committed, or GC'd "
                f"past the {self.keep}-generation retention window)"
            ) from None
        return os.path.join(self.snaps_dir, snap)

    def generations(self) -> list[int]:
        """Committed generations still inside the retention window,
        ascending."""
        try:
            return sorted(int(n) for n in os.listdir(self.commits_dir))
        except FileNotFoundError:
            return []

    def commit(self, df: DataFrame, expected_gen: int) -> None:
        """Write a snapshot and commit it as ``expected_gen + 1``.

        Raises CommitConflict if any other writer got there first — the
        caller must re-read state, re-check preconditions, and retry."""
        os.makedirs(self.commits_dir, exist_ok=True)
        os.makedirs(self.snaps_dir, exist_ok=True)
        gen = expected_gen + 1
        snap_name = f"{gen:020d}-{uuid.uuid4().hex}"
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.snaps_dir, snap_name)
        )
        try:
            fd = os.open(
                os.path.join(self.commits_dir, f"{gen:020d}"),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
        except FileExistsError:
            # lost the race — our snapshot is unreferenced garbage
            shutil.rmtree(
                os.path.join(self.snaps_dir, snap_name), ignore_errors=True
            )
            raise CommitConflict(gen)
        with os.fdopen(fd, "w") as fh:
            fh.write(snap_name)
        self._gc(gen)

    def _gc(self, committed_gen: int) -> None:
        """Drop snapshots (and their commit entries) far enough behind the
        new head that no reader can still be planning against them."""
        try:
            names = sorted(os.listdir(self.commits_dir))
        except FileNotFoundError:
            return
        for name in names:
            if int(name) <= committed_gen - self.keep:
                path = os.path.join(self.commits_dir, name)
                try:
                    with open(path) as fh:
                        snap = fh.read().strip()
                    shutil.rmtree(
                        os.path.join(self.snaps_dir, snap), ignore_errors=True
                    )
                    os.unlink(path)
                except OSError:
                    pass  # concurrent GC; harmless


class DatasetCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._datasets = _Table(os.path.join(root, "datasets"))
        self._versions = _Table(os.path.join(root, "dataset_versions"))

    # -- storage helpers ---------------------------------------------------
    @staticmethod
    def _retry(attempt):
        """The catalog's optimistic loop: ``attempt()`` re-reads the
        table, re-checks its preconditions and commits; a lost commit
        race (CommitConflict) runs it again against the winner's state."""
        for _ in range(_MAX_RETRIES):
            try:
                return attempt()
            except CommitConflict:
                continue
        raise ConflictError("catalog contention: retries exhausted")

    def _read(self, table: _Table, schema) -> tuple[int, DataFrame]:
        gen, snap = table.current()
        if snap is None:
            # zero partitions: nothing to run, in the JVM or in Python
            return gen, self.spark.createDataFrame(
                self.spark.sparkContext.emptyRDD(), schema
            )
        return gen, self.spark.read.schema(schema).parquet(snap)

    def _row(self, schema, *values) -> DataFrame:
        """One row with exactly ``schema``'s types and nullability, built as
        a JVM-local relation: ``createDataFrame([...])`` would run
        Python-worker tasks to materialize it. Timestamps are passed
        timezone-aware: a literal of one is converted by its instant, so
        the stored value is naive UTC under the session's UTC zone,
        whatever the Python process's zone."""
        return self.spark.range(1, numPartitions=1).select(
            *[F.lit(v).alias(f.name) for f, v in zip(schema.fields, values)]
        )

    def datasets(self) -> DataFrame:
        return self._read(self._datasets, schemas.DATASETS)[1]

    def versions(self) -> DataFrame:
        return self._read(self._versions, schemas.DATASET_VERSIONS)[1]

    # -- time travel -------------------------------------------------------
    def datasets_at(self, generation: int) -> DataFrame:
        """``VERSION AS OF`` over the datasets table: the exact catalog
        state any in-flight round of a pipeline planned against, within
        the retention window (the Delta time-travel analog the reference's
        immutable dataset-version model implies,
        ref backend/dataset_versions/create.py:58-75)."""
        return self.spark.read.schema(schemas.DATASETS).parquet(
            self._datasets.at(generation)
        )

    def catalog_history(self) -> list[int]:
        """Committed dataset-table generations inside retention,
        ascending — the DESCRIBE HISTORY analog."""
        return self._datasets.generations()

    # -- CRUD --------------------------------------------------------------
    def create_dataset(self, title: str) -> dict:
        """ref: backend/datasets/create.py:18-39 (validate -> uniqueness ->
        conditional put -> consistent re-read). The uniqueness check and
        the insert are serialized by the commit protocol: if another
        writer lands first, the precondition re-runs against their state."""
        log_event(__name__, {"task": "datasets_create", "title": title})
        if not TITLE_PATTERN.match(title or ""):
            log_error(__name__, f"title does not match {TITLE_PATTERN.pattern!r}")
            raise ValidationError(f"title does not match {TITLE_PATTERN.pattern!r}")

        def attempt() -> str:
            gen, existing = self._read(self._datasets, schemas.DATASETS)
            # uniqueness probe = semi-join-shaped filter + limit-1 (A3/O2)
            if not existing.filter(F.col("title") == title).isEmpty():
                log_error(__name__, f"dataset with title {title!r} already exists")
                raise ConflictError(f"dataset with title {title!r} already exists")
            now = datetime.now(timezone.utc)
            dataset_id = uuid.uuid4().hex
            row = self._row(schemas.DATASETS, dataset_id, title, now, now)
            self._datasets.commit(existing.unionByName(row), gen)
            return dataset_id

        return self.get_dataset(dataset_id=self._retry(attempt))

    def get_dataset(
        self, dataset_id: str | None = None, title: str | None = None
    ) -> dict:
        """ref: backend/datasets/get.py:42-81 (point get / GSI title query)."""
        df = self.datasets()
        if dataset_id is not None:
            df = df.filter(F.col("dataset_id") == dataset_id)
        elif title is not None:
            df = df.filter(F.col("title") == title)
        else:
            raise ValidationError("must provide dataset_id or title")
        rows = df.limit(1).collect()
        if not rows:
            raise NotFoundError(f"dataset not found: {dataset_id or title}")
        return rows[0].asDict()

    def list_datasets(self) -> DataFrame:
        """ref: backend/datasets/list.py:14-16."""
        return self.datasets().orderBy("title")

    def update_dataset(self, dataset_id: str, title: str) -> dict:
        """ref: backend/datasets/update.py (title re-validated + unique)."""
        if not TITLE_PATTERN.match(title or ""):
            raise ValidationError(f"title does not match {TITLE_PATTERN.pattern!r}")

        def attempt() -> None:
            gen, existing = self._read(self._datasets, schemas.DATASETS)
            if existing.filter(F.col("dataset_id") == dataset_id).isEmpty():
                raise NotFoundError(f"dataset not found: {dataset_id}")
            if not existing.filter(
                (F.col("title") == title) & (F.col("dataset_id") != dataset_id)
            ).isEmpty():
                raise ConflictError(f"dataset with title {title!r} already exists")
            updated = existing.withColumn(
                "title",
                F.when(F.col("dataset_id") == dataset_id, F.lit(title)).otherwise(
                    F.col("title")
                ),
            ).withColumn(
                "updated_at",
                F.when(
                    F.col("dataset_id") == dataset_id,
                    F.lit(datetime.now(timezone.utc)),
                ).otherwise(F.col("updated_at")),
            )
            self._datasets.commit(updated, gen)

        self._retry(attempt)
        return self.get_dataset(dataset_id=dataset_id)

    def delete_dataset(self, dataset_id: str) -> None:
        """ref: backend/datasets/delete.py:38-45 — delete only when no
        versions exist (anti-join guard, J5)."""

        def attempt() -> None:
            gen, existing = self._read(self._datasets, schemas.DATASETS)
            if existing.filter(F.col("dataset_id") == dataset_id).isEmpty():
                raise NotFoundError(f"dataset not found: {dataset_id}")
            has_versions = not (
                self.versions().filter(F.col("dataset_id") == dataset_id).isEmpty()
            )
            if has_versions:
                raise ConflictError(f"dataset {dataset_id} still has versions")
            self._datasets.commit(
                existing.filter(F.col("dataset_id") != dataset_id), gen
            )

        self._retry(attempt)

    def register_version(
        self, dataset_id: str, version_id: str, metadata_url: str, status: str
    ) -> None:

        def attempt() -> None:
            gen, existing = self._read(self._versions, schemas.DATASET_VERSIONS)
            row = self._row(
                schemas.DATASET_VERSIONS,
                dataset_id,
                version_id,
                datetime.now(timezone.utc),
                metadata_url,
                status,
            )
            self._versions.commit(existing.unionByName(row), gen)

        self._retry(attempt)


_MINT_LOCK = __import__("threading").Lock()
_MINT_STATE: list = [None, 0]  # [last millisecond prefix, last entropy int]


def mint_version_id(now: datetime | None = None, entropy: str | None = None) -> str:
    """Sortable, human-readable version id with ULID monotonicity
    semantics (ref ULID formatting, backend/datasets_model.py:13-23).

    The fixed-width millisecond timestamp prefix keeps ids
    lexicographically time-ordered across ticks; within one millisecond
    the 64-bit hex entropy suffix increments monotonically
    (process-local, lock-serialized), so ids minted in the same tick
    still sort in mint order and never collide — the ULID
    monotonic-random rule.  A fresh tick draws new entropy with the top
    bit clear (2^63 of increment headroom, mirroring ULID's cleared
    high bits).  Passing explicit ``entropy`` bypasses the monotonic
    state (the deterministic oracle/test path)."""
    now = now or datetime.now(timezone.utc)
    prefix = f"{now.strftime('%Y-%m-%dT%H-%M-%S-%f')[:-3]}Z"
    if entropy is None:
        with _MINT_LOCK:
            last_prefix, last_ent = _MINT_STATE
            if prefix == last_prefix:
                ent = last_ent + 1
                if ent >= 1 << 64:
                    raise OverflowError("version-id entropy overflow within one ms")
            else:
                ent = int.from_bytes(os.urandom(8), "big") >> 1
            _MINT_STATE[0], _MINT_STATE[1] = prefix, ent
            entropy = f"{ent:016x}"
    return f"{prefix}_{entropy}"
