"""Manifest-based versioned fact table — O(touched partitions) MERGE
with snapshot isolation, time travel, and file-level stats pruning.

`sources/versioned.py` gives lake-format semantics to CATALOG tables by
rewriting the full snapshot per commit — O(table), wrong for facts.
This module is the FACT-table counterpart, shaped like Iceberg/Delta's
actual mechanism (ref analog: the dataset-version model pins immutable
snapshots, backend/dataset_versions/create.py:58-75; the per-file
min/max stats mirror the reference's GSI index selection,
backend/datasets_model.py:27-40):

- Data lives in immutable parquet directories under ``data/``; a
  MANIFEST (one JSON document per version) lists which files constitute
  each partition of that version, plus per-file min/max column stats.
- A commit writes only NEW data files for the partitions it touches —
  as ONE ``partitionBy`` Spark job per commit, never a per-partition
  driver loop — then publishes a new manifest that carries forward
  every untouched partition's existing files BY REFERENCE.  Commit cost
  is O(touched partitions + manifest) I/O and O(1) Spark jobs.
- Partition routing uses a canonical derived key column (hex-encoded
  JSON of the cast-to-string partition values), so NULL and boolean
  partition values round-trip exactly; the original partition columns
  stay in the data files, so reads never parse hive paths.
- Publishing = creating ``commits/<gen>`` with ``O_CREAT|O_EXCL`` (the
  same atomic-create commit point as plans/catalog.py): exactly one
  writer owns each generation.  Every write operation commits through
  ``_transact``, the one optimistic loop: losers re-read the winner's
  manifest, re-merge their delta, and retry — serializable multi-writer
  MERGE.
- Readers resolve a manifest once and plan against its immutable file
  list: snapshot isolation for free, ``read(version=...)`` is time
  travel, and ``read(where=...)`` skips files whose min/max stats
  cannot overlap the predicate (data skipping, the Iceberg manifest-
  pruning analog).  Retention GC removes data files only when no
  retained manifest references them.

At 100 TB this is the design that actually works: a billion-row upsert
batch touching 50 of 100k partitions rewrites ~0.05% of the data in one
shuffle-free write job and one small JSON document, and a point read
over stats-pruned files touches one partition's files instead of the
table.  On a real deployment the manifest moves into Iceberg/Delta
metadata; every call site keeps its shape.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geospatial_data_lake_spark.layout import zorder_key_from_bounds
from geospatial_data_lake_spark.session import free_local_checkpoint
from geospatial_data_lake_spark.sources import fsio

from geospatial_data_lake_spark.plans.catalog import (
    _MAX_RETRIES,
    CommitConflict,
    NotFoundError,
    ValidationError,
)
from geospatial_data_lake_spark.sources.merge_common import (
    keep_unmatched,
    null_safe_key_join,
)

# the head a metadata-only commit builds on when the table has none
_EMPTY_MANIFEST = {"partitions": {}, "stats": {}, "schema_ddl": "", "txns": {}}

# Derived partition-routing column: hex(UTF8(JSON of cast-string values)).
# Hex keeps directory names safe (no hive escaping, no NULL sentinel) and
# decodes bijectively back to the partition tuple on the driver.
_PK_COL = "__mt_pk"
_SRC_COL = "__mt_src_file"
# Row-position identity for POSITIONAL deletes (Iceberg v2 pos-delete /
# Delta deletion-vector analog): a physical row is addressed by its data
# file's DATA-ROOT-RELATIVE path + its ordinal within that file.
# NOT the basename: Spark's dynamic-partition writer resets the
# part-NNNNN counter per output directory, so one job's bucket/routing
# subdirs (e.g. optimize's __mt_bkt=N leaves) share basenames like
# `part-00000-<uuid>-c000.parquet` — a basename address would anti-join
# rows in sibling buckets (silent over-delete).  NOT the absolute path:
# the manifest is root-free by design so tables relocate wholesale.
# The relative path equals the manifest's own file entry (both are
# <batch>/<__mt_pk=HEX>/[__mt_bkt=N/]part-*.parquet), which IS unique.
_POSF_COL = "__mt_posf"  # root-relative _metadata.file_path, at scan
_POSI_COL = "__mt_posi"  # _metadata.row_index, materialized at scan
# Address-format stamp written on every positional-delete entry.  An
# entry WITHOUT it predates root-relative addressing (basename era):
# its recorded addresses can no longer match the current scan
# expression, so applying it would silently RESURRECT deleted rows —
# readers raise instead (see ``_effective_df``).
_POS_ADDR_FORMAT = "relpath"

# Content-mode CDC emits net occurrences through a two-level chunked
# explode; no in-memory array at either level exceeds
# max(_OCC_CHUNK, ceil(multiplicity / _OCC_CHUNK)) elements.
_OCC_CHUNK = 100_000

# changes_per_commit() eagerly localCheckpoints its accumulated union
# every this-many commits: the optimizer never sees more than one
# chunk of per-commit sub-plans plus one LogicalRDD, so a
# thousand-commit replay costs O(span) data work (unavoidable — it IS
# the history) but O(chunk) plan work per step, never an O(span) DAG.
_PER_COMMIT_CHUNK = 32


def _has_map_type(dt) -> bool:
    """True when ``dt`` is or contains a MapType (maps are not
    groupable/joinable/orderable in Spark at any nesting depth)."""
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_map_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_has_map_type(f.dataType) for f in dt.fields)
    return False


def _map_canon_cols(sides: list[DataFrame], cols: list[str]) -> set[str]:
    """The subset of ``cols`` that must be CANONICALIZED before any
    grouping/joining/ordering on the full row (top-level map columns —
    sorted-entry JSON makes them orderable; see ``_canon_expr``).  A
    map nested BELOW the top level has no canonical ordering Spark can
    construct declaratively, so that raises a clear error instead of
    Spark's opaque grouping AnalysisException."""
    canon: set[str] = set()
    for c in cols:
        for side in sides:
            dt = side.schema[c].dataType
            if not _has_map_type(dt):
                continue
            if (
                isinstance(dt, T.MapType)
                and not _has_map_type(dt.keyType)
                and not _has_map_type(dt.valueType)
            ):
                canon.add(c)
                continue
            raise ValidationError(
                f"full-row operation cannot handle column {c!r}: its "
                f"type ({dt.simpleString()}) nests a map below the top "
                "level, and nested maps have no canonical ordering to "
                "group or join on.  Restructure the column (top-level "
                "map, or struct/array of orderable types) or operate "
                "on a projection."
            )
    return canon


def _canon_expr(c: str):
    """Canonical, orderable rendering of a top-level map column:
    sorted-entry JSON — two maps with equal content in different
    insertion order render identically."""
    return F.to_json(
        F.map_from_entries(F.array_sort(F.map_entries(F.col(c))))
    )

# Column types whose min/max stats are recorded (atomic, orderable, and
# JSON-round-trippable without precision or timezone ambiguity).
# Timestamps are recorded as UTC epoch MICROS (unix_micros — an exact
# int64, tz-free), never as formatted strings: JSON has no timestamp
# type and string round-trips reintroduce the precision/zone ambiguity
# this list exists to exclude.
_NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
)
_STATS_TYPES = _NUMERIC_TYPES + (
    T.StringType,
    T.TimestampType,
    T.TimestampNTZType,
    T.DateType,
)


def _minmax_exprs(c: str, dtype) -> tuple:
    """(min, max) aggregation expressions for a stats column —
    timestamps fold to epoch micros so the manifest stays pure JSON.
    TIMESTAMP (instant) folds directly; TIMESTAMP_NTZ (wall time) is
    read AS UTC wall time — session-independent, and the exact reading
    ``_safe_lt`` gives a naive Python bound on the prune side."""
    if isinstance(dtype, T.TimestampType):
        return (
            F.unix_micros(F.min(c)).alias(f"__mn_{c}"),
            F.unix_micros(F.max(c)).alias(f"__mx_{c}"),
        )
    if isinstance(dtype, T.TimestampNTZType):
        return (
            F.unix_micros(F.to_utc_timestamp(F.min(c), "UTC")).alias(
                f"__mn_{c}"
            ),
            F.unix_micros(F.to_utc_timestamp(F.max(c), "UTC")).alias(
                f"__mx_{c}"
            ),
        )
    if isinstance(dtype, T.DateType):
        # epoch DAYS (unix_date) — same JSON-int discipline as micros
        return (
            F.unix_date(F.min(c)).alias(f"__mn_{c}"),
            F.unix_date(F.max(c)).alias(f"__mx_{c}"),
        )
    return (F.min(c).alias(f"__mn_{c}"), F.max(c).alias(f"__mx_{c}"))

# Per-file bloom sizing: 2048 bits (32 longs in the manifest JSON), 3
# xxhash64 probes — <1% false-positive up to ~200 distinct keys/file and
# degrades gracefully (saturated blooms stop pruning, never lie).  A
# production deployment sizes bits from the commit's rows-per-file; the
# exactness backstop is always the re-applied predicate on the scan.
_BLOOM_BITS = 2048
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 3


class ManifestTable:
    """A partitioned, keyed parquet table versioned through per-commit
    file manifests.

    ``partition_by`` is fixed per table (like a real lake table's
    partition spec); partition values are kept as ordinary columns in
    the data files, so no hive-path parsing is involved.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        partition_by: list[str],
        keep_versions: int = 16,
        bloom_cols: list[str] | None = None,
        partition_transforms: dict | None = None,
        stats_cols: list[str] | None = None,
    ):
        self._spark = spark
        self.root = root
        self.key_cols = list(key_cols)
        self.partition_by = list(partition_by)
        # HIDDEN PARTITIONING (the Iceberg partition-transform contract):
        # {derived_col: ("day", src)} | {..: ("bucket", src, n)} |
        # {..: ("truncate", src, w)}.  Writers derive the column
        # automatically; readers filtering on the SOURCE column get
        # partition/stats pruning on the derived one for free (monotone
        # transforms map ranges, bucket maps equality).  Users never
        # name the derived column in data or predicates.
        self.partition_transforms = dict(partition_transforms or {})
        for tcol in self.partition_transforms:
            if tcol not in self.partition_by:
                raise ValueError(
                    f"transform column {tcol!r} must be in partition_by"
                )
        self.keep = keep_versions
        # columns to record per-file bloom filters for (opt-in, like
        # Delta's per-column bloom index): point reads on a
        # high-cardinality key whose min/max spans every file (the
        # append-heavy unclustered case) prune on membership instead
        self.bloom_cols = list(bloom_cols or [])
        # extra columns to record per-file min/max stats for (opt-in,
        # the Delta dataSkippingNumIndexedCols analog): key and
        # partition columns are always tracked; add value columns here
        # when reads filter on them or metadata-only MIN/MAX (vs20)
        # must answer for them
        self.stats_cols = list(stats_cols or [])
        self._commits = os.path.join(root, "commits")
        self._manifests = os.path.join(root, "manifests")
        self._data = os.path.join(root, "data")
        self._refs = os.path.join(root, "refs")
        # Retention GC runs after every commit by default.  Staged (WAP /
        # branch) tables share the PARENT's data directory, so their GC
        # must never delete data files — a staged chain longer than
        # ``keep`` would otherwise expire its seeded base manifest and
        # reclaim base-snapshot files the parent's live manifests still
        # reference.  begin_staged() flips this off.
        self._gc_enabled = True
        # per-handle verdict cache for stampless pos-delete entries
        # (address-era inspection, see _effective_df's addr guard):
        # {delete-file relpath: addresses are root-relative}
        self._stampless_pos_ok: dict[str, bool] = {}

    # -- manifest plumbing -------------------------------------------------
    def _current(self) -> tuple[int, dict | None]:
        try:
            names = sorted(fsio.listdir(self._commits))
        except FileNotFoundError:
            return 0, None
        if not names:
            return 0, None
        gen = int(names[-1])
        manifest = self._load_manifest(gen)
        # spec-evolution sync: after evolve_partition_spec, the ACTIVE
        # transforms live in the manifest (a handle constructed with the
        # original transforms must write/prune under the evolved spec)
        if manifest and manifest.get("specs"):
            tr = manifest["specs"].get(str(manifest.get("current_spec", "0")))
            if tr is not None:
                self.partition_transforms = {
                    k: tuple(v) for k, v in tr.items()
                }
            # column evolution: the ACTIVE partition-column list also
            # lives in the manifest (a handle constructed with the
            # original columns must route new writes under the evolved
            # key space)
            cols = (manifest.get("spec_columns") or {}).get(
                str(manifest.get("current_spec", "0"))
            )
            if cols is not None:
                self.partition_by = list(cols)
        return gen, manifest

    def _load_manifest(self, gen: int) -> dict:
        try:
            name = fsio.read_text(
                os.path.join(self._commits, f"{gen:020d}")
            ).strip()
            return json.loads(
                fsio.read_text(os.path.join(self._manifests, name))
            )
        except FileNotFoundError:
            raise NotFoundError(
                f"version {gen} not available (never committed, or GC'd past "
                f"the {self.keep}-version retention window)"
            ) from None

    def _publish(self, manifest: dict, expected_gen: int) -> None:
        """Write the manifest document (uniquely named by generation +
        fresh uuid — collision-free, not content-addressed; the commit
        file's content is the authoritative binding) and commit it as
        expected_gen+1 via the ``put_if_absent`` CAS —
        exactly one racer's commit-pointer create succeeds, the losers
        get CommitConflict and retry against the winner's state (the
        DynamoDB conditional-put analog; see fsio for the object-store
        mapping)."""
        fsio.mkdirs(self._commits)
        fsio.mkdirs(self._manifests)
        gen = expected_gen + 1
        name = f"{gen:020d}-{uuid.uuid4().hex}.json"
        fsio.write_text(
            os.path.join(self._manifests, name),
            json.dumps(manifest, sort_keys=True),
        )
        try:
            fsio.put_if_absent(
                os.path.join(self._commits, f"{gen:020d}"), name
            )
        except FileExistsError:
            fsio.unlink(os.path.join(self._manifests, name), missing_ok=True)
            raise CommitConflict(gen)
        self._gc(gen)

    def _gc(self, committed_gen: int) -> None:
        """Drop commits past retention; remove data files only when no
        RETAINED manifest still references them (files are shared across
        manifests by design).  Data entries are Spark output DIRECTORIES,
        so removal is a recursive delete."""
        if not self._gc_enabled:
            return
        self._expire_commits(
            lambda n: int(n) <= committed_gen - self.keep
        )

    def expire_snapshots(
        self, older_than_seconds: float, retain_last: int = 1
    ) -> list[int]:
        """AGE-based snapshot expiry — the Iceberg ``expireSnapshots``
        maintenance action, complementing the count-based rolling
        window (``keep_versions``) every commit already applies: drop
        every snapshot whose commit is older than the horizon, always
        retaining the newest ``retain_last`` (>= 1, so the head never
        expires) and — like retention GC — every tagged or branch-base
        snapshot.  Data files are reclaimed only when NO surviving
        manifest references them.  Returns the expired version numbers.

        Ref analog: the reference expires dataset versions by item
        deletion in DynamoDB; here expiry is a metadata sweep plus
        refcounted file reclaim."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        import time as _time

        horizon = _time.time() - older_than_seconds
        try:
            names = sorted(fsio.listdir(self._commits))
        except FileNotFoundError:
            return []
        keep_tail = set(names[-retain_last:])

        def aged_out(n: str) -> bool:
            if n in keep_tail:
                return False
            try:
                return fsio.mtime(os.path.join(self._commits, n)) < horizon
            except OSError:
                return False  # concurrent GC took it; nothing to do

        return self._expire_commits(aged_out)

    def _expire_commits(self, is_expired) -> list[int]:
        """Shared expiry core for retention GC and ``expire_snapshots``:
        ``is_expired(name)`` nominates commit names; tags and branch
        bases always survive, and data directories are removed only
        when no SURVIVING manifest references them."""
        try:
            names = sorted(fsio.listdir(self._commits))
        except FileNotFoundError:
            return []
        # Tags AND branch bases protect their snapshots from retention.
        tagged = set(self.tags().values()) | set(self.branches().values())
        expired = [
            n for n in names if is_expired(n) and int(n) not in tagged
        ]
        if not expired:
            return []
        expired_set = set(expired)
        retained_files: set[str] = set()
        for n in names:
            if n not in expired_set:
                try:
                    m = self._load_manifest(int(n))
                except NotFoundError:
                    continue
                for files in m["partitions"].values():
                    retained_files.update(files)
                for entries in m.get("deletes", {}).values():
                    retained_files.update(d["file"] for d in entries)
        # Re-read tags immediately before reclaiming: a tagger may have
        # published a ref between the listing above and now.  This
        # narrows (not closes) the tag-vs-GC TOCTOU — a ref created
        # after THIS read can still lose its manifest; tag()'s
        # post-publish re-validation catches the common interleavings,
        # and the residual window needs a real lock service to close,
        # which a filesystem-only harness deliberately doesn't have.
        tagged |= set(self.tags().values()) | set(self.branches().values())
        for n in expired:
            if int(n) in tagged:  # protected since the first listing
                try:
                    m = self._load_manifest(int(n))
                except NotFoundError:
                    continue
                for files in m["partitions"].values():
                    retained_files.update(files)
                for entries in m.get("deletes", {}).values():
                    retained_files.update(d["file"] for d in entries)
        dropped: list[int] = []
        for n in expired:
            if int(n) in tagged:
                continue
            try:
                m = self._load_manifest(int(n))
                mname = fsio.read_text(
                    os.path.join(self._commits, n)
                ).strip()
                refs = {
                    f for files in m["partitions"].values() for f in files
                }
                refs |= {
                    d["file"]
                    for entries in m.get("deletes", {}).values()
                    for d in entries
                }
                for f in refs - retained_files:
                    fsio.rmtree(
                        os.path.join(self._data, f), ignore_errors=True
                    )
                fsio.unlink(os.path.join(self._commits, n))
                fsio.unlink(os.path.join(self._manifests, mname))
                dropped.append(int(n))
            except (OSError, NotFoundError):
                pass  # concurrent GC; harmless
        return dropped

    def vacuum(self, min_age_seconds: float = 3600.0) -> list[str]:
        """Remove data files referenced by NO retained manifest — the
        leftovers of writers that crashed between writing files and
        publishing (publish-losers clean up after themselves; a killed
        process cannot).  ``min_age_seconds`` protects in-flight
        writers: a file younger than the horizon may belong to a commit
        that has not published yet, so it is skipped (same contract as
        Delta's VACUUM retention check).  Returns removed paths."""
        import time as _time

        referenced: set[str] = set()
        try:
            commit_names = fsio.listdir(self._commits)
        except FileNotFoundError:
            commit_names = []
        for n in commit_names:
            try:
                m = self._load_manifest(int(n))
            except (NotFoundError, ValueError):
                continue
            for files in m["partitions"].values():
                referenced.update(files)
            for entries in m.get("deletes", {}).values():
                referenced.update(d["file"] for d in entries)
        # Live ref chains (named branches, in-flight WAP staging) write
        # into this data directory too — their manifests protect their
        # files just like the parent's do.
        for d in self._ref_chain_dirs():
            referenced |= _chain_refs(d)
        removed: list[str] = []
        horizon = _time.time() - min_age_seconds
        data_prefix = self._data.rstrip("/") + "/"
        for full, file_mtime in fsio.walk_files(self._data):
            rel = full[len(data_prefix):] if full.startswith(data_prefix) else full
            # data files live as <batch>/<partition dir>/<part files>;
            # a file is referenced iff some manifest lists an ancestor
            parts = rel.split("/")[:-1]
            anchored = any(
                "/".join(parts[: i + 1]) in referenced
                for i in range(len(parts))
            )
            if anchored:
                continue
            if file_mtime >= horizon:
                continue
            try:
                fsio.unlink(full)
                removed.append(full)
            except OSError:
                pass
        # sweep now-empty directories bottom-up (local-FS only; object
        # stores have no empty directories)
        fsio.sweep_empty_dirs(self._data)
        return removed

    # -- partition-key codec -----------------------------------------------

    def _pk_expr(self):
        """The derived routing column: every row's partition tuple as
        hex-encoded JSON of the CAST-TO-STRING values.  Using Spark's own
        cast for both routing and the manifest key makes the two agree by
        construction (no str(v)-vs-SQL-cast mismatch for booleans), and
        JSON null keeps NULL partition values addressable."""
        struct = F.struct(
            *[F.col(c).cast("string").alias(c) for c in self.partition_by]
        )
        pk = F.hex(
            F.encode(F.to_json(struct, {"ignoreNullFields": "false"}), "UTF-8")
        )
        # directory names cap at 255 bytes on every mainstream filesystem;
        # fail the commit with a diagnosable error instead of a cryptic
        # FS-level one (partition columns should be short dimension values
        # — hash or truncate anything longer upstream)
        return F.when(F.length(pk) <= F.lit(200), pk).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "partition tuple too long for directory routing "
                        "(>100 UTF-8 bytes): "
                    ),
                    F.to_json(struct),
                )
            )
        )

    @staticmethod
    def _pk_from_hex(hexv: str) -> str:
        """Manifest partition key from a routing-directory hex — ERA-
        EXACT: the hex encodes the JSON doc {col: strval} in the
        partition-column order THE FILE WAS WRITTEN UNDER, so decoding
        it directly (not re-projecting through the handle's current
        ``partition_by``) keeps old-era directories addressable after a
        partition-COLUMN evolution.  The key keeps the column NAMES,
        not just the values: after a same-arity column evolution (e.g.
        ``['region']→['city']``) two era directories can hold the same
        VALUES under different columns, and a values-only key would
        collapse them to one manifest entry — ``_write_partitioned``'s
        one-dir-per-key ``produced`` map would then silently drop one
        era's rewritten file from the commit (data loss).  Same-era
        directories with equal tuples still coincide: ``to_json`` is
        deterministic, so equal docs have equal hexes."""
        doc = json.loads(bytes.fromhex(hexv).decode("utf-8"))
        return json.dumps(doc)

    @staticmethod
    def _src_hex_expr():
        """The routing-directory hex of each row's source file (from
        the ``_SRC_COL`` column ``_effective_df(with_file=True)``
        materializes at scan time) — the era-exact partition identity
        of EXISTING rows.  Rewrite paths must locate existing rows by
        this, never by re-deriving the current partition tuple: after
        a partition-COLUMN evolution the current ``_pk_expr`` maps
        old-era rows to keys the manifest has never held."""
        return F.regexp_extract(
            F.col(_SRC_COL), _PK_COL + "=([0-9A-Fa-f]+)/", 1
        )

    def _pos_file_expr(self):
        """Data-root-relative path of each row's data file, from the
        scan's ``_metadata.file_path`` pseudo-column — the positional-
        delete address (see ``_POSF_COL``).  ``file_path`` is the
        qualified URI Spark's file index resolved (``file:/…`` locally,
        ``s3a://bucket/…`` on object stores); strip the scheme and
        authority, then the resolved data root, leaving exactly the
        manifest's own relative file entry.  The fallback branch (root
        prefix absent — would take an unexpected URI rendering) keeps
        the stripped path; both the writer (``delete_where_pos``) and
        the reader (``_effective_df``) evaluate THIS expression over
        the same root, so addresses stay consistent either way.

        Spark's file index may render the SYMLINK-RESOLVED path
        (``os.path.realpath``) rather than the ``abspath`` the table was
        opened through, so both roots are tested before falling back —
        the fallback records scheme-stripped ABSOLUTE paths, which stay
        self-consistent within one root but break the 'tables relocate
        wholesale' property for pos-delete addresses (a moved table's
        deleted rows would resurface), so it must stay unreachable for
        any URI rendering Spark actually produces."""
        path = F.regexp_replace(
            F.col("_metadata.file_path"),
            r"^[a-zA-Z][a-zA-Z0-9+.\-]*:(//[^/]*)?",
            "",
        )
        roots = {os.path.abspath(self._data), os.path.realpath(self._data)}
        expr = None
        for r in sorted(roots):
            root = r.rstrip("/") + "/"
            clause = (
                path.startswith(root),
                F.substring(path, len(root) + 1, 2147483647),
            )
            expr = (
                F.when(*clause) if expr is None else expr.when(*clause)
            )
        return expr.otherwise(path)

    def _holding_pkeys(self, df: DataFrame) -> set[str]:
        """Manifest partition keys of ``df``'s rows, decoded from each
        row's source-file path (see ``_src_hex_expr``)."""
        return {
            self._pk_from_hex(r.h)
            for r in df.select(self._src_hex_expr().alias("h"))
            .distinct()
            .collect()
            if r.h
        }

    # -- hidden partitioning -------------------------------------------------
    def _transform_expr(self, tcol: str):
        spec = self.partition_transforms[tcol]
        kind, src = spec[0], spec[1]
        if kind == "day":
            # string days: readable values, lexicographic == chronologic,
            # and string stats are recordable/prunable
            return F.date_format(F.col(src), "yyyy-MM-dd")
        if kind == "bucket":
            return F.pmod(F.xxhash64(F.col(src)), int(spec[2])).cast("int")
        if kind == "truncate":
            # integral arithmetic (col - pmod) — a float-division floor
            # loses precision above 2^53 and would disagree with the
            # read-side exact Python floor-division mapping
            w = int(spec[2])
            return (F.col(src) - F.pmod(F.col(src), F.lit(w))).cast("long")
        raise ValueError(f"unknown partition transform {kind!r}")

    def _with_partition_transforms(self, df: DataFrame) -> DataFrame:
        """Derive missing transform columns on a write batch — users
        never supply them (deriving is the whole point; a user-supplied
        value could disagree with the transform and break pruning)."""
        for tcol in self.partition_transforms:
            # unconditionally re-derive: a user-supplied value computed
            # differently upstream would land rows in partitions the
            # read-side predicate mapping then wrongly prunes
            df = df.withColumn(tcol, self._transform_expr(tcol))
        return df

    @staticmethod
    def _day_of(v):
        """Day string of a bound, or None when it cannot be derived
        consistently with the write-side session-timezone
        ``date_format`` (tz-aware datetimes, non-canonical strings) —
        None skips the mapping: weaker pruning, never wrong results."""
        if hasattr(v, "strftime"):
            if getattr(v, "tzinfo", None) is not None:
                return None  # write side derives in SESSION tz
            return v.strftime("%Y-%m-%d")
        day = str(v)[:10]  # 'yyyy-MM-dd HH:mm:ss' -> 'yyyy-MM-dd'
        import re as _re

        return day if _re.fullmatch(r"\d{4}-\d{2}-\d{2}", day) else None

    def _spec_registry(self, manifest: dict | None) -> dict[str, dict]:
        """{spec_id: transforms} for every partition spec this table has
        ever written under.  A table that never evolved has the single
        implicit spec "0" (the constructor's transforms).

        A manifest WITHOUT a registry predates every evolution, so all
        its files carry the original spec — but on an evolved table the
        handle's active transforms are the NEW spec, so a time-travel
        read at such a version must NOT map predicates under them (it
        would prune old-spec files wrongly).  The head's registry
        records what spec "0" was; consult it first."""
        if manifest and manifest.get("specs"):
            return {
                sid: {k: tuple(v) for k, v in tr.items()}
                for sid, tr in manifest["specs"].items()
            }
        head = self._current()[1]
        if head and head.get("specs"):
            tr0 = head["specs"].get("0")
            if tr0 is not None:
                return {"0": {k: tuple(v) for k, v in tr0.items()}}
        return {"0": dict(self.partition_transforms)}

    def _map_transform_predicates(
        self,
        where: dict | None,
        manifest: dict | None = None,
        transforms: dict | None = None,
    ) -> dict | None:
        """Widen a ``where`` spec with derived-column bounds implied by
        source-column predicates — used for FILE PRUNING ONLY (the row
        filter stays the original predicate), and every mapping is
        exact-or-absent: a bound that cannot be derived consistently
        with the write-side expression is skipped (weaker pruning,
        never missing rows).  Bucket hashes are computed by Spark over
        a literal CAST TO THE COLUMN'S RECORDED TYPE (xxhash64 is
        type-sensitive; the _bloom_probes discipline), guarded so an
        incompatible literal skips pruning instead of failing the
        read.

        ``transforms`` selects the partition spec to map under (default:
        the table's active spec) — spec evolution prunes each file under
        the spec it was WRITTEN with, so the same source predicate maps
        separately per era (e.g. bucket[8] for old files, bucket[16]
        for new)."""
        if transforms is None:
            transforms = self.partition_transforms
        if not where or not transforms:
            return where
        out = dict(where)
        for tcol, spec in transforms.items():
            if tcol in out:
                continue
            kind, src = spec[0], spec[1]
            if src not in where:
                continue
            sv = where[src]
            if kind == "day":
                if isinstance(sv, tuple):
                    lo, hi = sv
                    dlo = self._day_of(lo) if lo is not None else None
                    dhi = self._day_of(hi) if hi is not None else None
                    if (lo is not None and dlo is None) or (
                        hi is not None and dhi is None
                    ):
                        continue  # underivable bound: skip, stay exact
                    out[tcol] = (dlo, dhi)
                elif isinstance(sv, list):
                    ds = [self._day_of(v) for v in sv if v is not None]
                    if len(ds) == len(sv) and all(
                        d is not None for d in ds
                    ):
                        out[tcol] = ds
                elif sv is not None:
                    d = self._day_of(sv)
                    if d is not None:
                        out[tcol] = d
            elif kind == "truncate":
                w = int(spec[2])
                try:
                    if isinstance(sv, tuple):
                        lo, hi = sv
                        out[tcol] = (
                            lo - lo % w if lo is not None else None,
                            hi - hi % w if hi is not None else None,
                        )
                    elif isinstance(sv, list):
                        if all(v is not None for v in sv):
                            out[tcol] = [v - v % w for v in sv]
                    elif sv is not None:
                        out[tcol] = sv - sv % w
                except TypeError:
                    continue  # non-integral bound: skip pruning
            elif (
                kind == "bucket"
                and not isinstance(sv, tuple)
                and sv is not None
                and (not isinstance(sv, list) or (sv and None not in sv))
                and manifest is not None
            ):
                n = int(spec[2])
                values = sv if isinstance(sv, list) else [sv]
                try:
                    schema = T.StructType.fromDDL(manifest["schema_ddl"])
                    types = {f.name: f.dataType for f in schema.fields}
                    probe_df = self._spark.createDataFrame(
                        [(v,) for v in values],
                        T.StructType([T.StructField(src, types[src])]),
                    )
                    buckets = [
                        int(r.b)
                        for r in probe_df.select(
                            F.pmod(F.xxhash64(F.col(src)), n)
                            .cast("int")
                            .alias("b")
                        ).collect()
                    ]
                    out[tcol] = (
                        buckets if isinstance(sv, list) else buckets[0]
                    )
                except (TypeError, ValueError, KeyError):
                    continue  # untypable literal: skip pruning
        return out

    # -- single-job batch write + stats --------------------------------------
    def _require_partition_columns(self, batch: DataFrame) -> None:
        """Fail fast when a write batch omits a partition DATA column
        (e.g. one added by partition-column evolution) — the routing
        expression would otherwise fail analysis deep inside the write.
        Transform columns derive automatically and are exempt."""
        missing = [
            c
            for c in self.partition_by
            if c not in batch.columns and c not in self.partition_transforms
        ]
        if missing:
            raise ValueError(
                f"write batch lacks partition column(s) {missing}: "
                f"after a partition-column evolution every batch must "
                f"carry the new data column(s) (transforms derive "
                f"automatically)"
            )

    def _write_partitioned(
        self, df: DataFrame, batch_dir: str, pk_expr=None
    ) -> dict[str, str]:
        """ONE Spark write job: route ``df`` by the canonical partition
        key into ``data/<batch_dir>/`` and return {pkey: rel_dir} for
        every produced partition directory.  ``partitionBy`` strips only
        the derived routing column; the real partition columns stay in
        the data files, so readers never parse paths.

        ``pk_expr`` overrides the routing key (default: the current
        spec's partition tuple) — equality-delete key files route by
        the HOLDING file's era-exact hex so old-era partitions stay
        addressable after a partition-column evolution."""
        if pk_expr is None:
            self._require_partition_columns(df)
        out = os.path.join(self._data, batch_dir)
        (
            df.withColumn(
                _PK_COL, self._pk_expr() if pk_expr is None else pk_expr
            )
            .write.partitionBy(_PK_COL)
            .mode("overwrite")
            .parquet(out)
        )
        produced: dict[str, str] = {}
        prefix = _PK_COL + "="
        for d in fsio.listdir(out):
            if d.startswith(prefix):
                produced[self._pk_from_hex(d[len(prefix):])] = os.path.join(
                    batch_dir, d
                )
        return produced

    def _delete_rows_by_hex(self, batch_dir: str) -> dict[str, int]:
        """Per-routing-hex row counts of a just-written DELETE batch
        (key tuples or positional addresses) — read back from the tiny
        produced files, O(recorded entries).  Recorded on the delete
        entry as ``rows`` so ``delete_files_meta`` answers record
        counts scan-free (the operational compact-now signal)."""
        out = os.path.join(self._data, batch_dir)
        return {
            r["h"]: r["n"]
            for r in self._spark.read.parquet(out)
            .groupBy(
                F.regexp_extract(
                    F.col("_metadata.file_path"),
                    _PK_COL + "=([0-9A-Fa-f]+)/",
                    1,
                ).alias("h")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def _stats_columns(self, schema: T.StructType) -> list[str]:
        wanted = (
            set(self.key_cols) | set(self.partition_by) | set(self.stats_cols)
        )
        return [
            f.name
            for f in schema.fields
            if f.name in wanted and isinstance(f.dataType, _STATS_TYPES)
        ]

    def _collect_stats_for_batch(
        self, batch_dir: str, produced: dict[str, str]
    ) -> dict[str, dict[str, list]]:
        """Stats for a just-written batch, computed by scanning the
        produced files — strictly cheaper than re-evaluating the commit's
        input plan (an upsert's input includes the survivor anti-join)."""
        if not produced:  # empty batch: nothing was written
            return {}
        out = os.path.join(self._data, batch_dir)
        df = self._spark.read.option("mergeSchema", "true").parquet(out)
        # Group by the DISCOVERED routing directory (path-based partition
        # discovery surfaces _PK_COL), never by re-deriving the current
        # spec's _pk_expr: a rewrite batch routed era-exact (delete key
        # files, cross-era upserts) holds old-era directories the current
        # expression maps to DIFFERENT keys — re-deriving would leave
        # those produced files without a stats entry and fold their rows
        # into current-era entries.  Keying by directory matches
        # ``produced``'s keys by construction (same hex, same decoder).
        data = df.drop(_PK_COL)
        proj, aggs, parse = self._meta_aggs(data.schema)
        rows = (
            df.withColumn(_PK_COL, F.col(_PK_COL).cast("string"))
            .select(_PK_COL, *data.columns, *proj)
            .groupBy(_PK_COL)
            .agg(*aggs)
            .collect()
        )
        return {self._pk_from_hex(r[_PK_COL]): parse(r) for r in rows}

    def _meta_aggs(
        self, schema: T.StructType
    ) -> tuple[list, list, "object"]:
        """The shared per-file metadata aggregation: (projection columns
        for bloom hash positions, aggregate expressions, row-parser).
        Every stats entry carries the reserved keys ``__rows`` (file
        row count — metadata-only COUNT(*) and commit accounting) and,
        per configured bloom column, ``__bloom:<col>`` (the
        ``_BLOOM_WORDS``-long bitset).  Blooms build from 3 xxhash64
        probes per value aggregated with bit_or — all JVM expressions,
        one pass with the min/max stats."""
        cols = self._stats_columns(schema)
        bcols = [
            c
            for c in self.bloom_cols
            if any(f.name == c for f in schema.fields)
        ]
        proj = []
        for c in bcols:
            for s in range(1, _BLOOM_K + 1):
                proj.append(
                    F.expr(
                        f"pmod(xxhash64(`{c}`, {s}), {_BLOOM_BITS})"
                    ).alias(f"__h_{c}_{s}")
                )
        dtypes = {f.name: f.dataType for f in schema.fields}
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs.extend(_minmax_exprs(c, dtypes[c]))
            aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}")
            )
        for c in bcols:
            for w in range(_BLOOM_WORDS):
                cases = " | ".join(
                    f"(CASE WHEN __h_{c}_{s} DIV 64 = {w} "
                    f"THEN shiftleft(1L, CAST(__h_{c}_{s} % 64 AS INT)) "
                    f"ELSE 0L END)"
                    for s in range(1, _BLOOM_K + 1)
                )
                aggs.append(F.expr(f"bit_or({cases})").alias(f"__bf_{c}_{w}"))

        def parse(r) -> dict[str, list]:
            entry: dict[str, list] = {
                c: [r[f"__mn_{c}"], r[f"__mx_{c}"], r[f"__nn_{c}"]]
                for c in cols
            }
            entry["__rows"] = [r["__rows"]]
            for c in bcols:
                entry[f"__bloom:{c}"] = [
                    r[f"__bf_{c}_{w}"] or 0 for w in range(_BLOOM_WORDS)
                ]
            return entry

        return proj, aggs, parse

    def _carry_stats(
        self,
        manifest: dict | None,
        new_partitions: dict[str, list[str]],
        produced: dict[str, str],
        batch_stats: dict[str, dict[str, list]],
    ) -> dict[str, dict[str, list]]:
        """Per-file stats for the new manifest: carried-forward files
        keep their recorded stats, produced files take the batch's.
        Files from pre-stats manifests simply have no entry (readers
        treat missing stats as non-prunable)."""
        prior = dict(manifest.get("stats", {})) if manifest else {}
        live = {f for files in new_partitions.values() for f in files}
        stats = {f: s for f, s in prior.items() if f in live}
        for pkey, rel in produced.items():
            if pkey in batch_stats:
                stats[rel] = batch_stats[pkey]
        return stats

    def _merged_schema_ddl(self, batch_schema: T.StructType, manifest: dict | None) -> str:
        """Union of the prior table schema and the batch schema — a
        narrower batch must not shrink the recorded table schema after a
        schema-evolving commit.  A batch that CHANGES an existing
        column's type is rejected before anything is written: mixing
        physical types across data files would poison every later
        mergeSchema read (supported evolution = adding columns, the
        lake-format baseline)."""
        batch_fields = {
            f.name: f.dataType.simpleString() for f in batch_schema.fields
        }
        ordered: list[tuple[str, str]] = []
        if manifest and manifest.get("schema_ddl"):
            for f in T.StructType.fromDDL(manifest["schema_ddl"]).fields:
                recorded = f.dataType.simpleString()
                incoming = batch_fields.pop(f.name, recorded)
                if incoming != recorded:
                    raise ValueError(
                        f"incompatible type change for column {f.name!r}: "
                        f"table has {recorded}, batch has {incoming}; "
                        "schema evolution supports adding columns only"
                    )
                ordered.append((f.name, recorded))
        ordered.extend(batch_fields.items())
        return ", ".join(f"{n} {t}" for n, t in ordered)

    # -- reads -------------------------------------------------------------
    def _bloom_probes(
        self, manifest: dict, where: dict
    ) -> dict[str, list[list[tuple[int, int]]]]:
        """(word index, bit mask) probe positions for every equality or
        IN-list spec whose column has at least one recorded bloom —
        computed by Spark itself (one tiny local job over literal
        rows), so the probe hash agrees with the write-side xxhash64 by
        construction for every column type.  Returns ONE probe set per
        requested value, index-aligned with the spec's value list (a
        scalar spec is a one-set list)."""
        stats = manifest.get("stats", {})
        bloomed = {
            k.split(":", 1)[1]
            for entry in stats.values()
            for k in entry
            if k.startswith("__bloom:")
        }
        wanted = {
            col: (spec if isinstance(spec, list) else [spec])
            for col, spec in where.items()
            if col in bloomed
            and spec is not None
            and not isinstance(spec, tuple)
            and (not isinstance(spec, list) or spec)
        }
        if not wanted:
            return {}
        schema = T.StructType.fromDDL(manifest["schema_ddl"])
        types = {f.name: f.dataType for f in schema.fields}
        out: dict[str, list[list[tuple[int, int]]]] = {}
        for col, values in wanted.items():
            try:
                probe_df = self._spark.createDataFrame(
                    [(v,) for v in values],
                    T.StructType([T.StructField(col, types[col])]),
                )
                exprs = [
                    F.expr(
                        f"pmod(xxhash64(`{col}`, {s}), {_BLOOM_BITS})"
                    ).alias(f"__p_{s}")
                    for s in range(1, _BLOOM_K + 1)
                ]
                rows = probe_df.select(*exprs).collect()
            except (TypeError, ValueError, KeyError):
                # a spec value incompatible with the column type cannot
                # be hashed consistently — skip bloom pruning for this
                # column, stay correct
                continue
            out[col] = [
                [
                    (
                        int(row[f"__p_{s}"]) // 64,
                        1 << (int(row[f"__p_{s}"]) % 64),
                    )
                    for s in range(1, _BLOOM_K + 1)
                ]
                for row in rows
            ]
        return out

    def _resolve_files(
        self, manifest: dict, where: dict | None
    ) -> list[str]:
        """The manifest's file list, stats-pruned by ``where``: a file
        is skipped only when its recorded min/max provably cannot
        overlap the predicate, or an equality spec's bloom probe misses
        the file's recorded bitset.  Missing stats -> kept
        (conservative).

        ``where`` arrives RAW (source-column predicates); the hidden-
        partition mapping runs here, PER SPEC: a file stamped with the
        spec it was written under (era-pure appends) is tested against
        that spec's mapped predicate, so after spec evolution an old
        bucket[8] file is never pruned by a bucket[16]-mapped bound;
        an unstamped file (pre-stamp history, or a rewrite that may mix
        eras) is kept if ANY spec's mapping admits it — sound for any
        row mixture, and with s specs a point read plans at most one
        partition's files per era, Iceberg's per-spec scan shape."""
        files = [
            f for files in manifest["partitions"].values() for f in files
        ]
        if not where:
            return files
        stats = manifest.get("stats", {})
        probes = self._bloom_probes(manifest, where)
        mapped = {
            sid: self._map_transform_predicates(
                where, manifest, transforms=tr
            )
            for sid, tr in self._spec_registry(manifest).items()
        }

        def admit(f: str) -> bool:
            fs = stats.get(f)
            if fs is None:
                return True
            sid = fs.get("__spec")
            if sid is not None and str(sid) in mapped:
                return _file_overlaps(fs, mapped[str(sid)], probes)
            return any(
                _file_overlaps(fs, m, probes) for m in mapped.values()
            )

        return [f for f in files if admit(f)]

    @staticmethod
    def _where_condition(where: dict):
        """The Column predicate equivalent of a ``where`` spec — applied
        to the pruned scan so results are exact regardless of stats.
        An equality spec of None means IS NULL (so NULL partitions are
        addressable); a tuple bound of None means unbounded; a LIST is
        an IN-list (non-null members; empty list matches nothing)."""
        cond = F.lit(True)
        for col, spec in where.items():
            if isinstance(spec, tuple):
                lo, hi = spec
                if lo is not None:
                    cond = cond & (F.col(col) >= F.lit(lo))
                if hi is not None:
                    cond = cond & (F.col(col) <= F.lit(hi))
            elif isinstance(spec, list):
                cond = cond & (
                    F.col(col).isin(*spec) if spec else F.lit(False)
                )
            elif spec is None:
                cond = cond & F.col(col).isNull()
            else:
                cond = cond & (F.col(col) == F.lit(spec))
        return cond

    def _manifest_at(self, version: int | str | None) -> dict | None:
        """The manifest for ``version`` (head when None; None when the
        table has never been committed) — the single version-resolution
        path every read-side accessor goes through.  A string version
        is a TAG name (resolved through ``resolve_tag``), so every
        versioned accessor — read, planned_files, changes — accepts
        tags for free."""
        if version is None:
            return self._current()[1]
        if isinstance(version, str):
            version = self.resolve_tag(version)
        return self._load_manifest(version)

    # -- named refs (tags) ---------------------------------------------------
    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``name`` to ``version`` (default: current head) — the
        Iceberg tag: an immutable named ref that (a) reads like a
        version (``read(version="release-1")``) and (b) PROTECTS its
        snapshot from retention GC for as long as it exists, so a
        training run can cite the exact corpus state it consumed long
        after the rolling window moved on.  Atomic-create, so two
        racing taggers cannot both win one name; re-tagging an existing
        name raises (delete first — an audit-visible two-step, like
        Iceberg's replace)."""
        if not name or "/" in name or name != name.strip():
            raise ValueError(f"bad tag name {name!r}")
        gen = self.current_version() if version is None else int(version)
        self._load_manifest(gen)  # must exist and still be retained
        fsio.mkdirs(self._refs)
        try:
            fsio.put_if_absent(os.path.join(self._refs, name), str(gen))
        except FileExistsError:
            raise ValueError(f"tag {name!r} already exists") from None
        # re-validate AFTER publishing the ref: a concurrent commit's GC
        # pass may have expired the snapshot between our first check and
        # the ref create (the ref only protects from GC passes that see
        # it).  If the manifest is gone, withdraw the tag and fail
        # loudly instead of leaving a dangling ref.
        try:
            self._load_manifest(gen)
        except NotFoundError:
            fsio.unlink(os.path.join(self._refs, name), missing_ok=True)
            raise NotFoundError(
                f"version {gen} was garbage-collected while tagging; "
                f"tag a retained version"
            ) from None
        return gen

    def resolve_tag(self, name: str) -> int:
        try:
            return int(fsio.read_text(os.path.join(self._refs, name)).strip())
        except FileNotFoundError:
            raise NotFoundError(f"unknown tag {name!r}") from None

    def tags(self) -> dict[str, int]:
        """All tags as {name: version}."""
        try:
            names = fsio.listdir(self._refs)
        except FileNotFoundError:
            return {}
        out = {}
        for n in sorted(names):
            try:
                out[n] = self.resolve_tag(n)
            except (NotFoundError, ValueError):
                continue  # concurrent delete / partial write
        return out

    def delete_tag(self, name: str) -> None:
        """Drop the tag; its snapshot re-enters normal retention and is
        reclaimed by the NEXT commit's GC pass once outside the window."""
        try:
            fsio.unlink(os.path.join(self._refs, name))
        except FileNotFoundError:
            raise NotFoundError(f"unknown tag {name!r}") from None

    def planned_files(
        self, where: dict | None = None, version: int | None = None
    ) -> list[str]:
        """The data files a ``read(where=...)`` would scan (for tests
        and EXPLAIN-style tooling)."""
        manifest = self._manifest_at(version)
        if manifest is None:
            return []
        return self._resolve_files(manifest, where)

    def _effective_df(
        self,
        manifest: dict,
        pkeys: set[str] | None = None,
        sel_files: set[str] | None = None,
        with_file: bool = False,
        with_pos: bool = False,
    ) -> DataFrame:
        """Effective content of ``pkeys`` (default: all partitions)
        under ``manifest``, with pending DELETE files applied — the
        single merge-on-read path every content read goes through.

        Files are grouped by the set of delete files that apply to them
        (a delete applies only to files that existed when it was
        committed, so later-appended rows with a deleted key survive —
        Iceberg's sequence-number rule, realized as an explicit
        ``applies_to`` list); each group subtracts its deletes by kind:
        EQUALITY entries anti-join the union of their key tuples
        null-safely, POSITIONAL entries (``kind: "pos"``) anti-join on
        (root-relative file path, row ordinal) — row-granular, key-free, the
        Iceberg v2 pos-delete shape.  Group count is bounded by
        distinct delete generations per partition, not data size.

        ``with_pos=True`` keeps the two scan-time position columns
        (``_POSF_COL``/``_POSI_COL``) on the result — the writer-side
        hook ``delete_where_pos`` records matched rows through."""
        parts = manifest["partitions"]
        dmap = manifest.get("deletes", {})
        # delete-file kind registry; entries written before positional
        # deletes existed carry no "kind" and default to equality
        kind_of: dict[str, str] = {
            d["file"]: d.get("kind", "eq")
            for entries in dmap.values()
            for d in entries
        }
        # address-format guard: a pending pos entry without the
        # relative-path stamp MAY have recorded addresses the current
        # scan expression can never match — applying one would
        # silently resurrect its deleted rows.  But the stamp itself
        # postdates root-relative addressing (the immediately prior
        # release wrote valid root-relative addresses with no stamp),
        # so stampless entries are distinguished by CONTENT.  A valid
        # root-relative address is RELATIVE (no leading '/') and
        # contains a '/' (pos files always live under a batch
        # directory); the two legacy eras both fail that shape —
        # basenames have no '/', and the pre-realpath fallback era
        # recorded scheme-stripped ABSOLUTE paths (leading '/') when
        # Spark rendered a symlink-resolved root the old expression
        # did not strip.  One bounded probe per stampless file
        # (limit-1 scan for an out-of-shape address), cached per
        # handle; stamped entries skip the probe entirely, and one
        # rewrite_position_deletes retires the legacy entries for
        # good.
        stale: set[str] = set()
        for entries in dmap.values():
            for d in entries:
                if (
                    d.get("kind") != "pos"
                    or d.get("addr") == _POS_ADDR_FORMAT
                ):
                    continue
                f = d["file"]
                ok = self._stampless_pos_ok.get(f)
                if ok is None:
                    ok = (
                        self._spark.read.parquet(
                            os.path.join(self._data, f)
                        )
                        .filter(
                            F.col("__file").startswith("/")
                            | ~F.col("__file").contains("/")
                        )
                        .limit(1)
                        .isEmpty()
                    )
                    self._stampless_pos_ok[f] = ok
                if not ok:
                    stale.add(f)
        if stale:
            raise ValidationError(
                "pending positional-delete file(s) carry non-root-"
                f"relative addresses (basename or absolute — the "
                f"pre-stamp eras): {sorted(stale)}.  Such addresses "
                "no longer match the scan's address expression, so "
                "applying them would silently resurrect deleted "
                "rows.  Materialize the deletes with the WRITING "
                "code version (optimize / rewrite_position_deletes) "
                "before upgrading."
            )
        groups: dict[tuple, list[str]] = {}
        for pk, files in parts.items():
            if pkeys is not None and pk not in pkeys:
                continue
            entries = dmap.get(pk, [])
            for f in files:
                if sel_files is not None and f not in sel_files:
                    continue
                applicable = tuple(
                    sorted(
                        d["file"] for d in entries if f in d["applies_to"]
                    )
                )
                groups.setdefault(applicable, []).append(f)
        if not groups:
            empty = self._spark.createDataFrame([], manifest["schema_ddl"])
            if with_file:
                empty = empty.withColumn(_SRC_COL, F.lit(""))
            if with_pos:
                empty = empty.withColumn(_POSF_COL, F.lit("")).withColumn(
                    _POSI_COL, F.lit(0).cast("long")
                )
            return empty
        out = None
        for dels in sorted(groups):
            pos_dels = [d for d in dels if kind_of.get(d) == "pos"]
            df = self._spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(self._data, f) for f in groups[dels]]
            )
            if with_file:
                # materialized AT SCAN TIME (input_file_name is empty
                # after a shuffle), so era-exact partition attribution
                # survives the delete anti-joins below
                df = df.withColumn(_SRC_COL, F.input_file_name())
            if with_pos or pos_dels:
                # likewise scan-time: _metadata is a scan pseudo-column
                df = df.withColumn(
                    _POSF_COL, self._pos_file_expr()
                ).withColumn(_POSI_COL, F.col("_metadata.row_index"))
            eq_dels = [d for d in dels if kind_of.get(d, "eq") == "eq"]
            if eq_dels:
                keys = (
                    self._spark.read.option("mergeSchema", "true")
                    .parquet(*[os.path.join(self._data, d) for d in eq_dels])
                    .select(*self.key_cols)
                    .dropDuplicates()
                )
                df = self._null_safe_key_join(df, keys, "left_anti")
            if pos_dels:
                posk = (
                    self._spark.read.parquet(
                        *[os.path.join(self._data, d) for d in pos_dels]
                    )
                    .select("__file", "__pos")
                    .dropDuplicates()
                )
                df = df.join(
                    posk,
                    (F.col(_POSF_COL) == posk["__file"])
                    & (F.col(_POSI_COL) == posk["__pos"]),
                    "left_anti",
                )
            if pos_dels and not with_pos:
                df = df.drop(_POSF_COL, _POSI_COL)
            out = (
                df
                if out is None
                else out.unionByName(df, allowMissingColumns=True)
            )
        return out

    def read(
        self, version: int | None = None, where: dict | None = None
    ) -> DataFrame:
        """Latest state, or ``VERSION AS OF version`` — one scan over the
        manifest's immutable file list (snapshot isolation: concurrent
        commits cannot change the resolved files).

        ``where`` is an optional data-skipping spec, ``{col: value}``
        for equality, ``{col: (lo, hi)}`` for an inclusive range
        (None = unbounded), or ``{col: [v1, v2, ...]}`` for an IN-list
        (one pruned scan planning only files that might hold ANY
        member — the multi-partition probe shape, e.g. an ANN nprobe
        read): files whose recorded min/max cannot overlap are never
        planned, and the predicate is ALSO applied to the surviving
        files, so the result equals a full-scan filter."""
        manifest = self._manifest_at(version)
        if manifest is None:
            raise NotFoundError(f"table never committed: {self.root}")
        sel = self._resolve_files(manifest, where)
        if manifest.get("deletes"):
            df = self._effective_df(manifest, sel_files=set(sel))
            return df.filter(self._where_condition(where)) if where else df
        files = [os.path.join(self._data, f) for f in sel]
        if not files:
            df = self._spark.createDataFrame([], manifest["schema_ddl"])
            return df.filter(self._where_condition(where)) if where else df
        # mergeSchema: partitions carried by reference may predate a
        # schema-evolving commit — older files surface NULL for columns
        # they don't have, the lake-format evolution contract
        df = self._spark.read.option("mergeSchema", "true").parquet(*files)
        return df.filter(self._where_condition(where)) if where else df

    def current_version(self) -> int:
        return self._current()[0]

    def history(self) -> list[dict]:
        """Commit history inside the retention window, newest first —
        the ``DESCRIBE HISTORY`` analog.  ``committed_at`` is the commit
        file's mtime (the atomic-create instant); ``operation`` is the
        commit's stamped label (APPEND/MERGE/DELETE POS/OPTIMIZE/...;
        None for manifests written before labels existed)."""
        from datetime import datetime, timezone

        try:
            names = sorted(fsio.listdir(self._commits), reverse=True)
        except FileNotFoundError:
            return []
        out = []
        for n in names:
            try:
                ts = datetime.fromtimestamp(
                    fsio.mtime(os.path.join(self._commits, n)),
                    tz=timezone.utc,
                )
                op = self._load_manifest(int(n)).get("op")
            except (OSError, NotFoundError):
                continue  # concurrent GC
            out.append(
                {"version": int(n), "committed_at": ts, "operation": op}
            )
        return out

    # -- metadata inspection tables (Iceberg files/partitions/snapshots) --
    def files_meta(self, version: int | str | None = None) -> DataFrame:
        """The Iceberg ``files`` metadata-table analog: one DataFrame
        row per live data entry at ``version`` (head / version number /
        tag name) — partition document, relative path, recorded row
        count, spec stamp, pending-delete coverage, and the per-column
        [min, max, null_count] stats as a JSON doc.  Built on the
        driver from the manifest alone — O(live files) rows, zero
        parquet scans — so inspection queries (vs23) compose with
        ordinary DataFrame ops without touching data.

        ``record_count`` is NULL for files committed before row
        counting existed AND for files covered by a pending delete
        (their effective counts are unknowable until materialization —
        the same truthfulness contract as ``file_rows``/vs19)."""
        manifest = self._manifest_at(version)
        if manifest is None:
            raise NotFoundError(f"table never committed: {self.root}")
        stats = manifest.get("stats", {})
        covered = self._covered_files(manifest)
        rows = []
        for pk in sorted(manifest["partitions"]):
            for f in sorted(manifest["partitions"][pk]):
                fs = stats.get(f, {})
                n = fs.get("__rows", [None])[0]
                rows.append(
                    (
                        pk,
                        f,
                        None if f in covered or n is None else int(n),
                        str(fs["__spec"]) if "__spec" in fs else None,
                        f in covered,
                        json.dumps(
                            {
                                c: v
                                for c, v in fs.items()
                                if not c.startswith("__")
                            },
                            sort_keys=True,
                        ),
                    )
                )
        return self._spark.createDataFrame(
            rows,
            "partition string, file string, record_count long, "
            "spec_id string, has_pending_deletes boolean, "
            "column_stats string",
        )

    def partitions_meta(self, version: int | str | None = None) -> DataFrame:
        """The ``partitions`` metadata-table analog: per-partition file
        and record counts (record_count NULL when any member file's
        count is unknowable), driver-built like ``files_meta``."""
        manifest = self._manifest_at(version)
        if manifest is None:
            raise NotFoundError(f"table never committed: {self.root}")
        stats = manifest.get("stats", {})
        covered = self._covered_files(manifest)
        rows = []
        for pk in sorted(manifest["partitions"]):
            files = manifest["partitions"][pk]
            counts = [
                None
                if f in covered or "__rows" not in stats.get(f, {})
                else int(stats[f]["__rows"][0])
                for f in files
            ]
            rows.append(
                (
                    pk,
                    len(files),
                    None if any(c is None for c in counts) else sum(counts),
                )
            )
        return self._spark.createDataFrame(
            rows, "partition string, file_count long, record_count long"
        )

    def delete_files_meta(self, version: int | str | None = None) -> DataFrame:
        """The Iceberg ``delete_files`` metadata-table analog: one row
        per PENDING (unmaterialized) delete entry at ``version`` — the
        partition it belongs to, the delete file's relative path, its
        kind (``eq`` key tuples / ``pos`` row addresses), its recorded
        entry count, and the span of data files it applies to.  This is
        the operational view an engineer reads to decide WHEN to
        compact: record_count x applies_to_count is the merge-on-read
        anti-join tax every read of those files pays.

        Driver-built from the manifest alone — O(pending entries) rows,
        ZERO parquet scans (entry counts were recorded at delete-commit
        time; NULL for entries committed before counting existed)."""
        manifest = self._manifest_at(version)
        if manifest is None:
            raise NotFoundError(f"table never committed: {self.root}")
        rows = []
        for pk in sorted(manifest.get("deletes", {})):
            for d in manifest["deletes"][pk]:
                rows.append(
                    (
                        pk,
                        d["file"],
                        d.get("kind", "eq"),
                        int(d["rows"]) if "rows" in d else None,
                        len(d["applies_to"]),
                        json.dumps(sorted(d["applies_to"])),
                    )
                )
        return self._spark.createDataFrame(
            rows,
            "partition string, file string, kind string, "
            "record_count long, applies_to_count long, applies_to string",
        )

    def snapshots_meta(self) -> DataFrame:
        """The ``snapshots`` metadata-table analog: retained commit
        versions with their commit instants and operation labels,
        newest first."""
        rows = [
            (h["version"], h["committed_at"], h["operation"])
            for h in self.history()
        ]
        return self._spark.createDataFrame(
            rows, "version long, committed_at timestamp, operation string"
        )

    def _span_has_pos_deletes(
        self, from_version: int, to_version: int, m_from: dict, m_to: dict
    ) -> bool:
        """True when the (from, to] span involves POSITIONAL deletes —
        the signal that the table is a duplicate-key table and key-diff
        CDC is unsound.  Two detectors, both metadata-only: pending
        ``kind: "pos"`` entries at either endpoint, and a walk of the
        span's commit labels for ``DELETE POS`` (which also catches a
        pos-delete that a later rewrite MATERIALIZED mid-span — gone
        from both endpoint manifests, rows gone all the same).  The
        walk is O(span) tiny JSON loads on the driver, bounded by
        retention.

        A mid-span manifest that cannot be loaded (GC'd by
        ``expire_snapshots`` while both endpoints survive, e.g. tagged
        endpoints with expired interior) is treated as UNKNOWN -> True:
        the expired commit could have been a ``DELETE POS`` over a
        duplicate-key table, and guessing "no" would silently re-enable
        key-diff — the cross-join this detector exists to prevent.
        Content mode is correct (merely update-free) on key-unique
        tables, so the conservative answer costs classification detail,
        never soundness."""
        def _has_pending_pos(m: dict) -> bool:
            return any(
                d.get("kind") == "pos"
                for entries in m.get("deletes", {}).values()
                for d in entries
            )

        if _has_pending_pos(m_from) or _has_pending_pos(m_to):
            return True
        for v in range(max(from_version, 0) + 1, to_version + 1):
            try:
                m = self._load_manifest(v)
            except NotFoundError:
                return True  # GC'd mid-span commit: kind unknowable
            # the op label catches a direct DELETE POS commit; the
            # pending-entry check catches pos deletes that arrived
            # under ANOTHER label — a WAP/branch publish lands the
            # chain's delete state as one FAST-FORWARD commit (the
            # atomic content apply's shape), which a label-only walk
            # would miss once a later rewrite materialized the
            # entries out of both endpoint manifests
            if m.get("op") == "DELETE POS" or _has_pending_pos(m):
                return True
        return False

    def changes(
        self,
        from_version: int,
        to_version: int,
        preimage: bool = False,
        mode: str = "auto",
    ) -> DataFrame:
        """Row-level change feed between two versions — the
        ``table_changes`` / CDF analog, derived from the manifests: only
        partitions whose FILE LISTS differ between the two versions are
        read (O(changed partitions), never O(table)).  Two
        classification strategies, selected by ``mode``:

        - ``"key"``: a null-safe full-outer KEY join classifies each key
          as ``insert``, ``delete``, or ``update_postimage`` (rows
          carried unchanged through a partition rewrite are not changes
          and are dropped).  Delete rows carry their pre-image values;
          ``preimage=True`` additionally emits an ``update_preimage``
          row per update — the full Delta-CDF contract.  Defined ONLY
          over key-unique state (the upsert/delete-maintained
          contract); over duplicate keys the key diff would cross-join,
          so this mode RAISES when the span involves positional deletes
          (the duplicate-key signal) instead of emitting garbage.
        - ``"content"``: a full-row MULTISET diff — each side's changed
          partitions aggregate to (row, count), a null-safe full-outer
          join on ALL columns takes the count delta, and each net
          occurrence emits as ``insert`` (count rose) or ``delete``
          (count fell).  Key-free and rewrite-invariant (a pure rewrite
          like optimize/compact preserves the multiset, so it emits
          nothing), which makes it the CDC shape for duplicate-key /
          append-only tables with positional deletes — Iceberg reaches
          the same place via file/pos diffs that skip REPLACE
          snapshots.  No update classification exists here (an upsert
          surfaces as a delete+insert pair), so ``preimage=True``
          raises.
        - ``"auto"`` (default): ``"content"`` when the span involves
          positional deletes (pending at either endpoint, a
          ``DELETE POS`` commit mid-span — even one a later rewrite
          materialized — or a GC'd mid-span commit whose kind is
          unknowable), else ``"key"``.  An APPEND-ONLY span over a
          duplicate-key log carries no pos-delete signal for auto to
          detect, so the key path additionally VERIFIES key-uniqueness
          over the changed partitions before joining and raises with
          the ``mode="content"`` hint on duplicates — such consumers
          should pass ``mode="content"`` explicitly (the st07 cursor
          loop's discipline).

        Scale shape: both modes read O(changed partitions); content
        mode shuffles those rows once on the full row (a wide group-by
        key, but partial-aggregable and skew-free — distinct physical
        rows hash uniformly)."""
        if mode not in ("auto", "key", "content"):
            raise ValueError(f"unknown changes mode {mode!r}")
        m_to = self._load_manifest(to_version)
        if from_version == 0:
            # from the empty pre-history: every current row is an insert
            m_from = {"partitions": {}, "schema_ddl": m_to["schema_ddl"]}
        else:
            m_from = self._load_manifest(from_version)
        p_from = m_from["partitions"]
        p_to = m_to["partitions"]
        d_from = m_from.get("deletes", {})
        d_to = m_to.get("deletes", {})
        changed = {
            k
            for k in set(p_from) | set(p_to)
            # a partition is changed when its file list OR its pending
            # delete chain differs — both move effective rows
            if p_from.get(k) != p_to.get(k) or d_from.get(k) != d_to.get(k)
        }
        if mode != "content":
            pos_span = self._span_has_pos_deletes(
                from_version, to_version, m_from, m_to
            )
            if pos_span and mode == "key":
                raise ValueError(
                    "key-diff CDC is undefined over this span: it "
                    "involves positional deletes (the duplicate-key "
                    "table shape) — or contains a GC'd commit whose "
                    "kind is unknowable — and a key diff over "
                    "duplicate keys cross-joins.  Use mode='content' "
                    "(or the default mode='auto', which selects it) "
                    "for the multiset change feed."
                )
            mode = "content" if pos_span else "key"
        if mode == "content" and preimage:
            raise ValueError(
                "preimage rows exist only in key-diff CDC (content-mode "
                "feeds have no update classification — an upsert "
                "surfaces as a delete+insert pair)"
            )
        old = self._effective_df(m_from, pkeys=changed)
        new = self._effective_df(m_to, pkeys=changed)
        # align to the union of columns (schema evolution between versions)
        all_cols = list(
            dict.fromkeys([*new.columns, *old.columns])
        )  # stable order, new first
        for c in all_cols:
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None))
            if c not in new.columns:
                new = new.withColumn(c, F.lit(None))
        if mode == "content":
            return self._changes_content_diff(old, new, all_cols)
        # Key-diff is defined only over key-unique state, and an
        # APPEND-ONLY span over a duplicate-key log carries no
        # pos-delete signal for auto-mode to detect — so before the
        # join, each side's changed partitions are checked for
        # duplicate keys (one small aggregation job over O(changed
        # partitions); group-by treats NULL keys as equal, matching
        # the join's null-safe condition).  Without this, the
        # full-outer key join would silently cross-join each duplicate
        # group into a garbage feed.
        dup = (
            old.select(*self.key_cols)
            .withColumn("__side", F.lit(0))
            .unionByName(
                new.select(*self.key_cols).withColumn("__side", F.lit(1))
            )
            .groupBy("__side", *self.key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
        )
        if not dup.isEmpty():
            raise ValidationError(
                "key-diff CDC is undefined over this span: the changed "
                "partitions hold duplicate keys (an append-only "
                "duplicate-key log carries no pos-delete signal for "
                "mode='auto' to detect), so the per-key join would fan "
                "out instead of classifying 1:1.  Use mode='content' "
                "for the multiset change feed."
            )
        # presence markers: keys may legitimately be NULL, so a missing
        # side is detected by its marker, never by null keys
        o = old.withColumn("__o", F.lit(True)).alias("__o_side")
        n = new.withColumn("__n", F.lit(True)).alias("__n_side")
        cond = F.lit(True)
        for k in self.key_cols:
            cond = cond & F.col(f"__o_side.{k}").eqNullSafe(
                F.col(f"__n_side.{k}")
            )
        joined = o.join(n, cond, "full_outer")
        o_present = F.col("__o_side.__o").isNotNull()
        n_present = F.col("__n_side.__n").isNotNull()
        value_cols = [c for c in all_cols if c not in self.key_cols]
        differs = F.lit(False)
        for c in value_cols:
            differs = differs | ~F.col(f"__o_side.{c}").eqNullSafe(
                F.col(f"__n_side.{c}")
            )
        change_type = (
            F.when(~o_present, F.lit("insert"))
            .when(~n_present, F.lit("delete"))
            .when(differs, F.lit("update_postimage"))
        )  # both present + identical -> NULL -> filtered (not a change)
        out_cols = [
            F.when(n_present, F.col(f"__n_side.{c}"))
            .otherwise(F.col(f"__o_side.{c}"))
            .alias(c)
            for c in all_cols
        ]
        feed = joined.select(
            *out_cols, change_type.alias("_change_type")
        ).filter(F.col("_change_type").isNotNull())
        if preimage:
            pre = joined.filter(o_present & n_present & differs).select(
                *[F.col(f"__o_side.{c}").alias(c) for c in all_cols],
                F.lit("update_preimage").alias("_change_type"),
            )
            feed = feed.unionByName(pre)
        return feed

    @staticmethod
    def _changes_content_diff(
        old: DataFrame, new: DataFrame, all_cols: list[str]
    ) -> DataFrame:
        """Full-row MULTISET net diff (see ``changes`` mode="content"):
        (row -> count) per side, null-safe full-outer join on the whole
        row, emit each net occurrence with its ``_change_type``.  The
        per-side aggregation is partial (map-side combine), the join
        keys are distinct physical rows (uniform hash — no skew), and a
        pure rewrite diffs to empty by construction.

        MAP-typed columns are not groupable or joinable in Spark (map
        equality is order-ambiguous), so each top-level map column is
        canonicalized — entries sorted by key, rendered ``to_json`` —
        and the CANONICAL STRING serves as that column's group/join
        key, while the original map value rides along via ``first()``
        (any member of a group is the same logical map).  A map nested
        BELOW the top level (inside a struct/array, or as a map value)
        has no canonical ordering Spark can construct declaratively, so
        that raises a clear error instead of Spark's opaque grouping
        AnalysisException.

        Net occurrences are emitted via a TWO-LEVEL chunked explode
        (``_OCC_CHUNK`` rows per chunk) so a row with huge multiplicity
        (millions of identical event rows deleted at once) never
        materializes one multi-million-element in-memory array in a
        single row — the largest array either level builds is
        ``max(_OCC_CHUNK, ceil(|delta| / _OCC_CHUNK))`` elements."""
        canon = _map_canon_cols([old, new], all_cols)

        def _ck(c: str) -> str:
            return f"__ck_{c}"

        def _grouped(df: DataFrame, cnt: str) -> DataFrame:
            gcols = [
                # sorted-entry JSON: a canonical, orderable rendering of
                # the map's logical (unordered) content
                _canon_expr(c).alias(_ck(c)) if c in canon else F.col(c)
                for c in all_cols
            ]
            aggs = [F.count(F.lit(1)).alias(cnt)] + [
                F.first(F.col(c)).alias(c) for c in canon
            ]
            return df.groupBy(*gcols).agg(*aggs)

        oc = _grouped(old, "__oc").alias("__o_side")
        nc = _grouped(new, "__nc").alias("__n_side")
        cond = F.lit(True)
        for c in all_cols:
            k = _ck(c) if c in canon else c
            cond = cond & F.col(f"__o_side.{k}").eqNullSafe(
                F.col(f"__n_side.{k}")
            )
        delta = F.coalesce(F.col("__n_side.__nc"), F.lit(0)) - F.coalesce(
            F.col("__o_side.__oc"), F.lit(0)
        )
        chunks = F.ceil(F.col("__abs") / F.lit(_OCC_CHUNK)).cast("long")
        chunk_rows = F.when(
            F.col("__chunk") < chunks, F.lit(_OCC_CHUNK).cast("long")
        ).otherwise(F.col("__abs") - (chunks - F.lit(1)) * F.lit(_OCC_CHUNK))
        return (
            oc.join(nc, cond, "full_outer")
            .withColumn("__delta", delta)
            .filter(F.col("__delta") != 0)
            .select(
                # both sides null-safe-equal where both present, so
                # coalesce reads the value from whichever side exists
                *[
                    F.coalesce(
                        F.col(f"__n_side.{c}"), F.col(f"__o_side.{c}")
                    ).alias(c)
                    for c in all_cols
                ],
                F.when(F.col("__delta") > 0, F.lit("insert"))
                .otherwise(F.lit("delete"))
                .alias("_change_type"),
                F.abs(F.col("__delta")).cast("long").alias("__abs"),
            )
            .select(
                *all_cols,
                "_change_type",
                "__abs",
                F.explode(
                    F.sequence(F.lit(1).cast("long"), chunks)
                ).alias("__chunk"),
            )
            .select(
                *all_cols,
                "_change_type",
                F.explode(
                    F.sequence(F.lit(1).cast("long"), chunk_rows)
                ).alias("__occ"),
            )
            .drop("__occ")
        )

    def changes_per_commit(
        self, from_version: int, to_version: int, mode: str = "auto"
    ) -> DataFrame:
        """The per-commit change feed — Delta CDF's ``_commit_version``
        contract: one ``changes(v-1, v)`` span per commit in
        (from, to], each stamped with its version, unioned.  Unlike the
        NET two-endpoint feed, a row deleted and re-inserted mid-span
        appears in BOTH commits — what an incremental consumer needs to
        replay history commit-by-commit (audit trails, downstream
        event-sourcing) rather than converge to the end state.

        Pure-rewrite commits (OPTIMIZE/COMPACT/REWRITE POS DELETES and
        metadata-only ops) are SKIPPED by their commit label before any
        data is read — the Iceberg incremental-scan rule that REPLACE
        snapshots carry no changes; their spans would diff to empty
        anyway (content mode) but skipping saves the scan.  Cost is the
        sum of per-commit changed partitions, never O(table x span).

        ``mode`` routes each span like ``changes`` (auto picks content
        diff on pos-delete spans); preimage rows are not emitted (net
        per-commit upserts surface as delete+insert under content mode,
        update_postimage under key mode).

        Long histories: the accumulated union eagerly
        ``localCheckpoint``s every ``_PER_COMMIT_CHUNK`` commits, so the
        optimizer's input is always one chunk of per-commit sub-plans
        plus one materialized LogicalRDD — a thousand-commit replay
        never builds an O(span) lazy DAG.  The tradeoff is that a
        > ``_PER_COMMIT_CHUNK``-commit call does part of its work
        EAGERLY (at call time, chunk by chunk) instead of all at first
        action; short spans are unaffected."""
        if to_version <= from_version:
            raise ValueError(
                f"empty per-commit span ({from_version}, {to_version}]"
            )
        _NO_DATA_OPS = {
            "OPTIMIZE",
            "COMPACT",
            "REWRITE POS DELETES",
            "REWRITE SPEC",
            "ADD CONSTRAINT",
            "DROP CONSTRAINT",
            "SET PROPERTY",
            "EVOLVE SPEC",
        }
        out = None
        pending = 0  # sub-plans unioned since the last checkpoint
        prev_ckpt = None  # superseded chunk checkpoint, freed below
        for v in range(max(from_version, 0) + 1, to_version + 1):
            if self._load_manifest(v).get("op") in _NO_DATA_OPS:
                continue
            span = self.changes(v - 1, v, mode=mode).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )
            out = span if out is None else out.unionByName(span)
            pending += 1
            if pending >= _PER_COMMIT_CHUNK:
                # bound the lazy DAG: materialize the chunk, carry a
                # LogicalRDD forward (see docstring).  The PREVIOUS
                # chunk's blocks were copied into this one, so free
                # them — only the LAST checkpoint backs the result.
                out = out.localCheckpoint(eager=True)
                if prev_ckpt is not None:
                    free_local_checkpoint(prev_ckpt)
                prev_ckpt = out
                pending = 0
        if out is None:  # every commit in span was a pure rewrite
            m = self._load_manifest(to_version)
            schema = T.StructType(
                [
                    *T.StructType.fromDDL(m["schema_ddl"]).fields,
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                ]
            )
            return self._spark.createDataFrame([], schema)
        return out

    def changes_since(
        self, cursor: int, preimage: bool = False, mode: str = "auto"
    ) -> tuple[DataFrame, int]:
        """Incremental change-feed consumption: everything that changed
        AFTER version ``cursor``, plus the new cursor to persist — the
        polling form of a CDC source (each call covers (cursor, head]
        exactly once when the caller stores the returned cursor with
        its output, e.g. in a downstream table's txn).  ``cursor=0``
        reads the full history inside retention.  At head, returns an
        empty feed with the unchanged cursor — no files read."""
        gen, manifest = self._current()
        if cursor >= gen:
            if manifest is None:
                schema: object = "_change_type string"
            else:
                schema = T.StructType(
                    [
                        *T.StructType.fromDDL(manifest["schema_ddl"]).fields,
                        T.StructField("_change_type", T.StringType()),
                    ]
                )
            return self._spark.createDataFrame([], schema), cursor
        return self.changes(cursor, gen, preimage=preimage, mode=mode), gen

    def partition_files(self, version: int | None = None) -> dict[str, list[str]]:
        """The manifest's partition -> file-list map (for tests/tools)."""
        manifest = self._manifest_at(version)
        if manifest is None:
            return {}
        return {k: list(v) for k, v in manifest["partitions"].items()}

    def file_stats(self, version: int | None = None) -> dict[str, dict[str, list]]:
        """The manifest's per-file min/max column stats (for
        tests/tools) — reserved entries (``__rows``, ``__bloom:*``)
        filtered out; see ``file_rows`` / ``row_count``."""
        manifest = self._manifest_at(version)
        if manifest is None:
            return {}
        return {
            f: {c: v for c, v in entry.items() if not c.startswith("__")}
            for f, entry in manifest.get("stats", {}).items()
        }

    @staticmethod
    def _covered_files(manifest: dict) -> set[str]:
        """Files a pending (unmaterialized) equality delete applies to:
        their recorded stats/row counts are not truthful until the
        delete materializes, so every metadata-only answer must treat
        them as unknowable (shared by file_rows/column_range and the
        public ``pending_delete_files``)."""
        return {
            f
            for entries in manifest.get("deletes", {}).values()
            for d in entries
            for f in d["applies_to"]
        }

    def pending_delete_files(self, version: int | None = None) -> set[str]:
        """Public view of ``_covered_files`` at a version — the set a
        metadata-only consumer (vs19/vs20-style aggregates) must check
        before trusting per-file stats."""
        manifest = self._manifest_at(version)
        if manifest is None:
            return set()
        return self._covered_files(manifest)

    def file_rows(self, version: int | None = None) -> dict[str, int | None]:
        """Per-file recorded row counts (None for files committed
        before row counting existed)."""
        manifest = self._manifest_at(version)
        if manifest is None:
            return {}
        stats = manifest.get("stats", {})
        # files a pending equality delete applies to have unknown
        # effective counts until the delete is materialized
        covered = self._covered_files(manifest)
        return {
            f: (
                int(stats[f]["__rows"][0])
                if f in stats and "__rows" in stats[f] and f not in covered
                else None
            )
            for files in manifest["partitions"].values()
            for f in files
        }

    def row_count(self, version: int | None = None) -> int | None:
        """COUNT(*) answered from the manifest alone — zero data files
        read (the Delta/Iceberg metadata-only aggregate).  Returns None
        when any live file predates row counting (the scan is then the
        only truthful answer)."""
        per_file = self.file_rows(version)
        if any(n is None for n in per_file.values()):
            return None
        return sum(per_file.values())

    def column_range(
        self, col: str, version: int | None = None
    ) -> tuple | None:
        """MIN/MAX of ``col`` from the manifest stats alone — the other
        metadata-only aggregate.  Returns (min, max); (None, None) when
        every live row is NULL; None when any live file has no recorded
        stats for ``col`` (only a scan can answer then)."""
        manifest = self._manifest_at(version)
        if manifest is None:
            return None
        stats = manifest.get("stats", {})
        covered = self._covered_files(manifest)
        mns, mxs = [], []
        for files in manifest["partitions"].values():
            for f in files:
                if f in covered:
                    # a pending equality delete may have removed this
                    # file's extreme rows — only a scan can answer
                    return None
                bounds = stats.get(f, {}).get(col)
                if bounds is None:
                    return None
                if bounds[0] is not None:  # all-null files carry no range
                    mns.append(bounds[0])
                    mxs.append(bounds[1])
        if not mns:
            return (None, None)
        return (min(mns), max(mxs))

    # -- writes ------------------------------------------------------------
    def _null_safe_key_join(
        self, left: DataFrame, updates: DataFrame, how: str
    ) -> DataFrame:
        """MERGE key matching — shared with VersionedTable so the two
        engines cannot drift (merge_common.null_safe_key_join)."""
        return null_safe_key_join(left, updates, self.key_cols, how)

    def _transact(
        self, attempt, batch_dir: str | None = None, keep_batch: bool = False
    ):
        """The one optimistic commit loop: each pass reads the head and
        calls ``attempt(gen, manifest)``.  A dict result is the next
        manifest, published as ``gen + 1`` (returned); anything else —
        a txn replay, "nothing matched", a no-op ``None`` — is returned
        as is.  A lost ``_publish`` CAS re-reads the winner's head and
        retries.

        ``batch_dir`` (under ``data/``) is dropped when a pass raises,
        after the last retry, and after each lost race, since the next
        pass rewrites it against the new head.  A ``keep_batch`` batch
        (append's head-independent files, written once before the loop)
        instead survives lost races and is dropped on a non-commit
        result; a pass that writes and then declines to commit drops
        its own files.

        Outside this loop on purpose: the ``atomic=True`` re-stage of
        ``apply_content_changes`` (it retries a whole staged chain),
        ``_fast_forward_chain`` (a strict fast-forward must fail, not
        retry) and ``_open_ref_chain``'s seed (gen 1 of a private chain:
        no delta to re-merge)."""

        def drop() -> None:
            if batch_dir is not None:
                fsio.rmtree(
                    os.path.join(self._data, batch_dir), ignore_errors=True
                )

        for _ in range(_MAX_RETRIES):
            gen, manifest = self._current()
            try:
                result = attempt(gen, manifest)
            except BaseException:
                drop()
                raise
            if not isinstance(result, dict):
                if keep_batch:
                    drop()
                return result
            try:
                self._publish(result, gen)
            except CommitConflict:
                if not keep_batch:
                    drop()
                continue
            return gen + 1
        drop()
        raise CommitConflict("manifest-table contention: retries exhausted")

    def _next_manifest(
        self,
        manifest: dict | None,
        new_partitions: dict[str, list[str]],
        produced: dict[str, str],
        batch_stats: dict[str, dict[str, list]],
        schema_ddl: str,
        deletes: dict,
        op: str,
        txn: tuple[str, int] | None = None,
        spec_stamp: str | None = None,
    ) -> dict:
        """The next manifest of a DATA commit: ``new_partitions`` and
        ``deletes`` as given, per-file stats carried forward for kept
        files and taken from ``batch_stats`` for ``produced`` ones;
        constraints, properties and the spec registry carry from
        ``manifest``.

        ``txn`` (writer-app id, monotone batch version) is stamped into
        the manifest's ``txns`` map; prior apps' entries carry forward,
        so a replayed micro-batch is detectable forever (within
        retention) — the Delta ``txn``/``SetTransaction`` action."""
        txns = dict(manifest.get("txns", {})) if manifest else {}
        if txn is not None:
            txns[str(txn[0])] = int(txn[1])
        stats = self._carry_stats(
            manifest, new_partitions, produced, batch_stats
        )
        # era-pure commits (append) stamp their new files with the spec
        # their derived values were computed under — the per-file
        # record spec-evolution pruning consults.  Rewrite commits
        # (upsert/compact/overwrite) can mix rows from several eras in
        # one file and pass no stamp; unstamped files prune under
        # ANY-SPEC-ADMITS (sound for any mixture, one partition per
        # era's mapping — Iceberg's per-spec scan behavior).
        if spec_stamp is not None:
            for _pkey, rel in produced.items():
                if rel in stats:
                    stats[rel] = {**stats[rel], "__spec": str(spec_stamp)}
        new_manifest = {
            "op": op,  # DESCRIBE HISTORY operation label
            "partitions": new_partitions,
            "stats": stats,
            "schema_ddl": schema_ddl,
            "constraints": dict(manifest.get("constraints", {}))
            if manifest
            else {},
            "deletes": deletes,
            "txns": txns,
            "props": dict(manifest.get("props", {})) if manifest else {},
        }
        if manifest and manifest.get("specs"):
            new_manifest["specs"] = dict(manifest["specs"])
            new_manifest["current_spec"] = str(
                manifest.get("current_spec", "0")
            )
            if manifest.get("spec_columns"):
                new_manifest["spec_columns"] = dict(manifest["spec_columns"])
        return new_manifest

    def _rewrite(
        self,
        manifest: dict | None,
        rows: DataFrame | None,
        batch_dir: str,
        touched: set[str],
        op: str,
        schema_ddl: str | None = None,
        txn: tuple[str, int] | None = None,
        spec_stamp: str | None = None,
    ) -> dict:
        """The next manifest of a PURE REWRITE: ``rows`` (None: nothing
        to write) land in ONE write job routed by their ``_PK_COL``, the
        ``touched`` partitions' old files and pending deletes are
        dropped (their content was read with deletes applied), and
        every produced partition takes its new file; a batch that
        produced nothing (every touched row deleted) is dropped."""
        produced: dict[str, str] = {}
        if rows is not None:
            produced = self._write_partitioned(
                rows, batch_dir, pk_expr=F.col(_PK_COL)
            )
            if not produced:
                fsio.rmtree(os.path.join(self._data, batch_dir), ignore_errors=True)
        new_partitions = {
            pk: files
            for pk, files in (manifest["partitions"] if manifest else {}).items()
            if pk not in touched  # emptied unless re-produced
        }
        for pkey, rel in produced.items():
            new_partitions[pkey] = [*new_partitions.get(pkey, []), rel]
        return self._next_manifest(
            manifest,
            new_partitions,
            produced,
            self._collect_stats_for_batch(batch_dir, produced),
            schema_ddl if schema_ddl is not None else manifest["schema_ddl"],
            self._deletes_minus(manifest, touched),
            op,
            txn=txn,
            spec_stamp=spec_stamp,
        )

    def _delete_file_commit(
        self,
        gen: int,
        manifest: dict,
        matched: DataFrame,
        batch_dir: str,
        op: str,
        entry: dict,
        txn: tuple[str, int] | None = None,
    ) -> dict | int:
        """The next manifest of a MERGE-ON-READ delete: ``matched``
        (the delete file's rows plus the holding file's era-exact
        ``_PK_COL``) lands as one small file per partition, recorded as
        a delete entry — ``entry`` plus the file, the partition's
        current files it applies to, and its row count — with file
        lists untouched.  ``gen`` (no commit) when nothing matched."""
        produced = self._write_partitioned(
            matched, batch_dir, pk_expr=F.col(_PK_COL)
        )
        if not produced:  # nothing matched: no commit
            fsio.rmtree(os.path.join(self._data, batch_dir), ignore_errors=True)
            return gen
        partitions = manifest["partitions"]
        deletes = {
            pk: list(v) for pk, v in manifest.get("deletes", {}).items()
        }
        n_rows = self._delete_rows_by_hex(batch_dir)
        for pkey, rel in produced.items():
            applies = list(partitions.get(pkey, []))
            if not applies:  # matched rows of a since-gone partition
                continue
            deletes.setdefault(pkey, []).append(
                {
                    **entry,
                    "file": rel,
                    "applies_to": applies,
                    "rows": n_rows.get(rel.rsplit("=", 1)[1], 0),
                }
            )
        return self._next_manifest(
            manifest,
            dict(partitions),
            {},  # no data-file stats for delete files
            {},
            manifest["schema_ddl"],
            deletes,
            op,
            txn=txn,
        )

    @staticmethod
    def _deletes_minus(manifest: dict | None, rewritten: set[str]) -> dict:
        """Pending delete entries carried into the next manifest, minus
        partitions a rewrite just materialized (their effective content
        was read with deletes applied, so the entries are spent)."""
        if not manifest:
            return {}
        return {
            pk: v
            for pk, v in manifest.get("deletes", {}).items()
            if pk not in rewritten
        }

    def last_txn_version(self, app_id: str) -> int:
        """The highest committed batch version for ``app_id``, or -1 —
        the streaming sink's restart probe (Delta's ``txnVersion``)."""
        _, manifest = self._current()
        if manifest is None:
            return -1
        return int(manifest.get("txns", {}).get(str(app_id), -1))

    @staticmethod
    def _txn_applied(manifest: dict | None, txn: tuple[str, int] | None) -> bool:
        """True when this (app, version) batch is already in the table —
        committed versions are monotone per app, so ``>=`` detects a
        replayed micro-batch after a sink crash-restart."""
        if txn is None or manifest is None:
            return False
        return int(manifest.get("txns", {}).get(str(txn[0]), -1)) >= int(txn[1])

    # -- CHECK constraints -------------------------------------------------
    def constraints(self) -> dict[str, str]:
        """The table's active CHECK constraints, name -> SQL predicate."""
        _, manifest = self._current()
        return dict(manifest.get("constraints", {})) if manifest else {}

    def add_constraint(self, name: str, predicate: str) -> int:
        """ALTER TABLE ... ADD CONSTRAINT ... CHECK (predicate): SQL
        CHECK semantics (a row violates only when the predicate is
        FALSE; NULL passes).  Existing data is validated FIRST — one
        scan — exactly as Delta does, so a committed constraint is a
        table-wide invariant, not just a forward filter.  Enforcement
        happens on every subsequent ``append``/``upsert`` batch."""

        def attempt(gen: int, manifest: dict | None) -> dict:
            # validate INSIDE the retry loop against THIS head: a lost
            # publish race re-validates, so a concurrent append of
            # violating rows can never slip under the new constraint
            # (the mirror of the write-side cons_now re-check); a table
            # with no data files yet — including the constraint-only
            # manifests this method itself publishes — has nothing to
            # validate
            if manifest and any(manifest["partitions"].values()):
                self._enforce(
                    self._effective_df(manifest), {name: predicate}
                )
            base = manifest or _EMPTY_MANIFEST
            cons = {**base.get("constraints", {}), name: predicate}
            return {**base, "constraints": cons, "op": "ADD CONSTRAINT"}

        return self._transact(attempt)

    def evolve_partition_spec(
        self,
        partition_transforms: dict,
        partition_by: list[str] | None = None,
    ) -> int:
        """Change the table's HIDDEN-PARTITION TRANSFORMS — and, when
        ``partition_by`` is given, the PARTITION-COLUMN LIST itself —
        without rewriting a byte — Iceberg partition-spec evolution: a
        100 TB table can move from bucket[8] to bucket[16], or grow its
        key space from (region,) to (region, day), and (a) files
        already written keep their old spec AND their old partition
        keys, (b) new commits route and stamp under the new spec, (c)
        pruning consults THE SPEC EACH FILE WAS WRITTEN UNDER (per-file
        ``__spec`` stamp), so a source-column predicate maps to
        bucket[8] bounds for old files and bucket[16] bounds for new —
        never cross-era, never wrong.

        COLUMN evolution (Iceberg add/remove partition field): the
        registry records each spec's column list (``spec_columns``);
        old partitions stay addressable under their era's keys (the
        routing-directory hex encodes the era's columns), rewrites
        locate existing rows by their FILE's partition key rather than
        re-deriving under the current columns, and old files simply
        carry no stats/constraints for a newly added partition column —
        pruning on it skips them conservatively.
        ``rewrite_to_current_spec`` migrates old eras when wanted.

        Metadata-only commit; returns the committed version."""
        new = {
            k: tuple(v) for k, v in dict(partition_transforms).items()
        }
        new_cols = (
            list(partition_by) if partition_by is not None else None
        )
        if new_cols is not None and not new_cols:
            raise ValueError("partition_by cannot evolve to empty")
        target_cols = new_cols if new_cols is not None else self.partition_by
        for tcol in new:
            if tcol not in target_cols:
                raise ValueError(
                    f"transform column {tcol!r} must be in partition_by"
                )

        def attempt(gen: int, manifest: dict | None) -> dict:
            if manifest is None:
                raise NotFoundError(
                    "cannot evolve a never-committed table: construct "
                    "it with the desired transforms instead"
                )
            specs = {
                sid: {k: list(v) for k, v in tr.items()}
                for sid, tr in self._spec_registry(manifest).items()
            }
            new_sid = str(max(int(s) for s in specs) + 1)
            specs[new_sid] = {k: list(v) for k, v in new.items()}
            # column registry: backfill every pre-existing spec with the
            # PRE-evolution column list (columns never changed before
            # spec_columns existed), then record the new spec's list
            spec_columns = {
                sid: list(cols)
                for sid, cols in (manifest.get("spec_columns") or {}).items()
            }
            for sid in specs:
                if sid != new_sid and sid not in spec_columns:
                    spec_columns[sid] = list(self.partition_by)
            spec_columns[new_sid] = list(target_cols)
            return {
                **manifest,
                "specs": specs,
                "current_spec": new_sid,
                "spec_columns": spec_columns,
                "op": "EVOLVE SPEC",
            }

        version = self._transact(attempt)
        self.partition_transforms = dict(new)
        self.partition_by = list(target_cols)
        return version

    def partition_spec(self) -> tuple[str, dict]:
        """(active spec id, its transforms)."""
        _gen, manifest = self._current()
        sid = (
            str(manifest.get("current_spec", "0")) if manifest else "0"
        )
        return sid, dict(self.partition_transforms)

    def rewrite_to_current_spec(self) -> int | None:
        """MIGRATE old-spec data to the current partition spec — the
        Iceberg ``rewriteDataFiles`` maintenance action that retires
        spec-evolution debt: every partition holding a file NOT stamped
        with the current spec is read (pending equality deletes
        applied), its rows re-derive their transform columns under the
        current spec, and ONE write job lands them in their new-spec
        partitions; untouched partitions carry by reference.  After
        this commits, point reads plan single-era files again (the
        any-spec/mixed fallbacks stop paying the multi-era tax), and a
        second call is a no-op ``None`` — idempotent.  Run it partition
        batch by partition batch off-peak on a 100 TB table; nothing
        requires it for correctness (reads are exact across eras either
        way)."""
        batch_dir = uuid.uuid4().hex

        def attempt(gen: int, manifest: dict | None) -> dict | None:
            if manifest is None:
                raise NotFoundError(f"table never committed: {self.root}")
            if not manifest.get("specs"):
                return None  # never evolved: nothing to migrate
            cur = str(manifest.get("current_spec", "0"))
            stats = manifest.get("stats", {})
            stale = {
                pk
                for pk, files in manifest["partitions"].items()
                if any(
                    str(stats.get(f, {}).get("__spec", "")) != cur
                    for f in files
                )
            }
            if not stale:
                return None
            batch = self._effective_df(manifest, pkeys=stale)
            # a partition DATA column added by column evolution may
            # predate every stale file (schema evolution added it
            # later): surface it as typed NULLs so routing works; a
            # TRANSFORM column re-derives below, but its SOURCE must
            # exist in the data
            schema = T.StructType.fromDDL(manifest["schema_ddl"])
            types = {f.name: f.dataType for f in schema.fields}
            for c in self.partition_by:
                if c in batch.columns or c in self.partition_transforms:
                    continue
                batch = batch.withColumn(
                    c, F.lit(None).cast(types.get(c, T.StringType()))
                )
            for tcol, spec in self.partition_transforms.items():
                if spec[1] not in batch.columns:
                    raise ValueError(
                        f"cannot rewrite to current spec: transform "
                        f"source column {spec[1]!r} is absent from the "
                        f"stale files' data"
                    )
            batch = self._with_partition_transforms(batch)
            # rows migrate: they route under the CURRENT spec
            return self._rewrite(
                manifest,
                batch.withColumn(_PK_COL, self._pk_expr()),
                batch_dir,
                stale,
                "REWRITE SPEC",
                spec_stamp=cur,
            )

        return self._transact(attempt, batch_dir)

    def properties(self) -> dict[str, str]:
        """Current table properties — the Iceberg/Delta table-property
        map (``TBLPROPERTIES``): string key/value pairs carried forward
        through every commit, versioned with the manifest (time-travel
        reads see the properties of their snapshot via
        ``properties_at``)."""
        m = self._current()[1]
        return dict(m.get("props", {})) if m else {}

    def properties_at(self, version: int | str) -> dict[str, str]:
        m = self._manifest_at(version)
        return dict(m.get("props", {})) if m else {}

    def set_property(self, key: str, value: str) -> int:
        """Set one table property as a metadata-only commit (file lists
        untouched).  Returns the committed version.  Properties survive
        every later data commit; ``restore`` restores the target
        snapshot's properties along with its data."""

        def attempt(gen: int, manifest: dict | None) -> dict:
            base = manifest or _EMPTY_MANIFEST
            props = {**base.get("props", {}), str(key): str(value)}
            return {**base, "props": props, "op": "SET PROPERTY"}

        return self._transact(attempt)

    def drop_constraint(self, name: str) -> int:

        def attempt(gen: int, manifest: dict | None) -> dict:
            if manifest is None or name not in manifest.get("constraints", {}):
                raise NotFoundError(f"no such constraint: {name}")
            cons = dict(manifest["constraints"])
            del cons[name]
            return {**manifest, "constraints": cons, "op": "DROP CONSTRAINT"}

        return self._transact(attempt)

    def _enforce(self, batch: DataFrame, cons: dict[str, str]) -> None:
        """Reject a batch violating any CHECK constraint.  All
        constraints fold in ONE aggregation over the batch (dq06's
        shape: one codegen counter per rule, a single scan no matter
        how many constraints the table carries)."""
        if not cons:
            return
        names = sorted(cons)
        counters = [
            F.sum(
                (~F.coalesce(F.expr(cons[n]), F.lit(True))).cast("long")
            ).alias(f"v{i}")
            for i, n in enumerate(names)
        ]
        row = batch.agg(*counters).collect()[0]
        bad = {
            n: int(row[f"v{i}"])
            for i, n in enumerate(names)
            if int(row[f"v{i}"] or 0) > 0
        }
        if bad:
            raise ValidationError(
                "CHECK constraint violation(s), batch rejected: "
                + ", ".join(f"{n} ({c} rows)" for n, c in sorted(bad.items()))
            )

    # -- RESTORE -----------------------------------------------------------
    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF: a NEW commit re-pointing
        the table at an old version's file set.  Metadata-only — data
        files are shared by reference, so restoring 100 TB costs one
        manifest write; history is preserved (the rollback itself is
        auditable via ``history()``/``changes()`` and can be restored
        over again).  Writer txn watermarks carry from the HEAD, not
        the target — a restore must not make replayed streaming batches
        re-appliable."""
        target = self._manifest_at(version)
        if target is None:
            raise NotFoundError(f"version {version} not available")

        def attempt(gen: int, head: dict | None) -> dict:
            new_manifest = {
                "op": "RESTORE",
                "partitions": target["partitions"],
                "stats": target.get("stats", {}),
                "schema_ddl": target["schema_ddl"],
                "constraints": dict(target.get("constraints", {})),
                "deletes": dict(target.get("deletes", {})),
                "txns": dict(head.get("txns", {})) if head else {},
                "props": dict(target.get("props", {})),
            }
            # The spec registry is TABLE metadata, not snapshot data
            # (Iceberg: restore re-points file sets; partition specs and
            # the current-spec setting survive).  Carrying only the
            # TARGET's registry would be a correctness bug: restoring to
            # a pre-evolution snapshot would drop the registry, and a
            # handle whose active spec is the evolved one would then map
            # predicates under the NEW transforms against files written
            # under the OLD — wrongly pruning them.  Keep the HEAD's
            # registry (a superset of the target's: evolution only
            # appends), falling back to the target's.
            spec_src = head if head and head.get("specs") else target
            if spec_src.get("specs"):
                new_manifest["specs"] = dict(spec_src["specs"])
                new_manifest["current_spec"] = spec_src.get(
                    "current_spec", "0"
                )
                if spec_src.get("spec_columns"):
                    new_manifest["spec_columns"] = dict(
                        spec_src["spec_columns"]
                    )
            return new_manifest

        return self._transact(attempt)

    def append(self, batch: DataFrame, txn: tuple[str, int] | None = None) -> int:
        """Blind append — the O(batch) ingest fast path: ONE write job
        routes the batch into per-partition files which are ADDed to
        each partition's file list; nothing existing is read or
        rewritten.  No key dedup (use ``upsert`` for MERGE semantics).
        Appends accumulate files per partition; ``compact`` folds them
        back.

        ``txn=(app_id, version)`` makes the commit IDEMPOTENT per
        writer: a batch whose version is already recorded for its app
        commits nothing and returns the current version — exactly-once
        sinks for Structured Streaming's replayed micro-batches
        (streaming/lake_sink.py)."""
        gen0, head = self._current()
        if self._txn_applied(head, txn):
            return gen0
        # era-pure batch: every derived value computed under THIS spec
        batch_sid = str(head.get("current_spec", "0")) if head else "0"
        self._require_partition_columns(batch)
        batch = self._with_partition_transforms(batch)
        enforced = dict(head.get("constraints", {})) if head else {}
        self._enforce(batch, enforced)
        batch = batch.localCheckpoint(eager=True)
        # validate schema compatibility against the current head BEFORE
        # writing anything (an incompatible batch must not leave files)
        self._merged_schema_ddl(batch.schema, head)
        # the batch's files and stats are independent of the manifest
        # head, so write ONCE; a lost publish race only re-merges the
        # manifest document.
        batch_dir = uuid.uuid4().hex
        produced = self._write_partitioned(batch, batch_dir)
        batch_stats = self._collect_stats_for_batch(batch_dir, produced)

        def attempt(gen: int, manifest: dict | None) -> dict | int:
            nonlocal enforced
            if self._txn_applied(manifest, txn):
                # a concurrent replica of this writer won the race with
                # the same batch — ours is redundant (its files drop)
                return gen
            # a constraint ADDed since our head read must still gate
            # this batch (the metadata-conflict analog of Delta's commit
            # check) — one extra aggregation only when the set moved
            cons_now = dict(manifest.get("constraints", {})) if manifest else {}
            if cons_now != enforced:
                self._enforce(batch, cons_now)
                enforced = cons_now
            new_partitions = dict(manifest["partitions"]) if manifest else {}
            for pkey, rel in produced.items():
                new_partitions[pkey] = [*new_partitions.get(pkey, []), rel]
            return self._next_manifest(
                manifest,
                new_partitions,
                produced,
                batch_stats,
                # a CONCURRENT commit may have made this batch
                # incompatible after the pre-write validation passed
                self._merged_schema_ddl(batch.schema, manifest),
                # appended files postdate every pending delete (their
                # applies_to lists cannot name them), so entries carry
                self._deletes_minus(manifest, set()),
                "APPEND",
                txn=txn,
                spec_stamp=batch_sid,
            )

        return self._transact(attempt, batch_dir, keep_batch=True)

    def delete_where(self, condition) -> int:
        """Partition-pruned delete (the GDPR path): scan once to find
        partitions holding matching rows, rewrite only those WITHOUT the
        matches (ONE write job), carry everything else by reference.  A
        partition whose rows all match disappears from the manifest.
        SQL DELETE semantics: only rows where ``condition`` is TRUE are
        removed — NULL-predicate rows survive."""
        batch_dir = uuid.uuid4().hex

        def attempt(gen: int, manifest: dict | None) -> dict:
            if manifest is None:
                raise NotFoundError(f"table never committed: {self.root}")
            current = self._effective_df(manifest, with_file=True)
            # era-exact: matched rows attribute to the manifest key of
            # the FILE holding them (re-deriving via _pk_expr would
            # miss old-era partitions after a column evolution)
            touched = self._holding_pkeys(current.filter(condition))
            kept = None
            if touched:
                kept = keep_unmatched(  # DELETE drops TRUE rows only
                    self._effective_df(
                        manifest, pkeys=touched, with_file=True
                    ),
                    condition,
                )
                # pure rewrite: survivors keep their era-exact key —
                # re-routing under the current spec would land old-era
                # rows on NEW-era keys and clobber untouched partitions
                kept = kept.withColumn(
                    _PK_COL, self._src_hex_expr()
                ).drop(_SRC_COL)
            return self._rewrite(manifest, kept, batch_dir, touched, "DELETE")

        return self._transact(attempt, batch_dir)

    def delete_where_eq(self, condition) -> int:
        """Merge-on-read DELETE via EQUALITY-DELETE files (the Iceberg
        equality-delete / Delta deletion-vector analog): instead of
        rewriting every touched partition (``delete_where``), commit a
        small per-partition file of the matched rows' KEY tuples; reads
        anti-join it until ``compact``/the next rewrite materializes.
        Cost is O(matched keys) write + one manifest — independent of
        partition sizes, the right shape when a 100 TB table loses a few
        rows per partition (GDPR erasure across years of history).

        Semantics: KEY-granularity — every row sharing a matched row's
        key is deleted (the table's MERGE contract keeps keys unique,
        where the two notions coincide); rows appended AFTER this
        commit keep deleted keys alive (each delete entry records the
        files it applies to — Iceberg's sequence-number rule).  SQL
        DELETE matching: only rows where ``condition`` is TRUE match.
        Returns the committed version (unchanged when nothing matched)."""
        batch_dir = uuid.uuid4().hex

        def attempt(gen: int, manifest: dict | None) -> dict | int:
            if manifest is None:
                raise NotFoundError(f"table never committed: {self.root}")
            effective = self._effective_df(manifest, with_file=True)
            matched_rows = effective.filter(
                F.coalesce(condition, F.lit(False))
            )
            # KEY-granular across partitions: a matched key's duplicates
            # may live in OTHER partitions (raw appends with moved
            # partition values) — locate every row sharing a matched
            # key, so each holding partition gets a delete entry.  When
            # keys subsume the partition spec AND only one column era
            # exists, keys cannot span partitions and the second pass
            # is skipped (upsert's short-circuit).
            if set(self.partition_by) <= set(
                self.key_cols
            ) and not self._column_eras_mixed(manifest):
                holders = matched_rows
            else:
                holders = self._null_safe_key_join(
                    effective,
                    matched_rows.select(*self.key_cols).dropDuplicates(),
                    "left_semi",
                )
            # delete key files route by the HOLDING file's era-exact
            # hex (already the canonical _PK_COL encoding), so an
            # old-era partition's delete entry lands under ITS key;
            # _write_partitioned strips the routing column as usual
            matched = holders.select(
                *dict.fromkeys([*self.key_cols]),
                self._src_hex_expr().alias(_PK_COL),
            ).dropDuplicates()
            return self._delete_file_commit(
                gen, manifest, matched, batch_dir, "DELETE EQ", {}
            )

        return self._transact(attempt, batch_dir)

    def delete_where_pos(self, condition) -> int:
        """Merge-on-read DELETE via POSITIONAL-DELETE files (the Iceberg
        v2 position-delete / Delta deletion-vector analog): commit a
        small per-partition file of the matched rows' PHYSICAL
        addresses — (root-relative data-file path, row ordinal) from the scan's
        ``_metadata`` pseudo-column — and let reads anti-join it until
        the next rewrite materializes.

        Semantics: ROW-granularity, key-free — exactly the rows where
        ``condition`` is TRUE disappear, and OTHER rows sharing their
        key survive.  This is the delete shape for append-only /
        duplicate-key tables (raw event logs, document shards) where
        ``delete_where_eq``'s key-granular contract would over-delete;
        it is also the only merge-on-read delete that needs no key
        columns at all.  Rows appended AFTER this commit land in new
        files and trivially survive (each entry records the files it
        applies to — the same sequence-number rule as equality
        deletes).  Cost is O(matched rows) write + one manifest —
        independent of partition sizes.

        Returns the committed version (unchanged when nothing matched).
        Reference analog: per-item DynamoDB deletes
        (backend/datasets/delete.py) re-expressed as a lake-format
        metadata commit."""
        # SQL DELETE matching: only TRUE matches; rows already removed
        # by pending deletes never reach the filter (the effective view
        # subtracts them), so addresses are never re-recorded.
        return self._delete_matched_pos(
            lambda eff: eff.filter(F.coalesce(condition, F.lit(False)))
        )

    def _delete_matched_pos(
        self, matcher, txn: tuple[str, int] | None = None
    ) -> int:
        """Shared positional-delete commit loop: ``matcher(effective)``
        selects the rows to delete from the effective view (scan-time
        position columns attached); their (root-relative file path, row
        ordinal) addresses commit as a ``kind: "pos"`` entry.  Routing
        is era-exact by the HOLDING file's hex, same as equality-delete
        key files.  ``delete_where_pos`` passes a predicate filter;
        ``apply_content_changes`` passes a multiplicity-capped
        full-row match (and a ``txn`` stamp so a crash-replayed apply
        skips the phase instead of failing its multiplicity check)."""
        batch_dir = uuid.uuid4().hex

        def attempt(gen: int, manifest: dict | None) -> dict | int:
            if manifest is None:
                raise NotFoundError(f"table never committed: {self.root}")
            if self._txn_applied(manifest, txn):
                return gen  # replayed phase (possibly by a racing replica)
            effective = self._effective_df(
                manifest, with_file=True, with_pos=True
            )
            matched = matcher(effective).select(
                F.col(_POSF_COL).alias("__file"),
                F.col(_POSI_COL).alias("__pos"),
                self._src_hex_expr().alias(_PK_COL),
            )
            return self._delete_file_commit(
                gen,
                manifest,
                matched,
                batch_dir,
                "DELETE POS",
                {"kind": "pos", "addr": _POS_ADDR_FORMAT},
                txn=txn,
            )

        return self._transact(attempt, batch_dir)

    def apply_content_changes(
        self,
        feed: DataFrame,
        txn: tuple[str, int] | None = None,
        atomic: bool = False,
    ) -> int:
        """Apply a CONTENT-mode change feed to THIS table — the Iceberg
        apply-changelog / Delta MERGE-from-CDF pattern for
        duplicate-key tables, where key-based MERGE is undefined:
        ``delete`` rows remove EXACTLY their multiplicity of matching
        full rows (as one positional-delete commit), ``insert`` rows
        append (one append commit).  A replica that seeds from a
        snapshot and applies each span's ``changes(...)`` feed
        converges to the source's multiset state — no keys required.

        Multiplicity is enforced, not approximated: per distinct full
        row, exactly ``count(delete rows)`` live occurrences are
        addressed (ordered by physical position for determinism); if
        the table holds FEWER matching occurrences than the feed
        deletes, the apply RAISES before committing anything — a feed
        replayed against the wrong snapshot must fail loudly, not
        half-apply.  Map-typed columns group through the same
        canonicalization as the content diff itself.

        By default not atomic across the two commits (delete then
        append) — a reader between them sees the deletes without the
        inserts.  ``atomic=True`` closes that window by COMPOSING with
        the WAP machinery: both phases commit to an anonymous staged
        chain (``begin_staged``) and land on the parent as ONE
        metadata-only FAST-FORWARD commit, so parent readers jump
        straight from pre- to post-state; a concurrent parent commit
        surfaces as CommitConflict at publish and the apply re-stages
        against the new base (bounded retries).  With ``txn`` either
        mode IS exactly-once under crash replay: the two
        phases stamp derived txn ids (``<app>#content-del`` /
        ``<app>#content-ins``, same version), so a replayed apply skips
        whatever already committed — including the half-applied case
        (crash between the delete and append commits), where the
        replay would otherwise fail its own multiplicity check because
        the deleted rows are already gone.  Net content feeds never
        contain the same full row on both sides, so delete-then-append
        order is always safe.

        Scale shape: the delete path joins the feed's distinct deleted
        rows against only the partitions holding them (full-row hash
        keys — uniform, no skew) and windows WITHIN identical-row
        groups; cost is O(matched rows + feed), never O(table).  Known
        skew bound: the per-group row_number sorts each MATCHED
        duplicate group on one task, so deleting a few copies out of a
        single row duplicated millions of times serializes that
        group's sort (it spills and completes; every other group is
        untouched) — the multiset-exactness contract requires ordering
        the group, and typical feeds delete whole near-dup groups whose
        size is physically bounded."""
        gen0, manifest = self._current()
        if manifest is None:
            raise NotFoundError(f"table never committed: {self.root}")
        del_txn = ins_txn = None
        if txn is not None:
            app, ver = str(txn[0]), int(txn[1])
            del_txn = (f"{app}#content-del", ver)
            ins_txn = (f"{app}#content-ins", ver)
            if self._txn_applied(manifest, ins_txn):
                # the append phase is last: its stamp means the whole
                # apply landed — replay reads nothing, commits nothing
                return gen0
        if "_change_type" not in feed.columns:
            raise ValidationError(
                "not a change feed: missing _change_type column"
            )
        schema_cols = [
            f.name
            for f in T.StructType.fromDDL(manifest["schema_ddl"]).fields
        ]
        missing = [c for c in schema_cols if c not in feed.columns]
        if missing:
            raise ValidationError(
                f"change feed is missing table columns {missing}: a "
                "content apply needs every column (a partial feed "
                "would null-fill inserts and under-match deletes)"
            )
        if atomic:
            # WAP composition (see docstring).  The chain is seeded
            # from the parent manifest, so the inner apply inherits
            # the parent's txn ledger (replay short-circuits) and the
            # published FAST-FORWARD manifest carries the two-phase
            # stamps back onto the parent.  A crash before publish
            # orphans only staging metadata (vacuum reclaims it); the
            # replay re-stages from the unchanged parent state.
            for _ in range(_MAX_RETRIES):
                staged = self.begin_staged()
                try:
                    staged.table.apply_content_changes(feed, txn=txn)
                except BaseException:
                    self.abort_staged(staged)
                    raise
                try:
                    return self.publish_staged(staged)
                except CommitConflict:
                    # a writer landed on the parent mid-stage: drop
                    # the chain (and any files only it wrote) and
                    # re-derive against the new base
                    self.abort_staged(staged)
            raise CommitConflict(
                "manifest-table contention: retries exhausted"
            )
        # SCHEMA EVOLUTION rides through: the feed's data columns are
        # the union of the SOURCE's schemas across the span (changes()
        # aligns both sides), which may exceed this replica's current
        # schema.  Dropping the extras would silently lose the evolved
        # column from every applied insert, so ``cols`` is the feed's
        # full data-column list — the append phase widens the replica
        # exactly as a direct evolved append would, and the delete
        # phase aligns the effective view with typed NULLs (an
        # old-era row carries NULL for the new column on BOTH sides,
        # so full-row matching is unaffected).
        cols = [
            c
            for c in feed.columns
            if c not in ("_change_type", "_commit_version")
        ]
        dels = feed.filter(F.col("_change_type") == "delete").select(*cols)
        ins = feed.filter(F.col("_change_type") == "insert").select(*cols)
        bad = feed.filter(
            # isNull explicitly: ~isin() is NULL (not TRUE) for a NULL
            # _change_type, which would silently drop the row from both
            # phases instead of failing validation
            F.col("_change_type").isNull()
            | ~F.col("_change_type").isin("insert", "delete")
        ).count()
        if bad:
            raise ValidationError(
                f"{bad} feed rows carry a non-content _change_type "
                "(update_* or NULL): apply key-mode feeds through upsert/"
                "delete_where_eq, or re-derive the span with "
                "mode='content'"
            )
        canon = _map_canon_cols([dels], cols)
        n_del = dels.count()
        ver = gen0
        if n_del:

            def matcher(eff: DataFrame) -> DataFrame:
                e = eff
                for c in cols:
                    if c not in e.columns:
                        # feed column from a source schema evolution the
                        # replica has not seen yet: every live replica
                        # row predates it, so typed NULL aligns exactly
                        e = e.withColumn(
                            c, F.lit(None).cast(dels.schema[c].dataType)
                        )
                keyed = []
                for c in cols:
                    if c in canon:
                        kc = f"__ek_{c}"
                        e = e.withColumn(kc, _canon_expr(c))
                        keyed.append(kc)
                    else:
                        keyed.append(c)
                dc = (
                    dels.select(
                        *[
                            (
                                _canon_expr(c) if c in canon else F.col(c)
                            ).alias(f"__dk_{c}")
                            for c in cols
                        ]
                    )
                    .groupBy(*[f"__dk_{c}" for c in cols])
                    .agg(F.count(F.lit(1)).alias("__want"))
                )
                cond = F.lit(True)
                for k, c in zip(keyed, cols):
                    cond = cond & F.col(k).eqNullSafe(F.col(f"__dk_{c}"))
                w = Window.partitionBy(*keyed).orderBy(
                    _POSF_COL, _POSI_COL
                )
                m = (
                    e.join(dc, cond, "inner")
                    .withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") <= F.col("__want"))
                )
                got = m.count()
                if got != n_del:
                    raise ValidationError(
                        f"content feed deletes {n_del} occurrences but "
                        f"only {got} matching live rows exist — the "
                        "feed does not apply to this table state "
                        "(wrong snapshot, or already applied?)"
                    )
                return m

            ver = self._delete_matched_pos(matcher, txn=del_txn)
        if not ins.isEmpty():
            ver = self.append(ins, txn=ins_txn)
        return ver

    def overwrite_where(
        self,
        batch: DataFrame,
        condition,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """``INSERT OVERWRITE`` by predicate — the Delta ``replaceWhere``
        contract: atomically replace exactly the rows where
        ``condition`` is TRUE with ``batch`` (the reprocess-a-slice
        path: rebuild one day/region without touching the rest).  Every
        batch row must itself satisfy ``condition`` — rejected before
        anything is written otherwise, so a misdirected reprocess can
        never leak rows outside its declared slice.  Only partitions
        holding replaced rows or receiving batch rows are rewritten
        (ONE write job); everything else carries by reference.
        ``txn`` gives the same per-writer idempotency as append/upsert."""
        gen0, head = self._current()
        if self._txn_applied(head, txn):
            return gen0
        if head is None:
            raise NotFoundError(f"table never committed: {self.root}")
        self._require_partition_columns(batch)
        batch = self._with_partition_transforms(batch)
        enforced = dict(head.get("constraints", {})) if head else {}
        self._enforce(batch, enforced)
        batch = batch.localCheckpoint(eager=True)
        self._merged_schema_ddl(batch.schema, head)
        stray = (
            batch.filter(~F.coalesce(condition, F.lit(False))).limit(1).count()
        )
        if stray:
            raise ValueError(
                "overwrite_where batch contains rows outside the "
                "replacement predicate (replaceWhere contract)"
            )
        batch_dir = uuid.uuid4().hex

        def attempt(gen: int, manifest: dict | None) -> dict | int:
            nonlocal enforced
            if self._txn_applied(manifest, txn):
                return gen
            if manifest is None:
                raise NotFoundError(f"table never committed: {self.root}")
            cons_now = dict(manifest.get("constraints", {}))
            if cons_now != enforced:  # constraint ADDed since head read
                self._enforce(batch, cons_now)
                enforced = cons_now
            partitions = manifest["partitions"]
            schema_ddl = self._merged_schema_ddl(batch.schema, manifest)
            current = self._effective_df(manifest, with_file=True)
            # partitions losing rows to the predicate — era-exact, by
            # the holding file's key (see _src_hex_expr) ...
            touched = self._holding_pkeys(current.filter(condition))
            # ... plus partitions the replacement batch lands in
            touched |= {
                self._pk_from_hex(r.pk)
                for r in batch.select(self._pk_expr().alias("pk"))
                .distinct()
                .collect()
            }
            if any(partitions.get(pkey) for pkey in touched):
                kept = keep_unmatched(
                    self._effective_df(
                        manifest, pkeys=touched, with_file=True
                    ),
                    condition,
                )
                # kept rows keep their era-exact key; batch rows (null
                # _SRC_COL after the union) route under the current
                # spec — see upsert
                src = self._src_hex_expr()
                merged = (
                    kept.unionByName(batch, allowMissingColumns=True)
                    .withColumn(
                        _PK_COL,
                        F.when(
                            F.col(_SRC_COL).isNotNull()
                            & (src != F.lit("")),
                            src,
                        ).otherwise(self._pk_expr()),
                    )
                    .drop(_SRC_COL)
                )
            else:
                merged = batch.withColumn(_PK_COL, self._pk_expr())
            return self._rewrite(
                manifest,
                merged,
                batch_dir,
                touched,
                "REPLACE WHERE",
                schema_ddl=schema_ddl,
                txn=txn,
            )

        return self._transact(attempt, batch_dir)

    def compact(self, min_files: int = 2) -> int | None:
        """Fold every partition holding >= ``min_files`` files into one
        file — the maintenance job that keeps append-heavy tables from
        degrading scans with tiny files — as ONE rewrite job across all
        folded partitions.  Pure rewrite: row content is unchanged, so a
        concurrent upsert losing to a compaction (or vice versa) just
        retries as usual.  Returns the new version, or None when nothing
        needed compacting."""
        batch_dir = uuid.uuid4().hex

        def attempt(gen: int, manifest: dict | None) -> dict | None:
            if manifest is None:
                return None
            dmap = manifest.get("deletes", {})
            to_fold = {
                k
                for k, v in manifest["partitions"].items()
                # pending equality deletes also warrant folding: the
                # rewrite materializes them (merge-on-read -> rewritten)
                if len(v) >= min_files or k in dmap
            }
            if not to_fold:
                return None
            # pure rewrite: rows keep their era-exact key (see
            # delete_where) — folding never migrates partition eras
            merged = self._effective_df(
                manifest, pkeys=to_fold, with_file=True
            )
            merged = merged.withColumn(
                _PK_COL, self._src_hex_expr()
            ).drop(_SRC_COL)
            return self._rewrite(
                manifest, merged, batch_dir, to_fold, "COMPACT"
            )

        return self._transact(attempt, batch_dir)

    def rewrite_position_deletes(
        self, min_delete_ratio: float = 0.05
    ) -> int | None:
        """Targeted pos-delete compaction — the Iceberg
        ``rewrite_position_delete_files`` action analog, at partition
        granularity: materialize pending POSITIONAL deletes only in
        partitions where recorded addresses have accumulated past
        ``min_delete_ratio`` of the partition's physical rows.  Below
        the threshold merge-on-read stays the right trade (one tiny
        anti-join per read vs rewriting terabytes to drop a few rows);
        past it every read pays a growing anti-join tax and the rewrite
        amortizes.  Before this action, materialization only happened
        as a side effect of unrelated rewrites (compact/optimize touch
        EVERY deleted partition regardless of ratio).

        The decision is METADATA-only: address counts come from the
        delete entries' recorded ``rows`` and partition row counts from
        per-file ``__rows`` stats — zero parquet reads to decide; a
        partition whose counts predate recording is conservatively
        rewritten.  The rewrite itself is compact's pure-rewrite
        machinery (era-exact routing, deletes applied on read), so
        table content is hash-stable across the action and concurrent
        writers retry as usual.  Selected partitions' EQUALITY entries
        materialize along the way (the effective read applies both).
        Returns the new version, or None when no partition crosses the
        threshold."""
        batch_dir = uuid.uuid4().hex

        def attempt(gen: int, manifest: dict | None) -> dict | None:
            if manifest is None:
                return None
            partitions = manifest["partitions"]
            stats = manifest.get("stats", {})
            to_fold: set[str] = set()
            for pk, entries in manifest.get("deletes", {}).items():
                pos = [d for d in entries if d.get("kind") == "pos"]
                if not pos:
                    continue
                counts = [
                    stats.get(f, {}).get("__rows", [None])[0]
                    for f in partitions.get(pk, [])
                ]
                if any("rows" not in d for d in pos) or any(
                    c is None for c in counts
                ):
                    to_fold.add(pk)  # unknowable ratio: rewrite
                    continue
                n_addr = sum(int(d["rows"]) for d in pos)
                total = sum(int(c) for c in counts)
                if total == 0 or n_addr / total >= min_delete_ratio:
                    to_fold.add(pk)
            if not to_fold:
                return None
            merged = self._effective_df(
                manifest, pkeys=to_fold, with_file=True
            )
            merged = merged.withColumn(
                _PK_COL, self._src_hex_expr()
            ).drop(_SRC_COL)
            return self._rewrite(
                manifest, merged, batch_dir, to_fold, "REWRITE POS DELETES"
            )

        return self._transact(attempt, batch_dir)

    def optimize(
        self,
        sort_by: list[str],
        target_files: int = 8,
        strategy: str = "linear",
    ) -> int | None:
        """Cluster the table for data skipping — the OPTIMIZE
        (ZORDER BY) analog: rewrite every partition's rows into up to
        ``target_files`` RANGE-BUCKETED files ordered by ``sort_by``,
        each carrying tight min/max stats on the sort columns, so a
        point or range read prunes WITHIN a partition instead of
        scanning all of it.

        ``strategy`` picks the clustering order:

        - ``"linear"`` (default): lexicographic on ``sort_by`` — buckets
          cut on the FIRST column's value distribution, so only the
          leading column gets tight per-file ranges; trailing columns
          benefit only within equal leading runs.  Right when one
          column dominates predicates.
        - ``"zorder"``: Morton (bit-interleaved) order over 1-3 NUMERIC
          ``sort_by`` columns — per-file min/max become balanced
          hyper-rectangles, so predicates on ANY keyed column (alone or
          combined) prune, Delta's ``OPTIMIZE ... ZORDER BY``.  Column
          bounds for bit normalization come from one extra tiny
          aggregation over the table.

        One pass either way: per-partition cut points come from one
        ``percentile_approx`` aggregation over the ordering expression
        (collected — bounded by partitions × target_files scalars),
        broadcast back onto the scan to assign each row its range
        bucket, then ONE write job routes (partition, bucket) and sorts
        rows within each file.  The linear strategy's boundary column
        (and every zorder column) must be numeric — boundaries come
        from percentile_approx and the recorded stats must be
        JSON-round-trippable.  Pure rewrite — row content is unchanged,
        so concurrent-writer races retry as usual.  Like Delta's
        OPTIMIZE, clustering is maintenance: later commits to a
        partition replace its clustered files (their stats stay tight
        only until rewritten); re-run periodically.  Returns the new
        version, or None on an empty table."""
        if strategy not in ("linear", "zorder"):
            raise ValueError(f"unknown optimize strategy {strategy!r}")
        col0 = sort_by[0]
        _, head = self._current()
        if head is None:
            return None
        schema = T.StructType.fromDDL(head["schema_ddl"])
        must_be_numeric = sort_by if strategy == "zorder" else [col0]
        if strategy == "zorder" and not 1 <= len(sort_by) <= 3:
            raise ValueError("zorder clustering supports 1-3 columns")
        for c in must_be_numeric:
            c_type = next(
                (f.dataType for f in schema.fields if f.name == c), None
            )
            if not isinstance(c_type, _NUMERIC_TYPES):
                raise ValueError(
                    f"optimize sort key {c!r} must be numeric (range "
                    f"buckets come from percentile_approx and the stats "
                    f"must be JSON-recordable), got {c_type}"
                )
        bucket_col = "__mt_bkt"
        probs = [i / target_files for i in range(1, target_files)]
        batch_dir = uuid.uuid4().hex

        def attempt(gen: int, manifest: dict | None) -> dict | None:
            if manifest is None:
                return None
            if not any(manifest["partitions"].values()):
                return None
            df = self._effective_df(manifest)
            # a partition column added by COLUMN evolution may predate
            # some or all files.  TRANSFORM columns are derivable, so
            # fill their NULLs (rows from files that predate the column)
            # with the current spec's derivation — otherwise those rows
            # would route into a null-keyed partition and pruning on the
            # source column would degrade forever after an optimize.
            # Stored non-null values stay untouched (optimize is a pure
            # rewrite; a prior era's stored bucket values are that
            # era's truth).  Plain DATA columns cannot be invented:
            # absent ones surface as typed NULLs so routing resolves.
            dftypes = {
                f.name: f.dataType
                for f in T.StructType.fromDDL(manifest["schema_ddl"]).fields
            }
            for c in self.partition_by:
                if (
                    c in self.partition_transforms
                    and self.partition_transforms[c][1] in df.columns
                ):
                    texpr = self._transform_expr(c)
                    df = df.withColumn(
                        c,
                        F.coalesce(F.col(c), texpr)
                        if c in df.columns
                        else texpr,
                    )
                elif c not in df.columns:
                    df = df.withColumn(
                        c, F.lit(None).cast(dftypes.get(c, T.StringType()))
                    )
            keyed = df.withColumn(_PK_COL, self._pk_expr())
            if strategy == "zorder":
                # literal bounds make the Morton expression pure, so it
                # is re-evaluated for cuts, routing, and the in-file
                # sort without materializing a key column in the data
                brow = keyed.agg(
                    *[
                        F.min(F.col(c).cast("double")).alias(f"__lo_{c}")
                        for c in sort_by
                    ],
                    *[
                        F.max(F.col(c).cast("double")).alias(f"__hi_{c}")
                        for c in sort_by
                    ],
                ).collect()[0]
                order_expr = zorder_key_from_bounds(
                    sort_by,
                    {
                        c: (brow[f"__lo_{c}"], brow[f"__hi_{c}"])
                        for c in sort_by
                    },
                )
                in_file_order = [order_expr]
            else:
                order_expr = F.col(col0)
                in_file_order = [F.col(c) for c in sort_by]
            if probs:
                cuts = keyed.groupBy(_PK_COL).agg(
                    F.percentile_approx(order_expr, probs).alias("__cuts")
                )
                routed = (
                    keyed.join(F.broadcast(cuts), _PK_COL)
                    .withColumn(
                        bucket_col,
                        F.coalesce(
                            F.size(
                                F.filter(
                                    F.col("__cuts"),
                                    lambda c: c < order_expr,
                                )
                            ),
                            F.lit(0),  # NULL sort key -> bucket 0
                        ),
                    )
                    .drop("__cuts")
                )
            else:
                routed = keyed.withColumn(bucket_col, F.lit(0))
            out = os.path.join(self._data, batch_dir)
            (
                routed.repartition(F.col(_PK_COL), F.col(bucket_col))
                .sortWithinPartitions(*in_file_order)
                .write.partitionBy(_PK_COL, bucket_col)
                .mode("overwrite")
                .parquet(out)
            )
            # enumerate produced (partition, bucket) leaf dirs
            new_partitions: dict[str, list[str]] = {}
            produced: dict[str, str] = {}  # opaque composite key -> rel dir
            prefix = _PK_COL + "="
            for d in sorted(fsio.listdir(out)):
                if not d.startswith(prefix):
                    continue
                pkey = self._pk_from_hex(d[len(prefix):])
                for b in sorted(fsio.listdir(os.path.join(out, d))):
                    if not b.startswith(bucket_col + "="):
                        continue
                    rel = os.path.join(batch_dir, d, b)
                    new_partitions.setdefault(pkey, []).append(rel)
                    produced[rel] = rel
            # per-file stats: key/partition cols PLUS the sort columns
            # (the whole point — tight ranges per bucket), with the
            # shared meta aggregation (row counts + configured blooms)
            dfb = self._spark.read.parquet(out)  # discovers pk + bucket
            extra_sort_cols = [
                c
                for c in sort_by
                if c not in set(self.key_cols) | set(self.partition_by)
                and any(
                    f.name == c and isinstance(f.dataType, _STATS_TYPES)
                    for f in df.schema.fields
                )
            ]
            proj, aggs, parse = self._meta_aggs(df.schema)
            sort_dtypes = {f.name: f.dataType for f in df.schema.fields}
            for c in extra_sort_cols:
                aggs.extend(_minmax_exprs(c, sort_dtypes[c]))
                aggs.append(
                    F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}")
                )
            batch_stats: dict[str, dict[str, list]] = {}
            for r in (
                dfb.select(_PK_COL, bucket_col, *df.columns, *proj)
                .groupBy(_PK_COL, bucket_col)
                .agg(*aggs)
                .collect()
            ):
                rel = os.path.join(
                    batch_dir,
                    f"{_PK_COL}={r[_PK_COL]}",
                    f"{bucket_col}={r[bucket_col]}",
                )
                entry = parse(r)
                for c in extra_sort_cols:
                    entry[c] = [r[f"__mn_{c}"], r[f"__mx_{c}"], r[f"__nn_{c}"]]
                batch_stats[rel] = entry
            return self._next_manifest(
                manifest,
                new_partitions,
                produced,
                batch_stats,
                manifest["schema_ddl"],
                {},  # every partition was read with deletes applied
                "OPTIMIZE",
            )

        return self._transact(attempt, batch_dir)

    def _column_eras_mixed(self, manifest: dict | None) -> bool:
        """True when the manifest may hold partitions keyed under a
        DIFFERENT column list than the active one (after a partition-
        COLUMN evolution, until ``rewrite_to_current_spec`` retires the
        old era): the keys-subsume-partitioning short-circuit is then
        unsound — a key's partition IS a function of the key within one
        era, but the same key routes to different keys across eras —
        so rewrites must run the era-exact key-location probe.  A file
        without a ``__spec`` stamp post-evolution is conservatively
        treated as possibly-old-era."""
        if not manifest:
            return False
        sc = manifest.get("spec_columns")
        if not sc:
            return False  # columns never evolved
        cur_cols = sc.get(str(manifest.get("current_spec", "0")))
        if cur_cols is None:
            return True  # registry drift: stay conservative
        if all(list(c) == list(cur_cols) for c in sc.values()):
            return False  # transform-only evolution
        stats = manifest.get("stats", {})
        for files in manifest["partitions"].values():
            for f in files:
                sid = stats.get(f, {}).get("__spec")
                if sid is None or list(sc.get(str(sid), [])) != list(
                    cur_cols
                ):
                    return True
        return False

    def _non_current_era_files(self, manifest: dict) -> dict[str, list[str]]:
        """The sub-view of ``partitions`` holding only files NOT
        provably keyed under the current column list: files stamped
        with a spec whose column list differs, plus unstamped files
        (rewrite output — era unknown).  When keys subsume the current
        partition columns, ONLY these files can host a key's cross-era
        "move", so the key-location probe scans the old-era remnant
        instead of the whole table — the difference between O(table)
        and O(unmigrated debt) per MERGE on a 100 TB table mid-
        evolution."""
        sc = manifest.get("spec_columns") or {}
        cur_cols = list(
            sc.get(str(manifest.get("current_spec", "0")), self.partition_by)
        )
        stats = manifest.get("stats", {})
        out: dict[str, list[str]] = {}
        for pk, files in manifest["partitions"].items():
            keep = [
                f
                for f in files
                if stats.get(f, {}).get("__spec") is None
                or list(sc.get(str(stats[f]["__spec"]), [])) != cur_cols
            ]
            if keep:
                out[pk] = keep
        return out

    def _partitions_holding_keys(
        self, partitions: dict[str, list[str]], updates: DataFrame
    ) -> set[str]:
        """Partitions where the update batch's keys CURRENTLY live — the
        price of keys that can move between partitions.  Skipped
        entirely (see ``upsert``) when ``key_cols`` subsume
        ``partition_by`` within a single column era, because such keys
        provably cannot move.  Era-exact: rows attribute to the
        manifest key of the FILE holding them (see ``_src_hex_expr``),
        so old-era partitions are found after a column evolution."""
        current_files = [
            os.path.join(self._data, f)
            for files in partitions.values()
            for f in files
        ]
        if not current_files:
            return set()
        existing = (
            self._spark.read.option("mergeSchema", "true")
            .parquet(*current_files)
            .withColumn(_SRC_COL, F.input_file_name())
        )
        return self._holding_pkeys(
            self._null_safe_key_join(existing, updates, "left_semi")
        )

    def upsert(
        self, updates: DataFrame, txn: tuple[str, int] | None = None
    ) -> int:
        """MERGE: update rows win on key collision, unmatched existing
        rows survive.  Only partitions holding updated keys (on EITHER
        side of a key's partition move) are rewritten — merged and
        written as ONE job; every other partition is carried forward by
        file reference.  When the key columns subsume the partition
        columns (the common fact-table layout) keys cannot move
        partitions, so the key-location probe over the current table is
        skipped entirely.  Serializable under concurrent writers via
        publish-retry.  Returns the committed version.

        ``txn=(app_id, version)`` gives the same per-writer idempotency
        as ``append``: an already-recorded batch version is a no-op —
        the contract the streaming MERGE sink relies on when Structured
        Streaming replays its last micro-batch after a crash."""
        gen0, head = self._current()
        if self._txn_applied(head, txn):
            return gen0
        self._require_partition_columns(updates)
        updates = self._with_partition_transforms(updates)
        enforced = dict(head.get("constraints", {})) if head else {}
        self._enforce(updates, enforced)
        updates = updates.dropDuplicates(self.key_cols).localCheckpoint(
            eager=True
        )
        # validate schema compatibility against the current head BEFORE
        # any probe or write work (an incompatible batch must fail fast)
        self._merged_schema_ddl(updates.schema, head)
        keys_pin_partitions = set(self.partition_by) <= set(self.key_cols)
        batch_dir = uuid.uuid4().hex

        def attempt(gen: int, manifest: dict | None) -> dict | int:
            nonlocal enforced
            if self._txn_applied(manifest, txn):
                return gen
            # a constraint ADDed since our head read must still gate
            # this batch (see append)
            cons_now = dict(manifest.get("constraints", {})) if manifest else {}
            if cons_now != enforced:
                self._enforce(updates, cons_now)
                enforced = cons_now
            partitions = manifest["partitions"] if manifest else {}

            # partitions the update batch lands in
            touched = {
                self._pk_from_hex(r.pk)
                for r in updates.select(self._pk_expr().alias("pk"))
                .distinct()
                .collect()
            }
            # ... plus partitions where updated keys currently live —
            # unnecessary when keys subsume the partition spec (a key's
            # partition is a function of the key: it cannot move) AND
            # only one column era exists (across eras the same key
            # routes to different partition keys, so it CAN "move").
            # When ONLY the era mixing forces the probe, scan just the
            # non-current-era remnant: current-era files provably hold
            # each key at its derived partition, which `touched`
            # already covers.
            if partitions and not keys_pin_partitions:
                touched |= self._partitions_holding_keys(partitions, updates)
            elif partitions and self._column_eras_mixed(manifest):
                touched |= self._partitions_holding_keys(
                    self._non_current_era_files(manifest), updates
                )

            has_old = any(partitions.get(pkey) for pkey in touched)
            if has_old:
                # effective content: pending equality deletes in the
                # touched partitions are MATERIALIZED by this rewrite
                old = self._effective_df(
                    manifest, pkeys=touched, with_file=True
                )
                # anti-join against ALL update keys (null-safe), not
                # just each partition's updates: a key that MOVED
                # partitions has its new row land elsewhere, but its old
                # row here must still be removed.
                survivors = self._null_safe_key_join(
                    old, updates, "left_anti"
                )
                # allowMissingColumns: a schema-evolving commit widens
                # updates relative to carried-forward files; survivors
                # take NULL for columns they predate.  Routing: SURVIVORS
                # keep their era-exact key (their source file's hex —
                # re-deriving would land old-era rows on new-era keys
                # and clobber untouched partitions); UPDATE rows (null
                # _SRC_COL after the union) route under the current spec.
                src = self._src_hex_expr()
                merged = (
                    survivors.unionByName(
                        updates, allowMissingColumns=True
                    )
                    .withColumn(
                        _PK_COL,
                        F.when(
                            F.col(_SRC_COL).isNotNull()
                            & (src != F.lit("")),
                            src,
                        ).otherwise(self._pk_expr()),
                    )
                    .drop(_SRC_COL)
                )
            else:
                merged = updates.withColumn(_PK_COL, self._pk_expr())

            # re-validate against THIS loop's head before writing: a
            # concurrent schema-evolving commit may have made the batch
            # incompatible after the pre-loop validation passed — fail
            # here, before any files exist to leak
            schema_ddl = self._merged_schema_ddl(updates.schema, manifest)

            return self._rewrite(
                manifest,
                merged,
                batch_dir,
                touched,
                "MERGE",
                schema_ddl=schema_ddl,
                txn=txn,
            )

        return self._transact(attempt, batch_dir)


def _file_overlaps(
    file_stats: dict | None,
    where: dict,
    probes: dict[str, list[list[tuple[int, int]]]] | None = None,
) -> bool:
    """Conservative overlap test: prune a file only when some ``where``
    column's recorded stats provably exclude every requested value —
    [min, max] for value specs, the null count for IS-NULL specs, the
    bloom bitset for equality/IN-list specs on bloom-indexed columns
    (an IN-list survives if ANY member might be present).  Missing
    stats, NULL bounds, or cross-type comparisons keep the file."""
    if not file_stats:
        return True
    for col, spec in where.items():
        bounds = file_stats.get(col)
        mn = mx = n_null = None
        if bounds:
            mn, mx = bounds[0], bounds[1]
            n_null = bounds[2] if len(bounds) > 2 else None
        if spec is None:
            # IS NULL: a file recorded as null-free cannot match
            if bounds and n_null == 0:
                return False
            continue
        if isinstance(spec, list):
            # IN-list: track which members remain possible for this
            # file; indices stay aligned with the per-value probe sets
            alive = set(range(len(spec)))
            if mn is not None and mx is not None:
                alive = {
                    i
                    for i in alive
                    if not (
                        _safe_lt(mx, spec[i]) or _safe_lt(spec[i], mn)
                    )
                }
            if probes and col in probes:
                words = file_stats.get(f"__bloom:{col}")
                sets = probes[col]
                if words:
                    alive = {
                        i
                        for i in alive
                        if i >= len(sets)
                        or all(
                            (int(words[w]) & mask) == mask
                            for w, mask in sets[i]
                        )
                    }
            if not alive:
                return False
            continue
        if mn is not None and mx is not None:
            lo, hi = spec if isinstance(spec, tuple) else (spec, spec)
            if lo is not None and _safe_lt(mx, lo):
                return False
            if hi is not None and _safe_lt(hi, mn):
                return False
        if probes and col in probes:
            words = file_stats.get(f"__bloom:{col}")
            # membership needs ALL probe bits set; one clear bit is a
            # definite miss (blooms have no false negatives)
            if words and any(
                (int(words[w]) & mask) != mask
                for probe_set in probes[col]
                for w, mask in probe_set
            ):
                return False
    return True


def _safe_lt(a, b) -> bool:
    """a < b when both are comparable (both numeric or both str); a
    datetime bound compares against stored stats as its UTC epoch
    MICROS, a date bound as epoch DAYS (timestamp/date stats are
    recorded that way — see _minmax_exprs); any other type mismatch
    compares as 'unknown' -> False (never prunes).

    Because stored temporal stats are plain JSON ints, a converted
    bound is sanity-checked against the stored value's SCALE (micros
    since 1970 are >= 1e8 for any modern instant; epoch days are far
    below it), so a kind mismatch — a datetime bound probed against a
    DATE column's day-stats, or vice versa — degrades to 'unknown'
    (keep the file) instead of wrongly pruning."""
    import datetime as _dt

    num = (int, float)

    def _key(x):
        if isinstance(x, _dt.datetime):
            # a naive bound means session time, and the engine pins the
            # session to UTC (session.py) — the same reading Spark's
            # lit() gives it on the exact row filter
            if x.tzinfo is None:
                x = x.replace(tzinfo=_dt.timezone.utc)
            return int(x.timestamp() * 1_000_000), "micros"
        if isinstance(x, _dt.date):
            return (x - _dt.date(1970, 1, 1)).days, "days"
        return x, None

    (a, ka), (b, kb) = _key(a), _key(b)
    if ka or kb:
        if ka and kb:
            return a < b if ka == kb else False
        conv_kind = ka or kb
        raw = b if ka else a
        if not isinstance(raw, num) or isinstance(raw, bool):
            return False
        plausible_micros = raw >= 10**8
        if (conv_kind == "micros") != plausible_micros:
            return False  # scale mismatch: unknown, never prune
        return a < b
    if isinstance(a, num) and isinstance(b, num):
        return a < b
    if isinstance(a, str) and isinstance(b, str):
        return a < b
    return False


# -- named branches & write-audit-publish staging -----------------------------
#
# Both are REF CHAINS: a private ManifestTable seeded BY REFERENCE with a
# parent snapshot (metadata-only, zero data copies) whose commit chain
# lives where no parent reader looks but whose data files write into the
# PARENT's data directory — which is what makes an eventual publish
# metadata-only.  A named BRANCH (Iceberg-style) persists under
# ``<root>/branches/<name>``, is re-openable, writable, and protects its
# base snapshot from parent retention GC for as long as it exists (tags
# are the read-only special case of the same ref idea).  The WAP
# StagedCommit is the one-shot ANONYMOUS branch under ``<root>/staging/``
# — same chain mechanics, no ref name, no GC protection (its publish is
# a strict fast-forward anyway, and abort protects live parent files).


class RefChain:
    """Handle on a writable ref chain: ``table`` is a fully functional
    ManifestTable invisible to the parent's readers — run any sequence
    of appends/upserts/deletes against it, AUDIT the state with
    ordinary reads/queries, then fast-forward-publish or drop it."""

    def __init__(
        self, table: "ManifestTable", base_version: int, chain_root: str
    ):
        self.table = table
        self.base_version = base_version
        self.chain_root = chain_root


class StagedCommit(RefChain):
    """An in-progress write-audit-publish cycle (``begin_staged``) —
    the anonymous one-shot branch."""

    @property
    def staging_root(self) -> str:
        return self.chain_root


class BranchHandle(RefChain):
    """A named branch (``create_branch`` / ``branch``): persists across
    handles, GC-protects its base snapshot, fast-forwards by name."""

    def __init__(
        self,
        table: "ManifestTable",
        base_version: int,
        chain_root: str,
        name: str,
    ):
        super().__init__(table, base_version, chain_root)
        self.name = name


def _open_ref_chain(
    self, chain_root: str, seed_manifest: dict | None = None
) -> "ManifestTable":
    """Construct the private chain table: same spec as the parent,
    SHARED data directory, retention GC disabled (a chain longer than
    ``keep`` would otherwise expire its seeded base manifest and
    reclaim base-snapshot files the parent still references — the
    chain is dropped wholesale instead, so skipping GC costs only
    chain-local metadata).  Seeds the chain with ``seed_manifest`` as
    gen 1 when given and the chain is empty."""
    t = ManifestTable(
        self._spark,
        chain_root,
        key_cols=list(self.key_cols),
        partition_by=list(self.partition_by),
        keep_versions=self.keep,
        bloom_cols=list(self.bloom_cols),
        partition_transforms=dict(self.partition_transforms),
        # stats_cols must ride into the chain: per-file min/max for
        # opt-in columns is recorded at WRITE time, and the chain's
        # files are published to the parent by reference — a chain
        # built without them would publish stats-less files and
        # silently degrade the parent's data skipping / metadata-only
        # range answers for those columns
        stats_cols=list(self.stats_cols),
    )
    t._data = self._data  # shared data dir => publish is metadata-only
    t._gc_enabled = False
    if seed_manifest is not None and t._current()[0] == 0:
        t._publish(seed_manifest, expected_gen=0)
    return t


def _chain_refs(chain_commits_dir: str) -> set[str]:
    """Every data-file reference carried by any manifest of a ref
    chain (commit pointer files -> manifest JSONs in the sibling
    ``manifests`` dir)."""
    refs: set[str] = set()
    manifests_dir = os.path.join(os.path.dirname(chain_commits_dir), "manifests")
    try:
        names = fsio.listdir(chain_commits_dir)
    except FileNotFoundError:
        return refs
    for n in names:
        try:
            mname = fsio.read_text(
                os.path.join(chain_commits_dir, n)
            ).strip()
            m = json.loads(
                fsio.read_text(os.path.join(manifests_dir, mname))
            )
        except (OSError, ValueError):
            continue
        for files in m["partitions"].values():
            refs.update(files)
        for entries in m.get("deletes", {}).values():
            refs.update(d["file"] for d in entries)
    return refs


def _ref_chain_dirs(self) -> list[str]:
    """Commit dirs of every live ref chain (named branches + anonymous
    staging areas) under this table's root."""
    out: list[str] = []
    for sub, nested in (("branches", "chain"), ("staging", None)):
        base = os.path.join(self.root, sub)
        try:
            names = fsio.listdir(base)
        except FileNotFoundError:
            continue
        for n in names:
            d = os.path.join(base, n, nested) if nested else os.path.join(base, n)
            out.append(os.path.join(d, "commits"))
    return out


def _protected_parent_refs(self) -> set[str]:
    """Every data-file reference carried by any RETAINED parent
    manifest (tagged snapshots stay in the commit listing, so they are
    covered) — the set a chain drop must never delete, even if the
    chain's base manifest has been GC'd from the parent."""
    refs: set[str] = set()
    try:
        parent_commits = fsio.listdir(self._commits)
    except FileNotFoundError:
        parent_commits = []
    for n in parent_commits:
        try:
            m = self._load_manifest(int(n))
        except (NotFoundError, ValueError):
            continue
        for files in m["partitions"].values():
            refs.update(files)
        for entries in m.get("deletes", {}).values():
            refs.update(d["file"] for d in entries)
    return refs


def _drop_ref_chain(self, chain: RefChain) -> None:
    """Delete a chain and the data files ONLY it references: protected
    are all retained parent manifests (not just the possibly-GC'd base
    manifest — files carried forward by reference can live on in the
    parent's CURRENT manifests) and every OTHER live chain (two
    branches cut from the same base share its files by reference)."""
    protected = self._protected_parent_refs()
    own_commits = os.path.join(chain.chain_root, "commits")
    this_chain = chain.table._commits
    for d in self._ref_chain_dirs():
        if os.path.normpath(d) != os.path.normpath(this_chain):
            protected |= _chain_refs(d)
    chain_files = _chain_refs(own_commits)
    for f in chain_files - protected:
        fsio.rmtree(os.path.join(self._data, f), ignore_errors=True)
    fsio.rmtree(chain.chain_root, ignore_errors=True)


def _fast_forward_chain(
    self, chain: RefChain, published_gen: int | None = None
) -> tuple[int, int | None]:
    """Fast-forward the parent to the chain head as ONE commit.

    Readers of the parent atomically jump from the base snapshot to
    the audited final state — none of the intermediate chain commits
    ever becomes a parent version.  Raises CommitConflict if any
    writer committed to the parent since the chain was cut — ref-chain
    publishes are strict fast-forwards; on conflict, re-cut on the new
    base (the chain is untouched, so nothing is lost).  The chain
    head's file REFERENCES are published as-is: no data is read,
    rewritten, or moved.

    ``published_gen`` is the chain generation already landed on the
    parent by a prior fast-forward (named branches persist it next to
    BASE); anything at or below it is a no-op, so a periodic
    fast-forward of an idle branch never mints duplicate parent
    commits.  ``None`` means never published: only the seed generation
    (the base manifest re-seeded into the chain) is skipped.

    Returns ``(new_parent_head, published_chain_gen)`` where
    ``published_chain_gen`` is the chain generation that actually
    landed on the parent (``None`` on no-op).  Callers that persist an
    idempotency marker MUST record this value rather than re-reading
    the chain head after publish — a branch commit racing into the
    window between publish and re-read would otherwise be stamped as
    already-published without ever reaching the parent."""
    head_gen, _ = self._current()
    if head_gen != chain.base_version:
        raise CommitConflict(
            f"parent advanced {chain.base_version} -> {head_gen} since the "
            f"ref chain was cut; re-stage on the new base"
        )
    chain_gen, chain_manifest = chain.table._current()
    if published_gen is None:
        published_gen = 1 if chain.base_version > 0 else 0
    if chain_manifest is None or chain_gen <= published_gen:
        return head_gen, None  # no divergence since last publish: no-op
    self._publish(
        {**chain_manifest, "op": "FAST-FORWARD"}, expected_gen=head_gen
    )
    return head_gen + 1, chain_gen


# -- write-audit-publish (anonymous one-shot branch) --


def begin_staged(self) -> StagedCommit:
    """Open a WRITE-AUDIT-PUBLISH staging area (Iceberg/Netflix WAP):
    an anonymous ref chain under ``<root>/staging/<id>``.  Stage any
    number of mutating commits, audit the result with ordinary queries
    (constraints, dq checks, row counts), then publish or abort.

    Unpublished staged data files are invisible to parent GC (no
    parent manifest references them, and _gc only reclaims files
    referenced by EXPIRED parent manifests); ``vacuum`` protects them
    by scanning live ref chains, subject to its in-flight-writer age
    horizon."""
    base_gen, base_manifest = self._current()
    staging_root = os.path.join(self.root, "staging", uuid.uuid4().hex[:12])
    staged = self._open_ref_chain(staging_root, base_manifest)
    return StagedCommit(staged, base_gen, staging_root)


def publish_staged(self, staged: StagedCommit) -> int:
    """Strict-fast-forward the parent to the staged head as ONE
    metadata-only commit (see ``_fast_forward_chain``), then drop the
    staging area — the audit trail lives only until publish."""
    new_head, _ = self._fast_forward_chain(staged)
    fsio.rmtree(staged.chain_root, ignore_errors=True)
    return new_head


def abort_staged(self, staged: StagedCommit) -> None:
    """Drop the staging area; the parent never changes.  Data files
    that only staged commits referenced are deleted (they live in the
    parent's data dir but no parent manifest knows them); everything
    referenced by retained parent manifests or other live chains is
    protected (see ``_drop_ref_chain``)."""
    self._drop_ref_chain(staged)


# -- named branches --


def _branch_dir(self, name: str) -> str:
    return os.path.join(self.root, "branches", name)


def create_branch(self, name: str, version: int | None = None) -> BranchHandle:
    """Cut a NAMED, WRITABLE, GC-PROTECTED branch at ``version``
    (default: current head) — the Iceberg branch: an audit/backfill/
    experiment lane that (a) accepts any sequence of commits without
    parent readers ever seeing them, (b) re-opens by name across
    sessions (``branch``), (c) pins its base snapshot against parent
    retention GC for as long as it exists (the writable generalization
    of ``tag``), and (d) lands on the parent only through a strict
    ``fast_forward``.  Atomic directory create, so two racing creators
    cannot both win one name; re-creating an existing name raises
    (delete first, like tags)."""
    if not name or "/" in name or name != name.strip():
        raise ValueError(f"bad branch name {name!r}")
    base_gen = self.current_version() if version is None else int(version)
    base_manifest = self._load_manifest(base_gen) if base_gen > 0 else None
    broot = self._branch_dir(name)
    try:
        fsio.mkdir_exclusive(broot)
    except FileExistsError:
        raise ValueError(f"branch {name!r} already exists") from None
    fsio.write_text(os.path.join(broot, "BASE"), str(base_gen))
    chain_root = os.path.join(broot, "chain")
    chain = self._open_ref_chain(chain_root, base_manifest)
    if base_gen > 0:
        # same post-publish re-validation discipline as tag(): a GC
        # pass that listed branches before the ref existed may have
        # expired the base; withdraw instead of leaving a broken ref.
        try:
            self._load_manifest(base_gen)
        except NotFoundError:
            fsio.rmtree(broot, ignore_errors=True)
            raise NotFoundError(
                f"version {base_gen} was garbage-collected while branching; "
                f"branch from a retained version"
            ) from None
    return BranchHandle(chain, base_gen, chain_root, name)


def branch(self, name: str) -> BranchHandle:
    """Re-open an existing named branch."""
    broot = self._branch_dir(name)
    try:
        base_gen = int(fsio.read_text(os.path.join(broot, "BASE")).strip())
    except FileNotFoundError:
        raise NotFoundError(f"unknown branch {name!r}") from None
    chain_root = os.path.join(broot, "chain")
    return BranchHandle(
        self._open_ref_chain(chain_root), base_gen, chain_root, name
    )


def branches(self) -> dict[str, int]:
    """All branches as {name: base_version}."""
    base = os.path.join(self.root, "branches")
    try:
        names = fsio.listdir(base)
    except FileNotFoundError:
        return {}
    out: dict[str, int] = {}
    for n in sorted(names):
        try:
            out[n] = int(
                fsio.read_text(os.path.join(base, n, "BASE")).strip()
            )
        except (OSError, ValueError):
            continue  # concurrent create/delete; partial write
    return out


def fast_forward(self, name: str) -> int:
    """Publish the branch head onto the parent as ONE metadata-only
    commit (strict fast-forward — raises CommitConflict if the parent
    advanced since the branch was cut).  The branch stays alive and
    its base advances to the published version, so work can continue
    on it and fast-forward again later — delete_branch ends it.

    IDEMPOTENT: the chain generation last landed on the parent is
    persisted (``PUBLISHED``, next to ``BASE``), so calling this again
    with no new branch commits returns the current head WITHOUT
    minting a duplicate parent commit — a periodic/automated
    fast-forward of an idle branch cannot churn parent retention."""
    b = self.branch(name)
    broot = self._branch_dir(name)
    try:
        published = int(
            fsio.read_text(os.path.join(broot, "PUBLISHED")).strip()
        )
    except (OSError, ValueError):
        published = None  # never published (or pre-upgrade branch)
    new_head, published_chain_gen = self._fast_forward_chain(
        b, published_gen=published
    )
    if published_chain_gen is not None:
        # Record the chain generation _fast_forward_chain ACTUALLY
        # published — never re-read the chain head here: a branch
        # commit racing into the publish→stamp window would be marked
        # published without ever landing on the parent (TOCTOU).
        fsio.write_text(os.path.join(broot, "BASE"), str(new_head))
        fsio.write_text(
            os.path.join(broot, "PUBLISHED"), str(published_chain_gen)
        )
    return new_head


def delete_branch(self, name: str) -> None:
    """Drop the branch: its base snapshot re-enters normal parent
    retention, and data files ONLY its chain referenced are deleted
    (retained parent manifests and every other live chain stay
    protected)."""
    b = self.branch(name)
    self._drop_ref_chain(b)
    fsio.rmtree(self._branch_dir(name), ignore_errors=True)


ManifestTable._open_ref_chain = _open_ref_chain
ManifestTable._ref_chain_dirs = _ref_chain_dirs
ManifestTable._protected_parent_refs = _protected_parent_refs
ManifestTable._drop_ref_chain = _drop_ref_chain
ManifestTable._fast_forward_chain = _fast_forward_chain
ManifestTable.begin_staged = begin_staged
ManifestTable.publish_staged = publish_staged
ManifestTable.abort_staged = abort_staged
ManifestTable._branch_dir = _branch_dir
ManifestTable.create_branch = create_branch
ManifestTable.branch = branch
ManifestTable.branches = branches
ManifestTable.fast_forward = fast_forward
ManifestTable.delete_branch = delete_branch
