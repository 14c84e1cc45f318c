"""ManifestTable protocol tests — the fact-table lake contract:
O(touched partitions) MERGE, snapshot-isolated reads, time travel,
file-level reference carrying, GC refcounting, and serializable
concurrent writers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geospatial_data_lake_spark.plans.catalog import NotFoundError
from geospatial_data_lake_spark.sources.manifest_table import ManifestTable


def _mk(spark, rows):
    return spark.createDataFrame(rows, "id long, part string, v string")


def _state(df):
    return {r.id: (r.part, r.v) for r in df.collect()}


def _table(spark, tmp_path, **kw):
    return ManifestTable(
        spark, str(tmp_path / "mt"), key_cols=["id"], partition_by=["part"], **kw
    )


def should_merge_and_time_travel_partitioned(spark, tmp_path):
    mt = _table(spark, tmp_path)
    v1 = mt.upsert(_mk(spark, [(1, "a", "x"), (2, "a", "y"), (3, "b", "z")]))
    v2 = mt.upsert(_mk(spark, [(2, "a", "Y2"), (4, "c", "w")]))
    assert (v1, v2) == (1, 2)
    assert _state(mt.read()) == {
        1: ("a", "x"), 2: ("a", "Y2"), 3: ("b", "z"), 4: ("c", "w"),
    }
    assert _state(mt.read(version=1)) == {
        1: ("a", "x"), 2: ("a", "y"), 3: ("b", "z"),
    }


def should_carry_untouched_partitions_by_reference(spark, tmp_path):
    """The O(delta) property: an upsert touching partition 'a' must reuse
    partition 'b's existing file list verbatim — no rewrite, no copy."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x"), (3, "b", "z")]))
    before = mt.partition_files()
    mt.upsert(_mk(spark, [(1, "a", "x2")]))
    after = mt.partition_files()
    b_key = next(k for k in before if '"b"' in k)
    a_key = next(k for k in before if '"a"' in k)
    assert after[b_key] == before[b_key]  # carried by reference
    assert after[a_key] != before[a_key]  # rewritten


def should_handle_key_partition_moves(spark, tmp_path):
    """An update that moves a key to another partition must rewrite BOTH
    partitions — the old row may not survive in the old partition."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    mt.upsert(_mk(spark, [(1, "b", "moved")]))
    assert _state(mt.read()) == {1: ("b", "moved"), 2: ("b", "y")}
    # partition 'a' emptied out entirely -> dropped from the manifest
    assert not any('"a"' in k for k in mt.partition_files())


def should_bound_time_travel_and_refcount_gc(spark, tmp_path):
    """GC drops expired versions but must NOT unlink data files still
    referenced by retained manifests (files are shared by reference)."""
    mt = _table(spark, tmp_path, keep_versions=2)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))  # v1
    mt.upsert(_mk(spark, [(1, "a", "x2")]))  # v2 touches only 'a'
    mt.upsert(_mk(spark, [(1, "a", "x3")]))  # v3 -> v1 expires
    with pytest.raises(NotFoundError):
        mt.read(version=1)
    # v2's manifest still references partition 'b' files first written at
    # v1 — the expired-version GC must have kept them
    assert _state(mt.read(version=2)) == {1: ("a", "x2"), 2: ("b", "y")}
    assert _state(mt.read()) == {1: ("a", "x3"), 2: ("b", "y")}


@pytest.mark.parametrize("rooting", ["plain", "file_uri"])
def should_serialize_concurrent_manifest_writers(spark, tmp_path, rooting):
    """Racing writers on distinct partitions: every upsert survives, the
    version history is gap-free, and losers' orphaned files are cleaned.
    Parametrized over a ``file://`` URI root: the commit protocol's
    manifest/commit-log I/O rides the fsio seam (put_if_absent CAS), so
    a URI-rooted table must serialize identically."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "race_mt")
    if rooting == "file_uri":
        root = "file://" + root
    n = 6

    def write(i):
        mt = ManifestTable(spark, root, key_cols=["id"], partition_by=["part"])
        return mt.upsert(_mk(spark, [(i, f"p{i}", f"w{i}")]))

    with ThreadPoolExecutor(max_workers=n) as pool:
        versions = list(pool.map(write, range(n)))

    assert sorted(versions) == list(range(1, n + 1))
    final = ManifestTable(spark, root, key_cols=["id"], partition_by=["part"])
    assert _state(final.read()) == {i: (f"p{i}", f"w{i}") for i in range(n)}


def should_materialize_cdc_stream_into_manifest_table(spark, tmp_path):
    """Streaming CDC -> versioned lake: a change stream drives
    foreachBatch -> ManifestTable.upsert. Each micro-batch lands as one
    committed version (incremental materialization with time travel),
    and because MERGE is idempotent on content, a redelivered batch —
    foreachBatch is at-least-once across restarts — changes no state."""
    import pandas as pd

    src = tmp_path / "cdc"
    src.mkdir()
    chk = str(tmp_path / "chk")
    mt = ManifestTable(
        spark, str(tmp_path / "lake"), key_cols=["id"], partition_by=["part"]
    )
    schema = "id long, part string, v string"
    delivered = []

    def on_batch(df, epoch_id):
        batch = df.localCheckpoint(eager=True)
        delivered.append(batch)
        mt.upsert(batch)

    def drain():
        q = (
            spark.readStream.schema(schema).json(str(src))
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    pd.DataFrame(
        [(1, "a", "x"), (2, "b", "y")], columns=["id", "part", "v"]
    ).to_json(src / "b1.json", orient="records", lines=True)
    drain()
    pd.DataFrame(
        [(2, "b", "y2"), (3, "c", "z")], columns=["id", "part", "v"]
    ).to_json(src / "b2.json", orient="records", lines=True)
    drain()

    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "y2"), 3: ("c", "z")}
    v_after = mt.current_version()
    assert _state(mt.read(version=1)) == {1: ("a", "x"), 2: ("b", "y")}

    # simulate at-least-once redelivery of the last batch
    mt.upsert(delivered[-1])
    assert mt.current_version() == v_after + 1  # a commit happened...
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "y2"), 3: ("c", "z")}
    # ...but the state is unchanged (idempotent MERGE)


def should_evolve_schema_across_commits(spark, tmp_path):
    """Schema evolution: a commit adding a column must not rewrite
    untouched partitions — their carried-forward files simply surface
    NULL for the new column on read (mergeSchema), and time travel
    still returns each version under its own schema."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    before_b = mt.partition_files()[
        next(k for k in mt.partition_files() if '"b"' in k)
    ]

    widened = spark.createDataFrame(
        [(1, "a", "x2", "en")], "id long, part string, v string, lang string"
    )
    mt.upsert(widened)

    cur = mt.read()
    assert set(cur.columns) >= {"id", "part", "v", "lang"}
    rows = {r.id: (r.v, r.lang) for r in cur.collect()}
    assert rows[1] == ("x2", "en")
    assert rows[2] == ("y", None)  # untouched partition: new column is NULL
    # and partition b really was carried by reference, not rewritten
    after_b = mt.partition_files()[
        next(k for k in mt.partition_files() if '"b"' in k)
    ]
    assert after_b == before_b
    # time travel: version 1 predates the column entirely
    assert "lang" not in mt.read(version=1).columns


def should_append_blindly_and_compact(spark, tmp_path):
    """append is the O(batch) ingest path: files accumulate per
    partition with nothing read or rewritten; compact folds multi-file
    partitions back to one without changing row content."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x")]))
    mt.append(_mk(spark, [(2, "a", "y"), (3, "b", "z")]))
    a_key = next(k for k in mt.partition_files() if '"a"' in k)
    assert len(mt.partition_files()[a_key]) == 2  # two appended files
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("a", "y"), 3: ("b", "z")}

    v = mt.compact()
    assert v == 3
    assert len(mt.partition_files()[a_key]) == 1  # folded
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("a", "y"), 3: ("b", "z")}
    assert mt.compact() is None  # nothing left to fold


def should_delete_where_with_partition_pruning(spark, tmp_path):
    """delete_where rewrites only partitions holding matching rows;
    untouched partitions carry by reference, and a fully-deleted
    partition leaves the manifest."""
    from pyspark.sql import functions as F

    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "a", "y"), (3, "b", "z"), (4, "c", "w")]))
    files_before = mt.partition_files()
    b_key = next(k for k in files_before if '"b"' in k)

    mt.delete_where((F.col("id") == 1) | (F.col("part") == "c"))
    assert _state(mt.read()) == {2: ("a", "y"), 3: ("b", "z")}
    files_after = mt.partition_files()
    assert files_after[b_key] == files_before[b_key]  # untouched, by reference
    assert not any('"c"' in k for k in files_after)  # fully deleted partition
    # time travel still sees the pre-delete state
    assert len(_state(mt.read(version=1))) == 4


def should_vacuum_orphaned_files_respecting_age_horizon(spark, tmp_path):
    """vacuum removes only files no retained manifest references, and
    only past the age horizon (a young orphan may belong to a writer
    that has not published yet)."""
    import os
    import time

    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x")]))

    # fake a crashed writer: a data batch dir never published
    orphan_dir = os.path.join(mt.root, "data", "deadbeef", "f.parquet")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-00000.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")

    # young orphan survives the horizon
    assert mt.vacuum(min_age_seconds=3600) == []
    assert os.path.exists(orphan)

    # age it past the horizon -> removed; referenced files untouched
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    removed = mt.vacuum(min_age_seconds=3600)
    assert removed == [orphan]
    assert not os.path.exists(os.path.dirname(orphan))  # empty dirs swept
    assert _state(mt.read()) == {1: ("a", "x")}  # table intact


def should_physically_remove_expired_unreferenced_files(spark, tmp_path):
    """Retention GC must actually reclaim disk: a data file referenced
    ONLY by expired versions is removed (data entries are parquet
    directories, so removal is recursive)."""
    import os

    mt = _table(spark, tmp_path, keep_versions=2)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))  # v1
    v1_files = mt.partition_files()
    a_key = next(k for k in v1_files if '"a"' in k)
    b_key = next(k for k in v1_files if '"b"' in k)
    v1_a = os.path.join(mt.root, "data", v1_files[a_key][0])
    v1_b = os.path.join(mt.root, "data", v1_files[b_key][0])

    mt.upsert(_mk(spark, [(1, "a", "x2")]))  # v2 rewrites 'a'
    mt.upsert(_mk(spark, [(1, "a", "x3")]))  # v3 -> v1 expires
    # v1's 'a' file is referenced by no retained manifest -> gone
    assert not os.path.exists(v1_a)
    # v1's 'b' file is still referenced by v2/v3 (carried) -> kept
    assert os.path.exists(v1_b)
    assert _state(mt.read()) == {1: ("a", "x3"), 2: ("b", "y")}


def should_keep_null_predicate_rows_on_delete(spark, tmp_path):
    """SQL DELETE removes only rows where the predicate is TRUE: rows
    where it evaluates to NULL must survive — including in partitions
    that get rewritten because sibling rows matched."""
    from pyspark.sql import functions as F

    mt = _table(spark, tmp_path)
    mt.upsert(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "a", None), (3, "b", None), (4, "b", "x")],
            "id long, part string, v string",
        )
    )
    mt.delete_where(F.col("v") == "x")
    # id=2 (NULL predicate, rewritten partition 'a') and id=3 (NULL
    # predicate, rewritten partition 'b') both survive
    assert _state(mt.read()) == {2: ("a", None), 3: ("b", None)}


def should_roundtrip_null_and_boolean_partition_values(spark, tmp_path):
    """NULL and boolean partition values must survive append/upsert/
    delete — the str(v)-vs-SQL-cast mismatch ('None' vs NULL, 'True' vs
    'true') used to silently drop these rows."""
    from pyspark.sql import functions as F

    mt = ManifestTable(
        spark,
        str(tmp_path / "mt_nb"),
        key_cols=["id"],
        partition_by=["flag"],
    )
    df = spark.createDataFrame(
        [(1, True, "t"), (2, False, "f"), (3, None, "n")],
        "id long, flag boolean, v string",
    )
    mt.append(df)
    got = {r.id: (r.flag, r.v) for r in mt.read().collect()}
    assert got == {1: (True, "t"), 2: (False, "f"), 3: (None, "n")}
    assert len(mt.partition_files()) == 3  # one partition each, incl. NULL

    # upsert into the boolean and NULL partitions
    mt.upsert(
        spark.createDataFrame(
            [(1, True, "t2"), (3, None, "n2")],
            "id long, flag boolean, v string",
        )
    )
    got = {r.id: (r.flag, r.v) for r in mt.read().collect()}
    assert got == {1: (True, "t2"), 2: (False, "f"), 3: (None, "n2")}

    # delete out of the NULL partition
    mt.delete_where(F.col("id") == 3)
    got = {r.id: (r.flag, r.v) for r in mt.read().collect()}
    assert got == {1: (True, "t2"), 2: (False, "f")}


def should_not_shrink_schema_on_narrow_append(spark, tmp_path):
    """A narrower batch after a schema-evolving upsert must not shrink
    the recorded table schema (union-of-fields, as lake formats do)."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    mt.upsert(
        spark.createDataFrame(
            [(2, "b", "y", "en")], "id long, part string, v string, lang string"
        )
    )
    mt.append(_mk(spark, [(3, "c", "z")]))  # narrower than the table
    _, manifest = mt._current()
    assert "lang" in manifest["schema_ddl"]
    rows = {r.id: r.lang for r in mt.read().collect()}
    assert rows == {1: None, 2: "en", 3: None}


def should_commit_with_constant_job_count(spark, tmp_path):
    """Commit latency must be O(1) Spark jobs, not O(touched
    partitions): an append touching 12 partitions runs the same number
    of jobs as one touching 2 (one partitionBy write + one stats agg +
    the checkpoint), never a per-partition write loop."""

    def jobs_for(label, rows):
        mt = ManifestTable(
            spark,
            str(tmp_path / f"mt_{label}"),
            key_cols=["id"],
            partition_by=["part"],
        )
        sc = spark.sparkContext
        sc.setJobGroup(label, label)
        try:
            mt.append(_mk(spark, rows))
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(label))

    small = jobs_for("append-2p", [(i, f"p{i}", "v") for i in range(2)])
    large = jobs_for("append-12p", [(i, f"p{i}", "v") for i in range(12)])
    assert large <= small, (small, large)


def should_skip_key_location_probe_when_keys_pin_partitions(
    spark, tmp_path, monkeypatch
):
    """When key_cols subsume partition_by a key cannot move partitions,
    so upsert must not scan the table for key locations; when they
    don't, the probe must run (partition moves depend on it)."""

    def boom(self, partitions, updates):
        raise AssertionError("key-location probe must be skipped")

    # keys pin partitions: key (part, id) ⊇ partition (part)
    mt = ManifestTable(
        spark, str(tmp_path / "mt_pin"), key_cols=["part", "id"],
        partition_by=["part"],
    )
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    monkeypatch.setattr(ManifestTable, "_partitions_holding_keys", boom)
    mt.upsert(_mk(spark, [(1, "a", "x2")]))  # must not probe
    assert _state(mt.read()) == {1: ("a", "x2"), 2: ("b", "y")}
    monkeypatch.undo()

    # keys do NOT pin partitions: the probe is required and called
    called = []
    orig = ManifestTable._partitions_holding_keys

    def spy(self, partitions, updates):
        called.append(1)
        return orig(self, partitions, updates)

    mt2 = _table(spark, tmp_path)  # key id, partition part
    mt2.upsert(_mk(spark, [(1, "a", "x")]))
    monkeypatch.setattr(ManifestTable, "_partitions_holding_keys", spy)
    mt2.upsert(_mk(spark, [(1, "b", "moved")]))
    assert called
    assert _state(mt2.read()) == {1: ("b", "moved")}


def should_prune_files_by_minmax_stats(spark, tmp_path):
    """Commits record per-file min/max for key+partition columns; a
    read(where=...) plans a strict subset of files and still returns
    exactly what a full-scan filter would."""
    mt = _table(spark, tmp_path)
    # three partitions with disjoint id ranges
    mt.upsert(
        _mk(
            spark,
            [(i, "a", f"v{i}") for i in range(0, 10)]
            + [(i, "b", f"v{i}") for i in range(100, 110)]
            + [(i, "c", f"v{i}") for i in range(200, 210)],
        )
    )
    all_files = mt.planned_files()
    assert len(all_files) == 3
    # point read on id -> only partition 'b' files survive pruning
    pruned = mt.planned_files(where={"id": 105})
    assert len(pruned) == 1
    assert set(pruned) < set(all_files)
    assert _state(mt.read(where={"id": 105})) == {105: ("b", "v105")}
    # range read spanning two partitions
    pruned2 = mt.planned_files(where={"id": (5, 105)})
    assert len(pruned2) == 2
    got = _state(mt.read(where={"id": (5, 105)}))
    assert got == {
        **{i: ("a", f"v{i}") for i in range(5, 10)},
        **{i: ("b", f"v{i}") for i in range(100, 106)},
    }
    # partition-column equality prunes too
    assert len(mt.planned_files(where={"part": "c"})) == 1
    # stats survive carry-forward: touch only 'a', then prune on 'c'
    mt.upsert(_mk(spark, [(0, "a", "v0x")]))
    assert len(mt.planned_files(where={"id": 205})) == 1


def should_merge_null_keys_without_duplicating(spark, tmp_path):
    """MERGE must treat NULL key values as matching (null-safe): an
    upsert of a NULL-keyed row replaces the existing NULL-keyed row in
    that partition instead of leaving both."""
    mt = _table(spark, tmp_path)
    mt.upsert(
        spark.createDataFrame(
            [(None, "a", "old"), (1, "a", "x")], "id long, part string, v string"
        )
    )
    mt.upsert(
        spark.createDataFrame([(None, "a", "new")], "id long, part string, v string")
    )
    rows = [(r.id, r.part, r.v) for r in mt.read().collect()]
    assert sorted(rows, key=repr) == sorted(
        [(None, "a", "new"), (1, "a", "x")], key=repr
    )


def should_reject_type_changing_batches_before_writing(spark, tmp_path):
    """A batch that changes an existing column's TYPE would poison every
    later mergeSchema read; it must be rejected up front, leaving no
    orphan files behind."""
    import os

    import pytest

    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    files_before = set()
    for dirpath, _d, filenames in os.walk(os.path.join(mt.root, "data")):
        files_before.update(os.path.join(dirpath, f) for f in filenames)

    bad = spark.createDataFrame([(2, "b", 7)], "id long, part string, v long")
    with pytest.raises(ValueError, match="incompatible type change"):
        mt.append(bad)
    with pytest.raises(ValueError, match="incompatible type change"):
        mt.upsert(bad)

    files_after = set()
    for dirpath, _d, filenames in os.walk(os.path.join(mt.root, "data")):
        files_after.update(os.path.join(dirpath, f) for f in filenames)
    assert files_after == files_before  # nothing was written
    assert _state(mt.read()) == {1: ("a", "x")}


def should_address_null_partition_in_pruned_reads(spark, tmp_path):
    """read(where={col: None}) means IS NULL: it must return the NULL
    partition's rows, and null-count stats must prune null-free files."""
    mt = ManifestTable(
        spark, str(tmp_path / "mt_wnull"), key_cols=["id"], partition_by=["part"]
    )
    mt.upsert(
        spark.createDataFrame(
            [(1, None, "n1"), (2, "a", "x"), (3, "b", "y")],
            "id long, part string, v string",
        )
    )
    got = {r.id: r.v for r in mt.read(where={"part": None}).collect()}
    assert got == {1: "n1"}
    # only the NULL partition's file survives pruning
    assert len(mt.planned_files(where={"part": None})) == 1
    assert len(mt.planned_files()) == 3


def should_fail_clearly_on_oversized_partition_values(spark, tmp_path):
    """Partition values are embedded (hex-encoded) in directory names;
    a tuple past the filesystem's name budget must fail with a
    diagnosable error at commit time, not a cryptic FS error."""
    import pytest

    mt = _table(spark, tmp_path)
    with pytest.raises(Exception, match="partition tuple too long"):
        mt.append(_mk(spark, [(1, "p" * 150, "x")]))


def should_emit_row_level_change_feed_between_versions(spark, tmp_path):
    """changes(v1, v2) classifies inserts / updates / deletes by
    null-safe key diff over ONLY the partitions whose file lists
    differ; rows carried unchanged through a partition rewrite are not
    changes, and a key that moves partitions is one update."""
    from pyspark.sql import functions as F

    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "a", "y"), (3, "b", "z")]))  # v1
    mt.upsert(_mk(spark, [(2, "a", "y2"), (4, "c", "w")]))  # v2: update + insert
    mt.delete_where(F.col("id") == 3)  # v3
    mt.upsert(_mk(spark, [(1, "b", "moved")]))  # v4: partition move

    def feed(a, b):
        return sorted(
            (r.id, r.part, r.v, r._change_type)
            for r in mt.changes(a, b).collect()
        )

    assert feed(1, 2) == [
        (2, "a", "y2", "update_postimage"),
        (4, "c", "w", "insert"),
    ]
    assert feed(2, 3) == [(3, "b", "z", "delete")]  # pre-image values
    assert feed(3, 4) == [(1, "b", "moved", "update_postimage")]
    # composed span: unchanged keys (2, 4) never appear
    assert feed(1, 4) == [
        (1, "b", "moved", "update_postimage"),
        (2, "a", "y2", "update_postimage"),
        (3, "b", "z", "delete"),
        (4, "c", "w", "insert"),
    ]
    # history() parity: one entry per commit, newest first
    hist = mt.history()
    assert [h["version"] for h in hist] == [4, 3, 2, 1]


def should_cluster_partitions_for_intra_partition_pruning(spark, tmp_path):
    """optimize(sort_by) must split each partition into range-bucketed
    files whose stats let a point/range read plan a strict subset of
    the partition — and the table content must be byte-identical."""
    import pyspark.sql.functions as F

    mt = _table(spark, tmp_path)
    rows = [(i, "a" if i % 2 == 0 else "b", f"v{i}") for i in range(400)]
    mt.upsert(_mk(spark, rows))
    before = _state(mt.read())
    v = mt.optimize(sort_by=["id"], target_files=4)
    assert v == 2
    assert _state(mt.read()) == before
    # each of the 2 partitions now holds multiple clustered files
    pf = mt.partition_files()
    assert all(len(files) > 1 for files in pf.values())
    total = len(mt.planned_files())
    assert total == sum(len(f) for f in pf.values())
    # a narrow range read plans a strict subset ...
    narrow = mt.planned_files(where={"id": (10, 20)})
    assert 0 < len(narrow) < total
    # ... and stays exact
    got = {r.id for r in mt.read(where={"id": (10, 20)}).collect()}
    assert got == set(range(10, 21))
    # point read within one partition: at most one file per partition
    point = mt.planned_files(where={"id": 101})
    assert len(point) <= 2
    assert _state(mt.read(where={"id": 101})) == {101: ("b", "v101")}


def should_keep_clustered_stats_through_later_commits(spark, tmp_path):
    """A commit after optimize: untouched partitions keep their tight
    per-file stats (carried by reference); the rewritten partition's
    new file replaces its clustered ones."""
    import pyspark.sql.functions as F

    mt = _table(spark, tmp_path)
    rows = [(i, "a" if i % 2 == 0 else "b", f"v{i}") for i in range(400)]
    mt.upsert(_mk(spark, rows))
    mt.optimize(sort_by=["id"], target_files=4)
    clustered_b = [f for f in mt.planned_files(where={"part": "b"})]
    mt.upsert(_mk(spark, [(0, "a", "NEW")]))  # touches only partition a
    # partition b's clustered files survive verbatim, stats intact
    assert mt.planned_files(where={"part": "b"}) == clustered_b
    narrow = mt.planned_files(where={"id": (11, 21), "part": "b"})
    assert 0 < len(narrow) < len(clustered_b)
    # partition a collapsed back to one rewritten file
    pf = mt.partition_files()
    a_key = next(k for k in pf if '"a"' in k)
    assert len(pf[a_key]) == 1
    assert _state(mt.read())[0] == ("a", "NEW")


def should_reject_non_numeric_cluster_key(spark, tmp_path):
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    with pytest.raises(ValueError, match="must be numeric"):
        mt.optimize(sort_by=["v"])


def should_prune_point_reads_with_bloom_filters(spark, tmp_path):
    """With bloom_cols on the key, a point read over an append-heavy
    table (many files whose id min/max all overlap) must plan only the
    files whose bloom admits the key — and stay exact."""
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["part"],
        bloom_cols=["id"],
    )
    # 6 appends, interleaved ids: every file's [min,max] covers the
    # whole keyspace, so min/max pruning alone cannot discriminate
    for b in range(6):
        rows = [(b + 10 * i, "a", f"v{b}_{i}") for i in range(8)]
        mt.append(_mk(spark, rows))
    total = len(mt.planned_files())
    assert total == 6
    planned = mt.planned_files(where={"id": 3})  # only batch b=3 holds id 3
    assert len(planned) < total
    assert _state(mt.read(where={"id": 3}))[3] == ("a", "v3_0")
    # a key that exists nowhere: blooms may even prune everything
    assert mt.read(where={"id": 999_999}).count() == 0


def should_answer_count_from_manifest_metadata(spark, tmp_path):
    """row_count() is a metadata-only COUNT(*): sums recorded per-file
    rows across appends/upserts/deletes without reading data files."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(i, "a" if i % 2 == 0 else "b", "x") for i in range(10)]))
    assert mt.row_count() == 10
    mt.upsert(_mk(spark, [(3, "b", "y"), (100, "c", "z")]))  # 1 update + 1 insert
    assert mt.row_count() == 11
    assert mt.row_count(version=1) == 10
    import pyspark.sql.functions as F

    mt.delete_where(F.col("id") < 5)
    assert mt.row_count() == mt.read().count() == 6
    rows = mt.file_rows()
    assert all(isinstance(n, int) for n in rows.values())
    assert sum(rows.values()) == 6
    # metadata-only MIN/MAX agrees with the scan
    assert mt.column_range("id") == (5, 100)
    assert mt.column_range("id", version=1) == (0, 9)
    assert mt.column_range("no_such_col") is None


def should_emit_update_preimages_when_asked(spark, tmp_path):
    """preimage=True adds an update_preimage row (old values) per
    update — the full Delta-CDF contract incremental aggregation
    needs; the default feed stays postimage-only."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "old"), (2, "a", "keep")]))
    mt.upsert(_mk(spark, [(1, "a", "new"), (3, "b", "ins")]))
    feed = {
        (r.id, r._change_type): r.v
        for r in mt.changes(1, 2, preimage=True).collect()
    }
    assert feed == {
        (1, "update_preimage"): "old",
        (1, "update_postimage"): "new",
        (3, "insert"): "ins",
    }
    default = {r._change_type for r in mt.changes(1, 2).collect()}
    assert "update_preimage" not in default


@pytest.mark.parametrize("rooting", ["plain", "file_uri"])
def should_serialize_maintenance_racing_writers(spark, tmp_path, rooting):
    """optimize/compact racing concurrent upserts must serialize like
    any commit: no version gaps, no lost updates, and the final content
    equals the sequential model regardless of interleaving — including
    over a ``file://`` URI root (maintenance rewrites drive the fsio
    CAS seam's heaviest path: data-dir listing + GC + publish races)."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "race_maint")
    if rooting == "file_uri":
        root = "file://" + root
    seed = ManifestTable(spark, root, key_cols=["id"], partition_by=["part"])
    seed.upsert(
        _mk(spark, [(i, "a" if i % 2 == 0 else "b", f"v{i}") for i in range(40)])
    )

    def upsert(i):
        mt = ManifestTable(spark, root, key_cols=["id"], partition_by=["part"])
        return ("u", mt.upsert(_mk(spark, [(i, "a" if i % 2 == 0 else "b", f"W{i}")])))

    def maintain(kind):
        mt = ManifestTable(spark, root, key_cols=["id"], partition_by=["part"])
        if kind == "optimize":
            return ("o", mt.optimize(sort_by=["id"], target_files=3))
        return ("c", mt.compact())

    with ThreadPoolExecutor(max_workers=6) as pool:
        futs = [pool.submit(upsert, i) for i in range(4)]
        futs.append(pool.submit(maintain, "optimize"))
        futs.append(pool.submit(maintain, "compact"))
        results = [f.result() for f in futs]

    committed = [v for _, v in results if v is not None]
    assert sorted(committed) == list(range(2, 2 + len(committed)))
    final = ManifestTable(spark, root, key_cols=["id"], partition_by=["part"])
    state = _state(final.read())
    want = {i: ("a" if i % 2 == 0 else "b", f"v{i}") for i in range(40)}
    for i in range(4):
        want[i] = ("a" if i % 2 == 0 else "b", f"W{i}")
    assert state == want
    # every version in the surviving window reads cleanly (no torn
    # manifests from the maintenance/upsert interleaving)
    for v in range(1, final.current_version() + 1):
        assert final.read(version=v).count() >= 40


def should_replace_only_the_predicated_slice(spark, tmp_path):
    """overwrite_where (the replaceWhere contract): rows matching the
    predicate are replaced by the batch atomically; rows outside it —
    including NULL-predicate rows and untouched partitions — survive
    by reference; a batch leaking outside the slice is rejected before
    anything is written."""
    import pyspark.sql.functions as F

    mt = _table(spark, tmp_path)
    mt.upsert(
        _mk(spark, [(1, "a", "x"), (2, "a", "y"), (3, "b", "z"), (4, None, "n")])
    )
    before_b = mt.partition_files()[
        next(k for k in mt.partition_files() if '"b"' in k)
    ]
    v = mt.overwrite_where(
        _mk(spark, [(10, "a", "R1"), (11, "a", "R2")]),
        F.col("part") == "a",
    )
    assert v == 2
    assert _state(mt.read()) == {
        10: ("a", "R1"), 11: ("a", "R2"), 3: ("b", "z"), 4: (None, "n"),
    }
    # partition b untouched: same file list by reference
    pf = mt.partition_files()
    assert pf[next(k for k in pf if '"b"' in k)] == before_b
    # NULL-predicate row (part NULL -> condition NULL) survived
    assert _state(mt.read(version=1))[1] == ("a", "x")  # time travel intact
    # stray batch rows are rejected pre-write, table unchanged
    with pytest.raises(ValueError, match="outside the"):
        mt.overwrite_where(
            _mk(spark, [(20, "b", "STRAY")]), F.col("part") == "a"
        )
    assert mt.current_version() == 2
    # idempotent under txn replay
    v3 = mt.overwrite_where(
        _mk(spark, [(12, "a", "R3")]), F.col("part") == "a", txn=("ow", 1)
    )
    assert v3 == 3
    assert (
        mt.overwrite_where(
            _mk(spark, [(99, "a", "CLOBBER")]), F.col("part") == "a",
            txn=("ow", 1),
        )
        == 3
    )
    assert 99 not in _state(mt.read())


def should_consume_change_feed_incrementally_with_cursor(spark, tmp_path):
    """changes_since: each call returns exactly the delta after the
    stored cursor; replaying the feeds against a model reproduces the
    final table; at head the feed is empty and the cursor unchanged."""
    import pyspark.sql.functions as F

    mt = _table(spark, tmp_path)
    model: dict = {}

    def apply_feed(feed):
        for r in feed.collect():
            if r._change_type == "delete":
                model.pop(r.id, None)
            elif r._change_type in ("insert", "update_postimage"):
                model[r.id] = (r.part, r.v)

    cursor = 0
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    feed, cursor = mt.changes_since(cursor)
    assert cursor == 1
    apply_feed(feed)
    assert model == _state(mt.read())

    mt.upsert(_mk(spark, [(1, "a", "x2"), (3, "b", "z")]))
    mt.delete_where(F.col("id") == 2)
    feed, cursor = mt.changes_since(cursor)
    assert cursor == 3
    apply_feed(feed)
    assert model == _state(mt.read()) == {1: ("a", "x2"), 3: ("b", "z")}

    # at head: empty feed, cursor unchanged, schema intact
    feed, cursor2 = mt.changes_since(cursor)
    assert cursor2 == cursor
    assert feed.count() == 0
    assert "_change_type" in feed.columns and "id" in feed.columns


def should_enforce_check_constraints_on_writes(spark, tmp_path):
    """SQL CHECK semantics: FALSE rows reject the whole batch, NULL
    passes; existing data is validated when the constraint is added;
    constraints survive unrelated commits and can be dropped."""
    import pytest

    from geospatial_data_lake_spark.plans.catalog import ValidationError

    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", None)]))
    mt.add_constraint("id_positive", "id > 0")
    assert mt.constraints() == {"id_positive": "id > 0"}
    # NULL v row passed (CHECK passes on NULL); a FALSE row must reject
    with pytest.raises(ValidationError, match="id_positive"):
        mt.append(_mk(spark, [(0, "a", "y")]))
    with pytest.raises(ValidationError, match="id_positive"):
        mt.upsert(_mk(spark, [(-5, "a", "y")]))
    v = mt.current_version()
    mt.append(_mk(spark, [(3, "a", "z")]))  # conforming batch commits
    assert mt.constraints() == {"id_positive": "id > 0"}  # carried
    assert _state(mt.read())[3] == ("a", "z")
    # adding a constraint the EXISTING data violates must fail
    with pytest.raises(ValidationError, match="v_not_null"):
        mt.add_constraint("v_not_null", "v IS NOT NULL")
    mt.drop_constraint("id_positive")
    mt.append(_mk(spark, [(0, "a", "y")]))  # now admissible
    assert 0 in _state(mt.read())
    assert v + 3 == mt.current_version()  # add-fail committed nothing


def should_restore_to_old_version_as_new_commit(spark, tmp_path):
    """RESTORE re-points the table at an old file set as a NEW commit:
    content equals the old version, history keeps growing, and the
    restore itself shows in the change feed."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))  # v1
    mt.upsert(_mk(spark, [(2, "b", "y2"), (3, "a", "z")]))  # v2
    mt.delete_where(F.col("id") == 1)  # v3
    v_restore = mt.restore(1)
    assert v_restore == 4
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "y")}
    assert _state(mt.read(version=3)) == {2: ("b", "y2"), 3: ("a", "z")}
    # the change feed across the restore shows the rollback's row deltas
    ch = {
        (r.id, r._change_type)
        for r in mt.changes(3, 4).select("id", "_change_type").collect()
    }
    assert (1, "insert") in ch and (3, "delete") in ch


def should_enforce_constraint_added_during_inflight_append(spark, tmp_path):
    """A constraint committed AFTER a writer's head read but BEFORE its
    publish must still gate that writer's batch (the metadata-conflict
    re-check in the retry loop), and the rejected batch's files must
    not leak."""
    import pytest

    from geospatial_data_lake_spark.plans.catalog import ValidationError

    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x")]))
    other = _table(spark, tmp_path)  # second writer handle, same root

    class Racy(ManifestTable):
        def _write_partitioned(self, df, batch_dir):
            # interpose between the head-read enforcement and publish
            if not other.constraints():
                other.add_constraint("id_positive", "id > 0")
            return super()._write_partitioned(df, batch_dir)

    racy = Racy(
        spark, str(tmp_path / "mt"), key_cols=["id"], partition_by=["part"]
    )
    with pytest.raises(ValidationError, match="id_positive"):
        racy.append(_mk(spark, [(-1, "a", "y")]))
    assert _state(mt.read()) == {1: ("a", "x")}
    # the rejected batch's directory must not leak (only v1's remains;
    # its root _SUCCESS sidecars are vacuum's business, not a leak)
    import os

    assert len(os.listdir(os.path.join(str(tmp_path / "mt"), "data"))) == 1


def should_delete_by_equality_file_without_rewriting(spark, tmp_path):
    """Merge-on-read DELETE: matched keys vanish from reads while the
    data file lists stay untouched (metadata + key-file commit only);
    history still shows the pre-delete state."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "a", "y"), (3, "b", "x")]))
    files_before = mt.partition_files()
    v = mt.delete_where_eq(F.col("v") == "x")
    assert v == 2
    assert _state(mt.read()) == {2: ("a", "y")}
    assert mt.partition_files() == files_before  # no rewrite
    assert _state(mt.read(version=1)) == {
        1: ("a", "x"), 2: ("a", "y"), 3: ("b", "x")
    }
    # nothing matched -> no commit
    assert mt.delete_where_eq(F.col("v") == "zzz") == 2
    # pending deletes make metadata-only counts unknowable (truthful)
    assert mt.row_count() is None


def should_keep_rows_appended_after_equality_delete(spark, tmp_path):
    """A delete applies only to files that existed when it committed:
    re-inserting a deleted key must survive (Iceberg sequence rule)."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x")]))
    mt.delete_where_eq(F.col("id") == 1)
    assert _state(mt.read()) == {}
    mt.append(_mk(spark, [(1, "a", "reborn")]))
    assert _state(mt.read()) == {1: ("a", "reborn")}


def should_delete_all_rows_sharing_a_matched_key(spark, tmp_path):
    """Equality deletes are KEY-granular: raw-append duplicates of a
    matched key disappear together even when only one row matched."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x"), (2, "a", "keep")]))
    mt.append(_mk(spark, [(1, "a", "y")]))  # duplicate key, other value
    mt.delete_where_eq(F.col("v") == "x")  # matches only the first row
    got = sorted((r.id, r.v) for r in mt.read().collect())
    assert got == [(2, "keep")]


def should_materialize_equality_deletes_on_compact_and_rewrites(
    spark, tmp_path
):
    """compact() folds delete-pending partitions (clearing their
    entries, restoring metadata-only counts); an upsert touching a
    pending partition must not resurrect deleted rows."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "a", "y"), (3, "b", "z")]))
    mt.delete_where_eq(F.col("id") == 1)
    v = mt.compact(min_files=99)  # folds ONLY because deletes pend
    assert v is not None
    assert mt.partition_files().keys() == {
        '{"part": "a"}', '{"part": "b"}'
    }
    assert _state(mt.read()) == {2: ("a", "y"), 3: ("b", "z")}
    assert mt.row_count() == 2  # counts exact again
    # second round: pend a delete, then upsert the same partition
    mt.delete_where_eq(F.col("id") == 2)
    mt.upsert(_mk(spark, [(4, "a", "w")]))
    assert _state(mt.read()) == {3: ("b", "z"), 4: ("a", "w")}
    assert mt.row_count() == 2  # rewrite materialized the pending delete


def should_feed_changes_across_equality_deletes(spark, tmp_path):
    """The change feed must see merge-on-read deletes (delete-list
    diffs mark partitions changed even with identical file lists)."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    mt.delete_where_eq(F.col("id") == 1)
    ch = {
        (r.id, r._change_type)
        for r in mt.changes(1, 2).select("id", "_change_type").collect()
    }
    assert ch == {(1, "delete")}
    # restore across the delete: the key comes back as an insert
    mt.restore(1)
    ch2 = {
        (r.id, r._change_type)
        for r in mt.changes(2, 3).select("id", "_change_type").collect()
    }
    assert ch2 == {(1, "insert")}


def should_delete_key_duplicates_across_partitions(spark, tmp_path):
    """Key-granularity must hold ACROSS partitions: a duplicate of a
    matched key living in another partition (raw appends with moved
    partition values) is deleted too — the second locate pass."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "p0", "hit"), (2, "p0", "keep")]))
    mt.append(_mk(spark, [(1, "p1", "other")]))  # same key, new partition
    mt.delete_where_eq(F.col("v") == "hit")  # matches only the p0 row
    assert _state(mt.read()) == {2: ("p0", "keep")}


def should_enforce_constraints_on_overwrite_where(spark, tmp_path):
    """replaceWhere is a write path like any other: a batch violating a
    CHECK constraint must bounce before anything commits."""
    from geospatial_data_lake_spark.plans.catalog import ValidationError

    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x")]))
    mt.add_constraint("id_positive", "id > 0")
    v = mt.current_version()
    with pytest.raises(ValidationError, match="id_positive"):
        mt.overwrite_where(
            _mk(spark, [(-2, "a", "y")]), F.col("id") == -2
        )
    assert mt.current_version() == v
    assert _state(mt.read()) == {1: ("a", "x")}


def should_add_constraints_before_first_data_and_stack_them(spark, tmp_path):
    """Constraint-only manifests (no data yet) must accept further
    constraints without crashing, and all of them gate the first
    batch."""
    from geospatial_data_lake_spark.plans.catalog import ValidationError

    mt = _table(spark, tmp_path)
    mt.add_constraint("id_positive", "id > 0")
    mt.add_constraint("id_small", "id < 100")  # was: AnalysisException
    with pytest.raises(ValidationError, match="id_small"):
        mt.append(_mk(spark, [(500, "a", "x")]))
    mt.append(_mk(spark, [(5, "a", "x")]))
    assert _state(mt.read()) == {5: ("a", "x")}


def should_mark_column_range_unknown_while_deletes_pend(spark, tmp_path):
    """A pending equality delete may have removed a file's extreme
    rows: the metadata-only MIN/MAX must answer None, and recover
    after the delete materializes."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x"), (2, "a", "y")]))
    assert mt.column_range("id") == (1, 2)
    assert mt.pending_delete_files() == set()
    mt.delete_where_eq(F.col("id") == 2)
    assert mt.column_range("id") is None
    # the public covered-set view names exactly the live files whose
    # stats vs19/vs20-style consumers must refuse to trust
    covered = mt.pending_delete_files()
    assert covered
    live = {f for fs in mt.partition_files().values() for f in fs}
    assert covered <= live
    mt.compact(min_files=99)
    assert mt.column_range("id") == (1, 1)
    assert mt.pending_delete_files() == set()


def should_hide_partitioning_behind_transforms(spark, tmp_path):
    """Iceberg-style hidden partitioning: writers never supply the
    derived day column, readers filter on the SOURCE timestamp and get
    partition pruning on the derived one — results equal a full-scan
    filter."""
    rows = [
        (1, "2024-01-01 10:00:00", "a"),
        (2, "2024-01-01 23:59:59", "b"),
        (3, "2024-01-02 00:00:01", "c"),
        (4, "2024-01-05 12:00:00", "d"),
    ]
    df = spark.createDataFrame(
        rows, "id long, ts_s string, v string"
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["ts_day"],
        partition_transforms={"ts_day": ("day", "ts")},
    )
    mt.append(df)
    assert set(mt.partition_files()) == {
        '{"ts_day": "2024-01-01"}',
        '{"ts_day": "2024-01-02"}',
        '{"ts_day": "2024-01-05"}',
    }
    # range predicate on the SOURCE column prunes derived partitions
    got = {
        r.id
        for r in mt.read(
            where={"ts": ("2024-01-01 00:00:00", "2024-01-02 12:00:00")}
        ).collect()
    }
    assert got == {1, 2, 3}
    planned = mt.planned_files(
        where={"ts": ("2024-01-01 00:00:00", "2024-01-02 12:00:00")}
    )
    assert len(planned) == 2, planned  # Jan-05 partition never planned
    # upsert derives the transform too, landing in the right partition
    up = spark.createDataFrame(
        [(4, "2024-01-05 13:00:00", "d2")], "id long, ts_s string, v string"
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"), "v")
    mt.upsert(up)
    assert {(r.id, r.v) for r in mt.read().collect()} == {
        (1, "a"), (2, "b"), (3, "c"), (4, "d2")
    }


def should_prune_bucket_transform_point_reads(spark, tmp_path):
    """bucket[n] hidden partitioning: an equality predicate on the
    source column maps to its hash bucket (computed by Spark itself,
    so read and write agree by construction) and prunes to one
    partition."""
    df = spark.createDataFrame(
        [(i, f"u{i % 7}", i * 10) for i in range(50)],
        "id long, user string, v long",
    )
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["user_b"],
        partition_transforms={"user_b": ("bucket", "user", 4)},
    )
    mt.append(df)
    n_parts = len(mt.partition_files())
    assert n_parts > 1
    got = {r.id for r in mt.read(where={"user": "u3"}).collect()}
    assert got == {i for i in range(50) if i % 7 == 3}
    planned = mt.planned_files(where={"user": "u3"})
    assert len(planned) < n_parts, (planned, n_parts)


def should_bucket_prune_with_typed_hash_on_long_columns(spark, tmp_path):
    """xxhash64 is type-sensitive: the read-side bucket probe must hash
    a literal cast to the COLUMN'S type (int literal vs long column was
    a confirmed wrong-bucket, zero-rows bug)."""
    df = spark.createDataFrame(
        [(i, i * 10) for i in range(40)], "id long, v long"
    )
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["id_b"],
        partition_transforms={"id_b": ("bucket", "id", 4)},
    )
    mt.append(df)
    for probe in (0, 7, 13):
        got = {r.id for r in mt.read(where={"id": probe}).collect()}
        assert got == {probe}, (probe, got)
    assert len(mt.planned_files(where={"id": 0})) < len(
        mt.planned_files()
    )


def should_truncate_prune_and_skip_unmappable_bounds(spark, tmp_path):
    """truncate[w] hidden partitioning: integral range bounds map and
    prune; a tz-aware day bound or non-integral truncate bound skips
    the mapping (weaker pruning) but never drops rows."""
    from datetime import datetime, timezone

    df = spark.createDataFrame(
        [(i, i) for i in range(100)], "id long, v long"
    )
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["v_t"],
        partition_transforms={"v_t": ("truncate", "v", 25)},
    )
    mt.append(df)
    got = {r.id for r in mt.read(where={"v": (10, 30)}).collect()}
    assert got == set(range(10, 31))
    assert len(mt.planned_files(where={"v": (10, 30)})) == 2  # 0-24, 25-49
    # unmappable bound: full plan, correct rows
    got2 = {r.id for r in mt.read(where={"v": (10.5, 30.5)}).collect()}
    assert got2 == set(range(11, 31))
    # day transform with a tz-aware bound: mapping skipped, rows exact
    ddf = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-03 10:00:00")],
        "id long, ts_s string",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"))
    mtd = ManifestTable(
        spark,
        str(tmp_path / "mtd"),
        key_cols=["id"],
        partition_by=["d"],
        partition_transforms={"d": ("day", "ts")},
    )
    mtd.append(ddf)
    lo = datetime(2024, 1, 1, 0, 0, tzinfo=timezone.utc)
    hi = datetime(2024, 1, 2, 0, 0, tzinfo=timezone.utc)
    got3 = {r.id for r in mtd.read(where={"ts": (lo, hi)}).collect()}
    assert got3 == {1}


# -- hypothesis model check: hidden-partitioning predicate mapper ------------

_HP_ROWS = [
    (i, (i * 3) % 61 - 30, f"u{i % 17}")  # v spans negatives; 17 users
    for i in range(150)
]


def _hp_table(spark, tmp_path):
    """Build the hidden-partitioned table once per test invocation (all
    hypothesis examples share one tmp_path); predicates vary per
    example, the data does not."""
    import os

    root = str(tmp_path / "hp")
    mt = ManifestTable(
        spark,
        root,
        key_cols=["id"],
        partition_by=["v_t", "u_b"],
        partition_transforms={
            "v_t": ("truncate", "v", 7),
            "u_b": ("bucket", "user", 5),
        },
    )
    if not os.path.exists(os.path.join(root, "commits")):
        mt.append(
            spark.createDataFrame(_HP_ROWS, "id long, v long, user string")
        )
    return mt


def _hp_settings():
    from hypothesis import HealthCheck, settings

    return settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )


def should_prune_hidden_partitions_exactly_under_generated_predicates(
    spark, tmp_path
):
    """Model check for _map_transform_predicates: for ANY generated
    predicate spec over the SOURCE columns (points, ranges incl.
    unbounded/empty/out-of-range, values absent from the table), a
    hidden-partitioned read must return exactly the full-scan-filter
    rows — pruning may only remove files, never rows — and a point
    predicate must actually engage partition pruning."""
    from hypothesis import given
    from hypothesis import strategies as st

    bound = st.one_of(st.none(), st.integers(-40, 40))
    v_pred = st.one_of(
        st.none(),
        st.integers(-40, 40),  # point (incl. values not present)
        st.tuples(bound, bound),  # range, possibly inverted/unbounded
    )
    u_pred = st.one_of(
        st.none(),
        st.integers(0, 20).map(lambda i: f"u{i}"),  # incl. absent users
    )

    mt = _hp_table(spark, tmp_path)
    n_files_total = len(mt.planned_files())

    @_hp_settings()
    @given(vp=v_pred, up=u_pred)
    def check(vp, up):
        where = {}
        if vp is not None:
            where["v"] = vp
        if up is not None:
            where["user"] = up

        def keep(row):
            _id, v, user = row
            if vp is not None:
                if isinstance(vp, tuple):
                    lo, hi = vp
                    if lo is not None and v < lo:
                        return False
                    if hi is not None and v > hi:
                        return False
                elif v != vp:
                    return False
            if up is not None and user != up:
                return False
            return True

        want = {r[0] for r in _HP_ROWS if keep(r)}
        got = {r.id for r in mt.read(where=where or None).collect()}
        assert got == want, (vp, up)
        if where:
            planned = mt.planned_files(where=where)
            assert set(planned) <= set(mt.planned_files())
            # a point predicate on either source column must prune files
            if isinstance(vp, int) or up is not None:
                assert len(planned) < n_files_total, (vp, up)

    check()


def should_read_by_tag_and_protect_tagged_snapshots_from_gc(spark, tmp_path):
    """Iceberg-style tags: a named ref reads like a version, survives
    retention GC for as long as it exists, and re-enters normal
    retention when deleted."""
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["part"],
        keep_versions=2,
    )
    v1 = mt.upsert(_mk(spark, [(1, "a", "x")]))
    mt.tag("release-1")  # pins v1 (head)
    assert mt.tags() == {"release-1": v1}
    for i in range(2, 7):  # push v1 far outside the 2-version window
        mt.upsert(_mk(spark, [(1, "a", f"x{i}")]))
    # untagged old versions are gone...
    with pytest.raises(NotFoundError):
        mt.read(version=v1 + 1)
    # ...but the tagged snapshot still reads, by tag AND by number
    assert _state(mt.read(version="release-1")) == {1: ("a", "x")}
    assert _state(mt.read(version=v1)) == {1: ("a", "x")}
    # immutability: re-tagging raises; unknown tags raise
    with pytest.raises(ValueError):
        mt.tag("release-1")
    with pytest.raises(NotFoundError):
        mt.read(version="no-such-tag")
    # delete -> the snapshot is reclaimed by the next commit's GC pass
    mt.delete_tag("release-1")
    assert mt.tags() == {}
    mt.upsert(_mk(spark, [(9, "a", "q")]))
    with pytest.raises(NotFoundError):
        mt.read(version=v1)


def should_reject_bad_tag_names_and_untagged_versions(spark, tmp_path):
    mt = ManifestTable(
        spark, str(tmp_path / "mt"), key_cols=["id"], partition_by=["part"]
    )
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    with pytest.raises(ValueError):
        mt.tag("bad/name")
    with pytest.raises(NotFoundError):
        mt.tag("ok", version=999)  # version never committed


# -- write-audit-publish ------------------------------------------------------


def should_publish_audited_staging_as_one_metadata_commit(spark, tmp_path):
    """WAP golden path: multiple staged mutating commits become exactly
    ONE parent version on publish, readers never see intermediates, and
    the publish rewrites no data (the staged head's file references are
    published verbatim)."""
    import os

    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    base_v = mt.current_version()

    staged = mt.begin_staged()
    staged.table.upsert(_mk(spark, [(1, "a", "x2")]))
    staged.table.append(_mk(spark, [(3, "b", "z")]))
    # AUDIT: staged state visible to the stager, invisible to readers
    assert _state(staged.table.read()) == {
        1: ("a", "x2"), 2: ("b", "y"), 3: ("b", "z"),
    }
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "y")}

    staged_files = {
        f
        for files in staged.table._current()[1]["partitions"].values()
        for f in files
    }
    data_before = set(os.listdir(mt._data))
    v = mt.publish_staged(staged)
    assert v == base_v + 1  # ONE commit, no intermediate versions
    assert mt.current_version() == v
    assert _state(mt.read()) == {1: ("a", "x2"), 2: ("b", "y"), 3: ("b", "z")}
    published_files = {
        f for files in mt._current()[1]["partitions"].values() for f in files
    }
    assert published_files == staged_files  # metadata-only fast-forward
    assert set(os.listdir(mt._data)) == data_before  # no data written
    assert not os.path.exists(staged.staging_root)


def should_reject_publish_after_concurrent_parent_commit(spark, tmp_path):
    """WAP publishes are strict fast-forwards: a parent commit during
    staging fails the publish and leaves both sides intact."""
    from geospatial_data_lake_spark.plans.catalog import CommitConflict

    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    staged = mt.begin_staged()
    staged.table.upsert(_mk(spark, [(2, "a", "y")]))
    mt.upsert(_mk(spark, [(9, "b", "w")]))  # concurrent writer wins
    with pytest.raises(CommitConflict):
        mt.publish_staged(staged)
    assert _state(mt.read()) == {1: ("a", "x"), 9: ("b", "w")}
    # staged chain untouched: re-staging on the new base loses nothing
    assert _state(staged.table.read()) == {1: ("a", "x"), 2: ("a", "y")}


def should_abort_staging_without_touching_parent(spark, tmp_path):
    """Abort removes staged-only data files, keeps base-referenced
    files, and the parent keeps working (reads + further commits)."""
    import os

    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    staged = mt.begin_staged()
    staged.table.upsert(_mk(spark, [(1, "a", "BAD"), (2, "b", "BAD")]))
    mt.abort_staged(staged)
    assert not os.path.exists(staged.staging_root)
    assert _state(mt.read()) == {1: ("a", "x")}
    mt.upsert(_mk(spark, [(3, "a", "z")]))
    assert _state(mt.read()) == {1: ("a", "x"), 3: ("a", "z")}


# -- named branches -----------------------------------------------------------


def should_run_branch_lifecycle_create_commit_fast_forward_delete(
    spark, tmp_path
):
    """Branch golden path: cut a named branch, commit to it (invisible
    to the parent), re-open it by name, fast-forward the parent to the
    branch head as ONE commit, keep working on the branch, fast-forward
    again, then delete."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    v1 = mt.current_version()

    mt.create_branch("audit")
    assert mt.branches() == {"audit": v1}
    b = mt.branch("audit")  # a fresh handle opened by name
    b.table.upsert(_mk(spark, [(1, "a", "x2"), (3, "c", "z")]))
    assert _state(b.table.read()) == {
        1: ("a", "x2"), 2: ("b", "y"), 3: ("c", "z"),
    }
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "y")}  # invisible

    v2 = mt.fast_forward("audit")
    assert v2 == v1 + 1  # ONE parent commit for the whole branch chain
    assert _state(mt.read()) == {1: ("a", "x2"), 2: ("b", "y"), 3: ("c", "z")}
    assert mt.branches() == {"audit": v2}  # base advanced, branch alive

    b2 = mt.branch("audit")
    b2.table.upsert(_mk(spark, [(4, "a", "w")]))
    v3 = mt.fast_forward("audit")
    assert v3 == v2 + 1
    assert 4 in _state(mt.read())

    mt.delete_branch("audit")
    assert mt.branches() == {}
    with pytest.raises(NotFoundError):
        mt.branch("audit")
    # parent untouched by the delete
    assert _state(mt.read()) == {
        1: ("a", "x2"), 2: ("b", "y"), 3: ("c", "z"), 4: ("a", "w"),
    }


def should_reject_fast_forward_after_parent_advanced(spark, tmp_path):
    """Branch publishes are strict fast-forwards, like WAP."""
    from geospatial_data_lake_spark.plans.catalog import CommitConflict

    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    mt.create_branch("exp")
    mt.branch("exp").table.upsert(_mk(spark, [(2, "a", "y")]))
    mt.upsert(_mk(spark, [(9, "b", "w")]))  # concurrent parent writer
    with pytest.raises(CommitConflict):
        mt.fast_forward("exp")
    assert _state(mt.read()) == {1: ("a", "x"), 9: ("b", "w")}
    assert _state(mt.branch("exp").table.read()) == {
        1: ("a", "x"), 2: ("a", "y"),
    }


def should_protect_branch_base_snapshot_from_parent_gc(spark, tmp_path):
    """A branch base is GC-protected like a tag: after enough parent
    commits to expire it from normal retention, the branch must still
    read its base state; deleting the branch releases the pin."""
    mt = _table(spark, tmp_path, keep_versions=2)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    v1 = mt.current_version()
    mt.create_branch("pin")
    for i in range(4):
        mt.upsert(_mk(spark, [(1, "a", f"p{i}")]))
    # v1 is far outside keep=2, but the branch base pins it
    assert mt._manifest_at(v1) is not None
    assert _state(mt.branch("pin").table.read()) == {
        1: ("a", "x"), 2: ("b", "y"),
    }
    mt.delete_branch("pin")
    mt.upsert(_mk(spark, [(1, "a", "p4")]))  # next commit GCs v1
    with pytest.raises(NotFoundError):
        mt._manifest_at(v1)
    assert _state(mt.read()) == {1: ("a", "p4"), 2: ("b", "y")}


def should_protect_sibling_branch_files_when_deleting_a_branch(
    spark, tmp_path
):
    """Two branches cut from the same base share its files by
    reference; deleting one — even after the base expired from parent
    retention — must not take the other's data with it."""
    mt = _table(spark, tmp_path, keep_versions=2)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    mt.create_branch("keepme")
    mt.create_branch("dropme")
    mt.branch("dropme").table.upsert(_mk(spark, [(3, "c", "tmp")]))
    for i in range(4):  # push the shared base out of parent retention
        mt.upsert(_mk(spark, [(1, "a", f"p{i}")]))
    mt.delete_branch("dropme")
    assert _state(mt.branch("keepme").table.read()) == {
        1: ("a", "x"), 2: ("b", "y"),
    }
    assert _state(mt.read()) == {1: ("a", f"p3"), 2: ("b", "y")}


def should_not_vacuum_files_written_by_live_ref_chains(spark, tmp_path):
    """vacuum must treat branch- and staging-chain manifests as
    referencing: unpublished chain data files are not orphans."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    mt.create_branch("wip")
    mt.branch("wip").table.upsert(_mk(spark, [(2, "b", "unpublished")]))
    staged = mt.begin_staged()
    staged.table.upsert(_mk(spark, [(3, "c", "staged")]))
    removed = mt.vacuum(min_age_seconds=0.0)
    # only writer-junk (_SUCCESS markers) may go — never chain data
    assert [f for f in removed if f.endswith(".parquet")] == []
    assert _state(mt.branch("wip").table.read()) == {
        1: ("a", "x"), 2: ("b", "unpublished"),
    }
    assert _state(staged.table.read()) == {1: ("a", "x"), 3: ("c", "staged")}


def should_not_let_long_staged_chains_gc_parent_base_files(spark, tmp_path):
    """Regression: the staged table shares the parent's data directory,
    so a staged chain longer than ``keep_versions`` must NOT run
    retention GC — it would expire its seeded base manifest and delete
    base-snapshot files the parent's live manifests still reference,
    silently corrupting the parent."""
    mt = _table(spark, tmp_path, keep_versions=2)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    staged = mt.begin_staged()
    # Rewrite partition 'a' well past the 2-version staged retention
    # window; partition 'b' is carried by reference from the base.
    for i in range(5):
        staged.table.upsert(_mk(spark, [(1, "a", f"s{i}")]))
    # Parent must still read its base snapshot intact (pre-fix, staged
    # GC reclaimed the base 'a'/'b' files out from under it).
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "y")}
    v = mt.publish_staged(staged)
    assert _state(mt.read(version=v)) == {1: ("a", "s4"), 2: ("b", "y")}


def should_protect_live_parent_files_on_abort_after_base_expired(
    spark, tmp_path
):
    """Regression: abort after the parent advanced past retention (so
    the base-version manifest is GC'd) must still protect base files the
    parent's CURRENT manifests carry forward by reference — the
    protected set is every retained parent manifest, not just the
    (possibly vanished) base manifest."""
    mt = _table(spark, tmp_path, keep_versions=2)
    mt.upsert(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    staged = mt.begin_staged()
    staged.table.upsert(_mk(spark, [(9, "c", "staged-only")]))
    # Parent writers churn partition 'a' until the base manifest falls
    # out of the retention window; partition 'b' rides along untouched
    # (same physical file as at base time).
    for i in range(4):
        mt.upsert(_mk(spark, [(1, "a", f"p{i}")]))
    with pytest.raises(NotFoundError):
        mt._manifest_at(staged.base_version)  # base really is GC'd
    mt.abort_staged(staged)
    # Pre-fix, base_refs was empty and abort deleted partition 'b's
    # file, which the parent's head manifest still references.
    assert _state(mt.read()) == {1: ("a", "p3"), 2: ("b", "y")}


def should_match_direct_application_for_generated_staged_sequences(
    spark, tmp_path
):
    """WAP model check: for ANY generated sequence of staged
    upsert/append batches, publish must land the parent on exactly the
    state produced by applying the same sequence directly — staging is
    an atomicity mechanism, never a semantics change."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.tuples(
        st.sampled_from(["upsert", "append"]),
        st.lists(
            st.tuples(st.integers(0, 5), st.sampled_from(["a", "b"])),
            min_size=1,
            max_size=3,
        ),
    )

    counter = [0]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=1, max_size=3))
    def check(ops):
        counter[0] += 1
        base_rows = [(1, "a", "base1"), (2, "b", "base2")]
        direct = ManifestTable(
            spark,
            str(tmp_path / f"direct_{counter[0]}"),
            key_cols=["id"],
            partition_by=["part"],
        )
        wap = ManifestTable(
            spark,
            str(tmp_path / f"wap_{counter[0]}"),
            key_cols=["id"],
            partition_by=["part"],
        )
        for mt in (direct, wap):
            mt.append(_mk(spark, base_rows))
        staged = wap.begin_staged()
        for i, (kind, rows) in enumerate(ops):
            batch = _mk(
                spark, [(rid, part, f"v{counter[0]}_{i}") for rid, part in rows]
            )
            getattr(direct, kind)(batch)
            getattr(staged.table, kind)(batch)
        base_version = wap.current_version()
        wap.publish_staged(staged)
        # ONE parent commit regardless of sequence length...
        assert wap.current_version() == base_version + 1
        # ...landing on the directly-applied state (multiset: appends
        # can duplicate keys, so compare full row multisets)
        def rows_of(mt):
            return sorted(
                (r.id, r.part, r.v) for r in mt.read().collect()
            )

        assert rows_of(wap) == rows_of(direct), ops

    check()


def should_make_idle_fast_forward_a_no_op(spark, tmp_path):
    """fast_forward is IDEMPOTENT: with no new branch commits since the
    last publish, a repeat call returns the current head without
    minting a duplicate parent commit — a periodic automated
    fast-forward on an idle branch must not churn retention (with
    keep_versions=N, each duplicate would silently expire a real
    historical snapshot)."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    mt.create_branch("idle")
    b = mt.branch("idle")
    b.table.upsert(_mk(spark, [(2, "b", "y")]))

    v2 = mt.fast_forward("idle")
    assert v2 == mt.current_version()
    # idle repeats: same head, zero new parent versions
    for _ in range(3):
        assert mt.fast_forward("idle") == v2
    assert mt.current_version() == v2
    assert mt.branches() == {"idle": v2}

    # new branch work publishes again, exactly once
    mt.branch("idle").table.upsert(_mk(spark, [(3, "c", "z")]))
    v3 = mt.fast_forward("idle")
    assert v3 == v2 + 1
    assert mt.fast_forward("idle") == v3  # and idles again
    assert mt.current_version() == v3
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "y"), 3: ("c", "z")}


def should_not_drop_branch_commit_racing_into_publish_window(
    spark, tmp_path, monkeypatch
):
    """TOCTOU regression: a branch commit landing BETWEEN the parent
    publish inside _fast_forward_chain and fast_forward's PUBLISHED
    stamp must NOT be marked as already-published — the next
    fast_forward has to land it on the parent.  (The bug: fast_forward
    re-read the chain head after publish and stamped THAT generation,
    so the racing commit silently never reached the parent.)"""
    from geospatial_data_lake_spark.sources.manifest_table import ManifestTable

    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    mt.create_branch("race")
    mt.branch("race").table.upsert(_mk(spark, [(2, "b", "y")]))

    orig = ManifestTable._fast_forward_chain
    fired = {"done": False}

    def racing(self, chain, published_gen=None):
        out = orig(self, chain, published_gen=published_gen)
        if not fired["done"]:
            fired["done"] = True
            # the racing writer: lands on the branch AFTER the parent
            # publish but BEFORE fast_forward stamps PUBLISHED
            chain.table.upsert(_mk(spark, [(3, "c", "z")]))
        return out

    monkeypatch.setattr(ManifestTable, "_fast_forward_chain", racing)
    v2 = mt.fast_forward("race")
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "y")}
    monkeypatch.setattr(ManifestTable, "_fast_forward_chain", orig)

    # the racing commit is still unpublished — the next call must land it
    v3 = mt.fast_forward("race")
    assert v3 == v2 + 1
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "y"), 3: ("c", "z")}
    # and idempotency still holds afterwards
    assert mt.fast_forward("race") == v3


def should_prune_with_in_list_data_skipping_spec(spark, tmp_path):
    """``where={col: [v1, v2, ...]}`` is an IN-list data-skipping spec:
    ONE pruned scan planning only the files that might hold ANY member
    (the ANN-nprobe / multi-partition-probe shape), exact results, and
    transform mapping (bucket/truncate/day) per member."""
    mt = _table(spark, tmp_path)
    mt.upsert(
        _mk(
            spark,
            [(i, "a", f"v{i}") for i in range(0, 10)]
            + [(i, "b", f"v{i}") for i in range(100, 110)]
            + [(i, "c", f"v{i}") for i in range(200, 210)],
        )
    )
    all_files = mt.planned_files()
    assert len(all_files) == 3
    # two members across two partitions: exactly those files plan
    pruned = mt.planned_files(where={"id": [5, 205]})
    assert len(pruned) == 2
    assert set(pruned) < set(all_files)
    got = _state(mt.read(where={"id": [5, 205]}))
    assert got == {5: ("a", "v5"), 205: ("c", "v205")}
    # IN-list on the partition column prunes the same way
    assert len(mt.planned_files(where={"part": ["a", "c"]})) == 2
    # members that match nothing plan nothing / return nothing
    assert mt.planned_files(where={"id": [5000, 6000]}) == []
    assert mt.read(where={"id": []}).count() == 0

    # hidden bucket transform: each member maps to its own bucket, the
    # union of those buckets' files is planned in ONE read
    mtb = ManifestTable(
        spark,
        str(tmp_path / "mtb"),
        key_cols=["id"],
        partition_by=["vb"],
        partition_transforms={"vb": ("bucket", "v", 8)},
    )
    mtb.upsert(_mk(spark, [(i, "x", f"w{i}") for i in range(64)]))
    n_all = len(mtb.planned_files())
    probe = ["w3", "w17", "w41"]
    n_probe = len(mtb.planned_files(where={"v": probe}))
    assert 0 < n_probe < n_all
    assert {r.id for r in mtb.read(where={"v": probe}).collect()} == {3, 17, 41}


def should_carry_table_properties_through_commits_and_restore(spark, tmp_path):
    """Table properties (TBLPROPERTIES analog): set as a metadata-only
    commit, carried forward through data commits, versioned with the
    snapshot (time travel sees the old value), and restored by
    restore."""
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    assert mt.properties() == {}
    v_set = mt.set_property("owner", "pipeline-a")
    assert mt.properties() == {"owner": "pipeline-a"}
    # survives later data commits
    mt.upsert(_mk(spark, [(2, "b", "y")]))
    mt.delete_where_eq(F.col("id") == 2)
    assert mt.properties()["owner"] == "pipeline-a"
    # versioned: the pre-set snapshot has no properties
    assert mt.properties_at(v_set - 1) == {}
    # overwrite + second key
    mt.set_property("owner", "pipeline-b")
    mt.set_property("retention.days", "30")
    assert mt.properties() == {
        "owner": "pipeline-b", "retention.days": "30",
    }
    # restore brings back the target snapshot's properties
    mt.restore(v_set)
    assert mt.properties() == {"owner": "pipeline-a"}


def should_evolve_partition_spec_with_per_era_pruning(spark, tmp_path):
    """Partition-spec evolution (Iceberg semantics): transforms change
    without rewriting data; old files keep their spec; pruning maps the
    source predicate PER ERA (bucket[4] for old files, bucket[16] for
    new), so reads across the boundary are exact AND still pruned on
    both sides; upserting an old key after evolution moves it to its
    new-spec partition without duplication."""
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["wb"],
        partition_transforms={"wb": ("bucket", "v", 4)},
    )
    mt.append(_mk(spark, [(i, "x", f"w{i}") for i in range(48)]))
    assert mt.partition_spec() == ("0", {"wb": ("bucket", "v", 4)})
    n_era0 = len(mt.planned_files())

    mt.evolve_partition_spec({"wb": ("bucket", "v", 16)})
    sid, tr = mt.partition_spec()
    assert (sid, tr) == ("1", {"wb": ("bucket", "v", 16)})
    # old files untouched by the evolution commit
    assert len(mt.planned_files()) == n_era0

    mt.append(_mk(spark, [(i, "x", f"w{i}") for i in range(100, 148)]))
    total = len(mt.planned_files())
    assert total > n_era0

    # a fresh handle opened with the ORIGINAL constructor args serves
    # the evolved spec (the manifest owns the active spec)
    mt2 = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["wb"],
        partition_transforms={"wb": ("bucket", "v", 4)},
    )
    assert mt2.partition_spec()[0] == "1"

    # point reads across the boundary: exact on BOTH eras (an era-blind
    # mapping would prune old files by the bucket[16] bound and lose
    # rows), and pruned on both sides (at most one bucket's files per
    # era)
    for probe_v, want_ids in (("w7", {7}), ("w107", {107})):
        planned = mt.planned_files(where={"v": probe_v})
        assert 0 < len(planned) < total
        got = {r.id for r in mt.read(where={"v": probe_v}).collect()}
        assert got == want_ids, (probe_v, got)
    # one value per era in a single IN-list read
    got = {r.id for r in mt.read(where={"v": ["w7", "w107"]}).collect()}
    assert got == {7, 107}
    # pruning effectiveness: a point read plans at most one partition's
    # files per era
    per_era_max = 2  # 1 old bucket file + 1 new bucket file
    assert len(mt.planned_files(where={"v": "w7"})) <= per_era_max

    # upsert an OLD key after evolution: lands under the new spec, no
    # duplicate survives in the old partition
    mt.upsert(_mk(spark, [(7, "x", "w7")]))
    rows = mt.read().filter(F.col("id") == 7).collect()
    assert len(rows) == 1
    got = {r.id for r in mt.read(where={"v": "w7"}).collect()}
    assert got == {7}
    # full state intact across eras
    assert {r.id for r in mt.read().collect()} == (
        set(range(48)) | set(range(100, 148))
    )

    # spec registry is versioned: time travel to the pre-evolution
    # snapshot still reads exactly (per-file mapping is manifest-driven)
    v1_rows = {r.id for r in mt.read(version=1).collect()}
    assert v1_rows == set(range(48))

    # guard: partition COLUMNS are fixed — only transforms evolve
    with pytest.raises(ValueError, match="must be in partition_by"):
        mt.evolve_partition_spec({"other": ("bucket", "v", 8)})


def should_rewrite_old_spec_partitions_to_current_spec(spark, tmp_path):
    """rewrite_to_current_spec retires spec-evolution debt: after the
    rewrite every live file carries the current spec, a point read
    plans single-era files, content and history are preserved, and a
    second call is an idempotent no-op."""
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["wb"],
        partition_transforms={"wb": ("bucket", "v", 4)},
    )
    mt.append(_mk(spark, [(i, "x", f"w{i}") for i in range(48)]))
    mt.evolve_partition_spec({"wb": ("bucket", "v", 16)})
    mt.append(_mk(spark, [(i, "x", f"w{i}") for i in range(100, 148)]))
    before = {r.id for r in mt.read().collect()}
    v_pre = mt.current_version()

    v = mt.rewrite_to_current_spec()
    assert v == v_pre + 1
    # content preserved; old snapshot still time-travels
    assert {r.id for r in mt.read().collect()} == before
    assert {r.id for r in mt.read(version=v_pre).collect()} == before
    # all live files now carry the current spec stamp
    _gen, manifest = mt._current()
    cur = manifest["current_spec"]
    for files in manifest["partitions"].values():
        for f in files:
            assert str(manifest["stats"][f].get("__spec")) == cur, f
    # single-era point read: every planned file sits in ONE partition
    # (pre-rewrite it planned one partition PER ERA; compaction, not
    # the rewrite, folds multiple files within a partition)
    planned = mt.planned_files(where={"v": "w7"})
    assert len({f.rsplit("__mt_pk=", 1)[-1] for f in planned}) == 1
    assert {r.id for r in mt.read(where={"v": "w7"}).collect()} == {7}
    # idempotent
    assert mt.rewrite_to_current_spec() is None
    # a never-evolved table is a no-op too
    mt2 = ManifestTable(
        spark, str(tmp_path / "mt2"), key_cols=["id"], partition_by=["part"]
    )
    mt2.upsert(_mk(spark, [(1, "a", "x")]))
    assert mt2.rewrite_to_current_spec() is None


def should_keep_spec_registry_through_restore_to_pre_evolution_snapshot(
    spark, tmp_path
):
    """Restore x spec evolution: the spec registry is TABLE metadata,
    not snapshot data — restoring to a PRE-evolution snapshot must keep
    the registry and the current-spec setting, or the old-spec files it
    re-points would be pruned under the evolved transforms (missing
    rows)."""
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["wb"],
        partition_transforms={"wb": ("bucket", "v", 4)},
    )
    mt.append(_mk(spark, [(i, "x", f"w{i}") for i in range(32)]))
    v_pre = mt.current_version()
    mt.evolve_partition_spec({"wb": ("bucket", "v", 16)})
    mt.append(_mk(spark, [(i, "x", f"w{i}") for i in range(100, 132)]))

    v_restored = mt.restore(v_pre)
    # registry + current spec survive the rollback
    _gen, manifest = mt._current()
    assert set(manifest["specs"]) == {"0", "1"}
    assert manifest["current_spec"] == "1"
    assert mt.partition_spec()[0] == "1"
    # the restored (pre-evolution, spec-0-stamped) files still prune
    # and read EXACTLY under a source-column point read
    assert {r.id for r in mt.read().collect()} == set(range(32))
    got = {r.id for r in mt.read(where={"v": "w7"}).collect()}
    assert got == {7}
    assert 0 < len(mt.planned_files(where={"v": "w7"})) < len(
        mt.planned_files()
    )
    # and new writes keep deriving under the evolved spec
    mt.append(_mk(spark, [(200, "x", "w200")]))
    assert {r.id for r in mt.read(where={"v": "w200"}).collect()} == {200}
    assert v_restored == v_pre + 3


def should_prune_time_travel_reads_at_pre_evolution_versions(spark, tmp_path):
    """Time travel x spec evolution: a pruned read AT a pre-evolution
    version must map the predicate under the ORIGINAL spec (the head
    registry's spec "0"), not the handle's evolved transforms — an
    evolved-spec mapping would wrongly prune the old bucket files and
    lose rows."""
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["wb"],
        partition_transforms={"wb": ("bucket", "v", 4)},
    )
    mt.append(_mk(spark, [(i, "x", f"w{i}") for i in range(32)]))
    v_pre = mt.current_version()
    mt.evolve_partition_spec({"wb": ("bucket", "v", 16)})
    mt.append(_mk(spark, [(i, "x", f"w{i}") for i in range(100, 132)]))

    # exact + pruned at the historical version, for several probe values
    for probe, want in (("w7", {7}), ("w0", {0}), ("w31", {31})):
        got = {
            r.id
            for r in mt.read(version=v_pre, where={"v": probe}).collect()
        }
        assert got == want, (probe, got)
    files_at_pre = mt.planned_files(version=v_pre)
    pruned = mt.planned_files(version=v_pre, where={"v": "w7"})
    assert 0 < len(pruned) < len(files_at_pre)


def should_serialize_racing_appends_against_spec_evolution(spark, tmp_path):
    """Racing appenders while the spec evolves mid-flight: every batch
    survives exactly once, the history is gap-free, and every row is
    exactly readable through source-column pruned reads afterwards —
    each file prunes under the spec its rows were DERIVED with, no
    matter which side of the evolution commit its append landed on."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "race_spec")
    seed = ManifestTable(
        spark,
        root,
        key_cols=["id"],
        partition_by=["wb"],
        partition_transforms={"wb": ("bucket", "v", 4)},
    )
    seed.append(_mk(spark, [(999, "x", "w999")]))

    def append(i):
        mt = ManifestTable(
            spark,
            root,
            key_cols=["id"],
            partition_by=["wb"],
            partition_transforms={"wb": ("bucket", "v", 4)},
        )
        return mt.upsert(
            _mk(spark, [(i * 10 + k, "x", f"w{i * 10 + k}") for k in range(4)])
        )

    def evolve(_):
        mt = ManifestTable(
            spark,
            root,
            key_cols=["id"],
            partition_by=["wb"],
            partition_transforms={"wb": ("bucket", "v", 4)},
        )
        return mt.evolve_partition_spec({"wb": ("bucket", "v", 16)})

    with ThreadPoolExecutor(max_workers=5) as pool:
        futs = [pool.submit(append, i) for i in range(4)]
        futs.append(pool.submit(evolve, 0))
        versions = [f.result() for f in futs]

    assert sorted(versions) == list(range(2, 7))  # gap-free after seed
    final = ManifestTable(
        spark,
        root,
        key_cols=["id"],
        partition_by=["wb"],
        partition_transforms={"wb": ("bucket", "v", 4)},
    )
    assert final.partition_spec()[0] == "1"
    want = {999} | {i * 10 + k for i in range(4) for k in range(4)}
    assert {r.id for r in final.read().collect()} == want
    # pruned point reads stay exact for rows written on EITHER side of
    # the evolution commit
    for probe in sorted(want):
        got = {
            r.id for r in final.read(where={"v": f"w{probe}"}).collect()
        }
        assert got == {probe}, probe


# -- partition-COLUMN evolution (add/remove partition fields) -----------------


def _mk4(spark, rows):
    return spark.createDataFrame(rows, "id long, part string, cat string, v string")


def should_evolve_partition_columns_add_field(spark, tmp_path):
    """Iceberg add-partition-field: evolve (part,) -> (part, cat)
    without rewriting a byte.  Old partitions stay addressable under
    their era's keys; new appends route under the two-column key
    space; reads and point predicates are exact across the boundary;
    a fresh handle constructed with the ORIGINAL columns serves the
    evolved key space."""
    mt = ManifestTable(
        spark, str(tmp_path / "mt"), key_cols=["id"], partition_by=["part"]
    )
    mt.append(_mk4(spark, [(i, "a" if i % 2 else "b", f"c{i % 3}", f"w{i}")
                           for i in range(12)]))
    old_keys = set(mt.partition_files())
    assert all(len(__import__("json").loads(k)) == 1 for k in old_keys)

    v = mt.evolve_partition_spec({}, partition_by=["part", "cat"])
    assert mt.partition_by == ["part", "cat"]
    # metadata-only: old partitions untouched
    assert set(mt.partition_files()) == old_keys

    mt.append(_mk4(spark, [(i, "a", f"c{i % 3}", f"w{i}")
                           for i in range(100, 112)]))
    keys_now = set(mt.partition_files())
    new_keys = keys_now - old_keys
    assert new_keys and all(
        len(__import__("json").loads(k)) == 2 for k in new_keys
    )
    assert old_keys <= keys_now  # old era carried by reference

    # reads exact across the boundary
    got = {r.id for r in mt.read().collect()}
    assert got == set(range(12)) | set(range(100, 112))
    assert {r.id for r in mt.read(where={"v": "w7"}).collect()} == {7}
    assert {r.id for r in mt.read(where={"cat": "c1"}).collect()} == {
        i for i in (set(range(12)) | set(range(100, 112))) if i % 3 == 1
    }

    # a fresh handle with the ORIGINAL columns serves the evolved space
    mt2 = ManifestTable(
        spark, str(tmp_path / "mt"), key_cols=["id"], partition_by=["part"]
    )
    assert mt2.current_version() >= v
    assert mt2.partition_by == ["part", "cat"]

    # time travel to the pre-evolution snapshot still reads exactly
    assert {r.id for r in mt.read(version=1).collect()} == set(range(12))

    # guards
    with pytest.raises(ValueError, match="cannot evolve to empty"):
        mt.evolve_partition_spec({}, partition_by=[])


def should_upsert_across_partition_column_eras_without_duplicates(
    spark, tmp_path
):
    """The cross-era MERGE hazard: after a column evolution the same
    key routes to a DIFFERENT partition key than where its old row
    lives, so the keys-subsume-partitioning short-circuit is unsound —
    upsert must locate the old row by its FILE's era key and remove
    it.  key_cols=['id','part','cat'] subsumes both eras' partition
    columns, making this exactly the case the short-circuit would
    wrongly skip."""
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id", "part", "cat"],
        partition_by=["part"],
    )
    mt.append(_mk4(spark, [(1, "a", "c0", "old1"), (2, "a", "c1", "old2"),
                           (3, "b", "c0", "old3")]))
    mt.evolve_partition_spec({}, partition_by=["part", "cat"])

    # update an OLD-era key: its old row must not survive
    mt.upsert(_mk4(spark, [(1, "a", "c0", "NEW1")]))
    rows = {(r.id): r.v for r in mt.read().collect()}
    assert rows == {1: "NEW1", 2: "old2", 3: "old3"}
    one = mt.read().filter(F.col("id") == 1).collect()
    assert len(one) == 1 and one[0].v == "NEW1"

    # and again (the updated row now lives in a NEW-era partition)
    mt.upsert(_mk4(spark, [(1, "a", "c0", "NEW2")]))
    assert {r.v for r in mt.read().filter(F.col("id") == 1).collect()} == {
        "NEW2"
    }


def should_delete_across_partition_column_eras(spark, tmp_path):
    """delete_where and delete_where_eq must attribute matched rows to
    the manifest key of the FILE holding them: a predicate matching
    old-era rows rewrites (or marks) the OLD partition, post-evolution."""
    mt = ManifestTable(
        spark, str(tmp_path / "mt"), key_cols=["id"], partition_by=["part"]
    )
    mt.append(_mk4(spark, [(i, "a" if i % 2 else "b", f"c{i % 3}", f"w{i}")
                           for i in range(8)]))
    mt.evolve_partition_spec({}, partition_by=["part", "cat"])
    mt.append(_mk4(spark, [(i, "a", f"c{i % 3}", f"w{i}")
                           for i in range(100, 108)]))

    # rewrite delete hits both eras
    v = mt.delete_where(F.col("v").isin("w3", "w103"))
    got = {r.id for r in mt.read().collect()}
    assert got == (set(range(8)) | set(range(100, 108))) - {3, 103}

    # equality-delete (merge-on-read) hits both eras too
    mt.delete_where_eq(F.col("v").isin("w5", "w105"))
    got = {r.id for r in mt.read().collect()}
    assert got == (set(range(8)) | set(range(100, 108))) - {3, 103, 5, 105}
    # and the pre-delete snapshot still time-travels
    assert {r.id for r in mt.read(version=v).collect()} == (
        set(range(8)) | set(range(100, 108))
    ) - {3, 103}


def should_rewrite_column_evolved_table_to_current_spec(spark, tmp_path):
    """rewrite_to_current_spec migrates the old column era: afterwards
    every live partition is keyed under the NEW column list, content
    is preserved, and the keys-subsume short-circuit becomes valid
    again (single era)."""
    import json as _json

    mt = ManifestTable(
        spark, str(tmp_path / "mt"), key_cols=["id"], partition_by=["part"]
    )
    mt.append(_mk4(spark, [(i, "a" if i % 2 else "b", f"c{i % 3}", f"w{i}")
                           for i in range(12)]))
    mt.evolve_partition_spec({}, partition_by=["part", "cat"])
    before = {r.id for r in mt.read().collect()}

    assert mt.rewrite_to_current_spec() is not None
    assert {r.id for r in mt.read().collect()} == before
    # every live partition keyed under the 2-column space, stamped cur
    _gen, manifest = mt._current()
    cur = manifest["current_spec"]
    for pk, files in manifest["partitions"].items():
        assert len(_json.loads(pk)) == 2, pk
        for f in files:
            assert str(manifest["stats"][f].get("__spec")) == cur
    assert not mt._column_eras_mixed(manifest)
    # idempotent
    assert mt.rewrite_to_current_spec() is None


def should_evolve_partition_columns_with_new_transform_field(
    spark, tmp_path
):
    """Column evolution composes with hidden partitioning: grow
    (part,) -> (part, vb) where vb = bucket(v, 4).  Old files carry no
    vb at all; pruning on v maps per era (no vb bound for old-spec
    files — conservative keep), so point reads stay exact on both
    sides while new-era files prune on the bucket."""
    mt = ManifestTable(
        spark, str(tmp_path / "mt"), key_cols=["id"], partition_by=["part"]
    )
    mt.append(_mk4(spark, [(i, "a", "c0", f"w{i}") for i in range(8)]))
    mt.evolve_partition_spec(
        {"vb": ("bucket", "v", 4)}, partition_by=["part", "vb"]
    )
    mt.append(_mk4(spark, [(i, "a", "c0", f"w{i}") for i in range(100, 116)]))

    total = len(mt.planned_files())
    # exact across eras
    assert {r.id for r in mt.read(where={"v": "w3"}).collect()} == {3}
    assert {r.id for r in mt.read(where={"v": "w103"}).collect()} == {103}
    # new era prunes on the bucket: a point read plans fewer files
    planned = mt.planned_files(where={"v": "w103"})
    assert 0 < len(planned) < total
    # the old era's single partition is conservatively kept (no vb)
    assert {r.id for r in mt.read(where={"v": ["w3", "w103"]}).collect()} == {
        3, 103,
    }


def should_match_model_under_generated_ops_across_column_evolution(
    spark, tmp_path
):
    """Column-evolution model check: ANY generated sequence of
    append/upsert/delete batches with a partition-column evolution
    (part,) -> (part, cat) inserted at ANY generated position must
    land on exactly the state a plain key->rows model produces —
    the era bookkeeping (per-file keys, era-exact rewrites, mixed-era
    probes) must be invisible to semantics."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.tuples(
        st.sampled_from(["append", "upsert", "delete"]),
        st.lists(
            st.tuples(
                st.integers(0, 5),
                st.sampled_from(["a", "b"]),
                st.sampled_from(["c0", "c1"]),
            ),
            min_size=1,
            max_size=3,
        ),
    )
    counter = [0]

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=1, max_size=3), evo_at=st.integers(0, 3))
    def check(ops, evo_at):
        counter[0] += 1
        mt = ManifestTable(
            spark,
            str(tmp_path / f"ce_{counter[0]}"),
            key_cols=["id"],
            partition_by=["part"],
        )
        mt.append(_mk4(spark, [(9, "a", "c0", "seed")]))
        model = [(9, "a", "c0", "seed")]
        evolved = False
        for i, (kind, rows) in enumerate([*ops, ("append", [])]):
            if i >= evo_at and not evolved:
                mt.evolve_partition_spec(
                    {}, partition_by=["part", "cat"]
                )
                evolved = True
            if not rows:
                continue
            batch_rows = [
                (rid, part, cat, f"v{counter[0]}_{i}")
                for rid, part, cat in rows
            ]
            if kind == "append":
                mt.append(_mk4(spark, batch_rows))
                model.extend(batch_rows)
            elif kind == "upsert":
                dedup = list({r[0]: r for r in batch_rows}.values())
                mt.upsert(_mk4(spark, dedup))
                keys = {r[0] for r in dedup}
                model = [r for r in model if r[0] not in keys] + dedup
            else:
                ids = sorted({r[0] for r in rows})
                mt.delete_where(F.col("id").isin(ids))
                model = [r for r in model if r[0] not in set(ids)]
        got = sorted(
            (r.id, r.part, r.cat, r.v) for r in mt.read().collect()
        )
        assert got == sorted(model), (ops, evo_at)

    check()


def should_keep_property_semantics_across_branches_restore_and_gc(
    spark, tmp_path
):
    """Ref-integrity sweep for table properties: (a) a branch sees the
    parent's properties at its base; (b) a property set ON the branch
    is invisible to the parent until fast_forward lands it (one
    commit); (c) deleting an un-published branch discards its property
    changes; (d) restore brings back the TARGET's properties while
    keeping head txn watermarks; (e) properties of GC-expired versions
    are unreadable, tagged ones survive."""
    mt = _table(spark, tmp_path, keep_versions=3)
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    mt.set_property("owner", "alice")

    # (a) branch sees base properties
    mt.create_branch("exp")
    b = mt.branch("exp")
    assert b.table.properties() == {"owner": "alice"}

    # (b) branch-side property change is isolated, then lands via ff
    b.table.set_property("owner", "bob")
    b.table.set_property("quality", "audited")
    assert mt.properties() == {"owner": "alice"}
    v_before = mt.current_version()
    mt.fast_forward("exp")
    assert mt.current_version() == v_before + 1  # ONE commit
    assert mt.properties() == {"owner": "bob", "quality": "audited"}
    mt.delete_branch("exp")

    # (c) an un-published branch's property change dies with it
    mt.create_branch("scrap")
    mt.branch("scrap").table.set_property("owner", "eve")
    mt.delete_branch("scrap")
    assert mt.properties()["owner"] == "bob"

    # (d) restore brings back the target's properties
    v_bob = mt.current_version()
    mt.set_property("owner", "carol")
    assert mt.properties()["owner"] == "carol"
    mt.restore(v_bob)
    assert mt.properties()["owner"] == "bob"
    # a branch cut AFTER the restore sees the restored properties
    mt.create_branch("post")
    assert mt.branch("post").table.properties()["owner"] == "bob"
    mt.delete_branch("post")

    # (e) GC: expired versions' properties are unreadable; tags protect
    mt.tag("keep", version=v_bob)
    for i in range(5):
        mt.upsert(_mk(spark, [(1, "a", f"g{i}")]))
    assert mt.properties_at("keep")["owner"] == "bob"
    with pytest.raises(NotFoundError):
        mt.properties_at(1)


def should_evolve_partition_columns_remove_field(spark, tmp_path):
    """Iceberg remove-partition-field: evolve (part, cat) -> (part,).
    Old two-column partitions stay addressable; new appends route
    one-column keys; reads, cross-era upsert, and delete stay exact."""
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["part", "cat"],
    )
    mt.append(_mk4(spark, [(i, "a" if i % 2 else "b", f"c{i % 2}", f"w{i}")
                           for i in range(8)]))
    mt.evolve_partition_spec({}, partition_by=["part"])
    assert mt.partition_by == ["part"]
    mt.append(_mk4(spark, [(i, "a", "c0", f"w{i}") for i in range(100, 104)]))

    import json as _json

    arities = {len(_json.loads(k)) for k in mt.partition_files()}
    assert arities == {1, 2}  # both eras coexist
    assert {r.id for r in mt.read().collect()} == (
        set(range(8)) | set(range(100, 104))
    )
    # cross-era upsert: old-era key must not duplicate
    mt.upsert(_mk4(spark, [(3, "a", "c1", "NEW")]))
    rows = mt.read().filter(F.col("id") == 3).collect()
    assert len(rows) == 1 and rows[0].v == "NEW"
    # cross-era delete
    mt.delete_where(F.col("id").isin(2, 101))
    assert {r.id for r in mt.read().collect()} == (
        set(range(8)) | set(range(100, 104))
    ) - {2, 101}


def should_optimize_column_evolved_table(spark, tmp_path):
    """optimize after a column evolution: the clustering rewrite must
    resolve its routing expression even when the added partition
    column predates every file (typed NULLs / derived transform), keep
    content intact, and implicitly migrate the key space."""
    import json as _json

    mt = ManifestTable(
        spark, str(tmp_path / "mt"), key_cols=["id"], partition_by=["part"]
    )
    mt.append(_mk4(spark, [(i, "a" if i % 2 else "b", f"c{i % 2}", f"w{i}")
                           for i in range(12)]))
    # add a DATA column and a TRANSFORM column to the key space with no
    # new-era appends at all — the crash case the guard covers
    mt.evolve_partition_spec(
        {"ib": ("bucket", "id", 2)}, partition_by=["part", "cat", "ib"]
    )
    before = {(r.id, r.part, r.cat, r.v) for r in mt.read().collect()}
    assert mt.optimize(sort_by=["id"], target_files=2) is not None
    got = {(r.id, r.part, r.cat, r.v) for r in mt.read().collect()}
    assert got == before
    # fully migrated: every live partition keyed under the 3-column space
    assert {len(_json.loads(k)) for k in mt.partition_files()} == {3}
    # point read prunes on the derived bucket
    assert {r.id for r in mt.read(where={"id": 7}).collect()} == {7}


def should_probe_only_old_era_remnant_on_mixed_era_upsert(spark, tmp_path):
    """With keys subsuming the partition columns, the mixed-era MERGE
    probe scans only the NON-current-era remnant (old-stamp +
    unstamped files) — current-era files provably hold each key at its
    derived partition, which the update batch's own routing already
    touches.  Correctness pin: a key duplicated across BOTH eras (old
    partition + current derived partition, via blind appends) is fully
    replaced by one upsert."""
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id", "part", "cat"],
        partition_by=["part"],
    )
    mt.append(_mk4(spark, [(1, "a", "c0", "old-era"), (2, "b", "c1", "keep")]))
    mt.evolve_partition_spec({}, partition_by=["part", "cat"])
    # current-era DUPLICATE of key 1 (blind append never dedups)
    mt.append(_mk4(spark, [(1, "a", "c0", "new-era-dup"), (3, "a", "c2", "x")]))
    assert mt.read().filter(F.col("id") == 1).count() == 2  # both eras

    # the probe view: era-1 files only (stamped "0"), not the new append
    _gen, manifest = mt._current()
    remnant = mt._non_current_era_files(manifest)
    all_files = {f for fs in manifest["partitions"].values() for f in fs}
    rem_files = {f for fs in remnant.values() for f in fs}
    assert rem_files and rem_files < all_files
    cur = manifest["current_spec"]
    for f in rem_files:
        assert str(manifest["stats"][f].get("__spec")) != str(cur)

    v = mt.upsert(_mk4(spark, [(1, "a", "c0", "FINAL")]))
    rows = mt.read().filter(F.col("id") == 1).collect()
    assert len(rows) == 1 and rows[0].v == "FINAL", rows
    assert {r.v for r in mt.read().collect()} == {"FINAL", "keep", "x"}
    # idempotent second upsert still resolves to one row
    mt.upsert(_mk4(spark, [(1, "a", "c0", "FINAL2")]))
    assert [r.v for r in mt.read().filter(F.col("id") == 1).collect()] == [
        "FINAL2"
    ]
    assert mt.current_version() == v + 1


def should_reject_write_batch_lacking_evolved_partition_column(
    spark, tmp_path
):
    """After a column evolution, a write batch that omits the new
    partition DATA column must fail with a clear error before anything
    is written — not an AnalysisException from deep inside the routing
    expression.  Transform columns derive automatically and need no
    batch column."""
    mt = ManifestTable(
        spark, str(tmp_path / "mt"), key_cols=["id"], partition_by=["part"]
    )
    mt.append(_mk4(spark, [(1, "a", "c0", "x")]))
    mt.evolve_partition_spec({}, partition_by=["part", "cat"])
    narrow = spark.createDataFrame(
        [(2, "a", "y")], "id long, part string, v string"
    )
    with pytest.raises(ValueError, match="lacks partition column"):
        mt.append(narrow)
    with pytest.raises(ValueError, match="lacks partition column"):
        mt.upsert(narrow)
    # a transform-only addition needs no batch column
    mt2 = ManifestTable(
        spark, str(tmp_path / "mt2"), key_cols=["id"], partition_by=["part"]
    )
    mt2.append(_mk4(spark, [(1, "a", "c0", "x")]))
    mt2.evolve_partition_spec(
        {"ib": ("bucket", "id", 2)}, partition_by=["part", "ib"]
    )
    mt2.append(_mk4(spark, [(2, "b", "c1", "y")]))  # derives ib itself
    assert {r.id for r in mt2.read().collect()} == {1, 2}


def should_serialize_racing_upserts_against_column_evolution(
    spark, tmp_path
):
    """Racing MERGE writers while the partition-COLUMN list evolves
    mid-flight: every batch survives exactly once (no duplicate keys,
    none lost), history is gap-free, and the final table reads exactly
    whichever column era each upsert landed in."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "race_cols")
    seed = ManifestTable(
        spark, root, key_cols=["id"], partition_by=["part"]
    )
    seed.append(_mk4(spark, [(999, "x", "c9", "w999")]))

    def write(i):
        mt = ManifestTable(
            spark, root, key_cols=["id"], partition_by=["part"]
        )
        return mt.upsert(
            _mk4(
                spark,
                [
                    (i * 10 + k, "a" if k % 2 else "b", f"c{k % 2}",
                     f"w{i * 10 + k}")
                    for k in range(4)
                ],
            )
        )

    def evolve(_):
        mt = ManifestTable(
            spark, root, key_cols=["id"], partition_by=["part"]
        )
        return mt.evolve_partition_spec({}, partition_by=["part", "cat"])

    with ThreadPoolExecutor(max_workers=5) as pool:
        futs = [pool.submit(write, i) for i in range(4)]
        futs.append(pool.submit(evolve, 0))
        versions = [f.result() for f in futs]

    assert sorted(versions) == list(range(2, 7))  # gap-free after seed
    final = ManifestTable(
        spark, root, key_cols=["id"], partition_by=["part"]
    )
    final.current_version()  # first head read syncs the active columns
    assert final.partition_by == ["part", "cat"]
    want = {999} | {i * 10 + k for i in range(4) for k in range(4)}
    rows = final.read().collect()
    assert {r.id for r in rows} == want
    assert len(rows) == len(want)  # exactly once — no era duplication
    # and a follow-up cross-era upsert of every key still converges
    final.upsert(
        _mk4(spark, [(i, "a", "c0", "FIN") for i in sorted(want)])
    )
    rows = final.read().collect()
    assert len(rows) == len(want)
    assert {r.v for r in rows} == {"FIN"}


def should_not_collide_manifest_keys_after_same_arity_column_swap(
    spark, tmp_path
):
    """The same-arity column-evolution collision (r9 data-loss hazard):
    after ``['part']→['cat']`` an old-era directory {"part": "x"} and a
    new-era directory {"cat": "x"} hold the same VALUES under different
    columns.  A values-only manifest key would collapse them to one
    entry, so a cross-era rewrite (delete_where routes survivors by
    their era-exact file key) would keep one produced directory per key
    and silently drop the other era's survivors from the commit.  The
    manifest key must carry the column NAMES."""
    mt = ManifestTable(
        spark, str(tmp_path / "mt"), key_cols=["id"], partition_by=["part"]
    )
    # old era: one partition part="x" holding two rows
    mt.append(_mk4(spark, [(1, "x", "m", "del"), (2, "x", "n", "keep-old")]))
    mt.evolve_partition_spec({}, partition_by=["cat"])
    # new era: one partition cat="x" — same VALUES tuple as the old dir
    mt.append(_mk4(spark, [(3, "p", "x", "del"), (4, "q", "x", "keep-new")]))
    keys = set(mt.partition_files())
    assert len(keys) == 2  # distinct manifest entries, names included

    # cross-era rewrite touching BOTH colliding-value partitions
    mt.delete_where(F.col("v") == "del")

    rows = {r.id: r.v for r in mt.read().collect()}
    assert rows == {2: "keep-old", 4: "keep-new"}  # no era's survivors lost
    pf = mt.partition_files()
    assert len(pf) == 2 and all(len(fs) == 1 for fs in pf.values())
    # stats stay era-exact: every produced file carries a stats entry
    m = mt._current()[1]
    live = {f for fs in m["partitions"].values() for f in fs}
    assert all(f in m["stats"] for f in live)
    assert sum(m["stats"][f]["__rows"][0] for f in live) == 2

    # point reads across the boundary stay exact
    assert {r.id for r in mt.read(where={"part": "x"}).collect()} == {2}
    assert {r.id for r in mt.read(where={"cat": "x"}).collect()} == {4}


def should_rederive_evolved_transform_nulls_on_optimize(spark, tmp_path):
    """optimize() must fill NULL evolved TRANSFORM partition columns by
    re-deriving from the source column (rows from files that predate
    the column would otherwise land in a null-keyed partition and
    pruning on the source column would degrade forever), while stored
    non-null values stay untouched."""
    mt = ManifestTable(
        spark, str(tmp_path / "mt"), key_cols=["id"], partition_by=["part"]
    )
    mt.append(_mk(spark, [(i, "a", f"w{i}") for i in range(8)]))
    # add a hidden bucket(v, 4) partition column post-hoc
    mt.evolve_partition_spec(
        {"vb": ("bucket", "v", 4)}, partition_by=["part", "vb"]
    )
    mt.optimize(sort_by=["id"], target_files=1)
    # every old row re-derived: no null-keyed partition remains
    assert not any('"vb": null' in k for k in mt.partition_files())
    rows = {r.id: r.v for r in mt.read().collect()}
    assert rows == {i: f"w{i}" for i in range(8)}
    # the derived column is now populated for pre-evolution rows
    got = mt.read().select("vb").collect()
    assert all(r.vb is not None for r in got)
    # and a source-column point read keeps pruning exact post-optimize
    assert {r.id for r in mt.read(where={"v": "w5"}).collect()} == {5}


def should_run_full_lifecycle_on_file_uri_root(spark, tmp_path):
    """End-to-end over a ``file://`` URI-rooted table: every commit-
    protocol operation (append/upsert/delete, stats-pruned reads, time
    travel, tag, branch, optimize, vacuum, GC) routes its metadata I/O
    through the fsio seam, so nothing may assume a plain local path.
    This is the local stand-in for an object-store root — the same call
    sites resolve s3:// through pyarrow.fs (conditional-put mapping
    documented in fsio)."""
    root = "file://" + str(tmp_path / "uri_mt")
    mt = ManifestTable(
        spark, root, key_cols=["id"], partition_by=["part"], keep_versions=4
    )
    mt.append(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    mt.upsert(_mk(spark, [(2, "b", "Y2"), (3, "c", "z")]))
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "Y2"), 3: ("c", "z")}
    assert _state(mt.read(version=1)) == {1: ("a", "x"), 2: ("b", "y")}
    # pruned point read plans only the holding partition's files
    planned = mt.planned_files(where={"part": "a"})
    assert planned and all("file://" not in f or True for f in planned)
    assert len(planned) < len(mt.planned_files())
    mt.tag("v2", version=2)
    assert mt.resolve_tag("v2") == 2
    b = mt.create_branch("exp")
    b.table.upsert(_mk(spark, [(9, "a", "branch-only")]))
    assert 9 not in _state(mt.read())
    mt.fast_forward("exp")
    assert _state(mt.read())[9] == ("a", "branch-only")
    mt.delete_branch("exp")
    mt.delete_where(F.col("id") == 1)
    assert 1 not in _state(mt.read())
    mt.optimize(sort_by=["id"], target_files=1)
    assert _state(mt.read()) == {
        2: ("b", "Y2"), 3: ("c", "z"), 9: ("a", "branch-only")
    }
    # no DATA file is orphaned (Spark's _SUCCESS/.crc markers may go)
    assert not [f for f in mt.vacuum(min_age_seconds=0.0)
                if f.endswith(".parquet")]
    # retention GC ran through the seam: old commits expired
    assert len(mt.history()) <= 4


# -- positional deletes (Iceberg v2 pos-delete / deletion-vector analog) --


def _mk_dups(spark, rows):
    """Duplicate-key fixture: (user, kind, v) appended raw — the table
    shape equality deletes CANNOT serve row-granularly."""
    return spark.createDataFrame(rows, "id long, part string, v string")


def should_pos_delete_exactly_matched_rows(spark, tmp_path):
    """delete_where_pos removes EXACTLY the rows where the condition is
    TRUE — other rows sharing the same key survive (the row-granular
    contract delete_where_eq's key-granular one cannot express)."""
    mt = _table(spark, tmp_path)
    # two rows per id (raw appends, duplicate keys)
    mt.append(_mk(spark, [(i, "a", f"x{i}") for i in range(6)]))
    mt.append(_mk(spark, [(i, "a", f"y{i}") for i in range(6)]))
    v = mt.delete_where_pos(F.col("v").startswith("x") & (F.col("id") < 3))
    assert v == 3
    got = sorted((r.id, r.v) for r in mt.read().collect())
    # x0..x2 gone; y0..y2 (same keys!) survive; x3..x5, y3..y5 survive
    assert got == sorted(
        [(i, f"x{i}") for i in range(3, 6)] + [(i, f"y{i}") for i in range(6)]
    )
    # time travel: the pre-delete snapshot still shows all 12 rows
    assert mt.read(version=2).count() == 12


def should_pos_delete_respect_sequence_rule(spark, tmp_path):
    """Rows appended AFTER a positional delete survive even when they
    match the deleted predicate (applies_to pins the delete to the
    files that existed at commit time)."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "doomed")]))
    mt.delete_where_pos(F.col("v") == "doomed")
    mt.append(_mk(spark, [(2, "a", "doomed")]))
    got = {(r.id, r.v) for r in mt.read().collect()}
    assert got == {(2, "doomed")}


def should_pos_delete_be_metadata_only_and_pruned_reads_exact(spark, tmp_path):
    """A positional delete must not rewrite any data file (O(matched
    rows), not O(partition)), and stats-pruned reads over pending pos
    deletes stay exact."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(i, "a" if i % 2 else "b", f"v{i}") for i in range(100)]))
    files_before = mt.partition_files()
    mt.delete_where_pos(F.col("id") % 10 == 0)
    assert mt.partition_files() == files_before  # data files untouched
    # merge-on-read with a where-pruned scan
    got = {r.id for r in mt.read(where={"id": (0, 25)}).collect()}
    assert got == {i for i in range(26) if i % 10 != 0}
    # metadata-only answers must refuse for COVERED files while the
    # delete is pending (matched ids are all even -> partition "b");
    # uncovered files stay truthful
    covered = mt.pending_delete_files()
    assert covered != set()
    rows = mt.file_rows()
    assert all(rows[f] is None for f in covered)
    assert all(v is not None for f, v in rows.items() if f not in covered)


def should_pos_delete_mix_with_equality_deletes(spark, tmp_path):
    """Pending eq and pos deletes on the same partition compose: each
    applies its own semantics, and a rewrite materializes both."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(i, "a", "x") for i in range(4)]))
    mt.append(_mk(spark, [(i, "a", "y") for i in range(4)]))
    mt.delete_where_eq(F.col("id") == 0)  # key-granular: x0 AND y0
    mt.delete_where_pos((F.col("id") == 1) & (F.col("v") == "x"))  # x1 only
    got = sorted((r.id, r.v) for r in mt.read().collect())
    assert got == [(1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "y")]
    # compact folds the partition: deletes materialize, entries spent
    mt.compact(min_files=1)
    assert mt._current()[1].get("deletes") == {}
    assert sorted((r.id, r.v) for r in mt.read().collect()) == got


def should_pos_delete_no_match_skip_commit(spark, tmp_path):
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x")]))
    v = mt.delete_where_pos(F.col("v") == "nope")
    assert v == mt.current_version() == 1
    # NULL-predicate rows are not matches (SQL DELETE semantics)
    v = mt.delete_where_pos(F.col("v").substr(0, 1) == F.lit(None).cast("string"))
    assert v == 1


def should_pos_delete_survive_unrelated_rewrites(spark, tmp_path):
    """An optimize (pure rewrite) over a table with pending pos deletes
    materializes them; the rewritten table re-admits metadata answers."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(i, "a", f"v{i}") for i in range(50)]))
    mt.delete_where_pos(F.col("id") >= 45)
    mt.optimize(sort_by=["id"], target_files=4)
    assert mt._current()[1].get("deletes") == {}
    assert mt.read().count() == 45
    assert mt.row_count() == 45  # metadata-only again truthful


def should_pos_delete_after_optimize_hit_only_matched_rows(spark, tmp_path):
    """delete_where_pos AFTER optimize(): the clustered layout writes
    many bucket subdirs in ONE job, so part-file BASENAMES collide
    across buckets (the dynamic-partition writer resets the counter per
    directory).  Addresses must therefore be root-relative paths — a
    basename address would anti-join same-named rows in sibling buckets
    (silent multi-row loss; the historical r12 bug)."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(i, "a", f"v{i}") for i in range(4000)]))
    mt.optimize(sort_by=["id"], target_files=8)
    before = mt.read().count()
    assert before == 4000
    v = mt.delete_where_pos(F.col("id") == 123)
    got = mt.read()
    # EXACTLY one row disappears — not one per same-basename bucket
    assert got.count() == before - 1
    assert got.filter(F.col("id") == 123).count() == 0
    # the recorded address is the manifest-relative path, not a basename
    dmap = mt._current()[1]["deletes"]
    (entries,) = dmap.values()
    posf = (
        spark.read.parquet(
            *[str(tmp_path / "mt" / "data" / e["file"]) for e in entries]
        )
        .select("__file")
        .collect()
    )
    assert len(posf) == 1 and "/" in posf[0][0]
    # and the address lives under a manifest-listed entry (optimize
    # lists bucket DIRECTORIES; the address names the part file inside)
    assert any(
        posf[0][0].startswith(f + "/")
        for fl in mt._current()[1]["partitions"].values()
        for f in fl
    )
    # pos-delete remains row-exact on a later duplicate-key append
    mt.append(_mk(spark, [(123, "a", "reborn")]))
    assert mt.read().filter(F.col("id") == 123).count() == 1


def should_route_change_feed_around_pos_deletes(spark, tmp_path):
    """CDC x positional deletes: key-diff CDC is undefined over
    duplicate-key spans, so (a) mode="key" RAISES loudly instead of
    cross-joining, (b) mode="auto" routes to the content (multiset)
    diff, whose net feed is exactly the pos-deleted rows as deletes
    plus later appends as inserts."""
    import pytest

    mt = _table(spark, tmp_path)
    # duplicate keys: two rows per id across two appends
    mt.append(_mk(spark, [(i, "a", f"x{i}") for i in range(6)]))  # v1
    mt.append(_mk(spark, [(i, "a", f"y{i}") for i in range(6)]))  # v2
    mt.delete_where_pos(F.col("v").isin("x1", "y1"))  # v3
    mt.append(_mk(spark, [(1, "a", "z1")]))  # v4
    with pytest.raises(ValueError, match="positional deletes"):
        mt.changes(2, 4, mode="key")
    with pytest.raises(ValueError, match="preimage"):
        # auto -> content; preimage rows are undefined there
        mt.changes(2, 4, preimage=True)
    feed = sorted(
        (r._change_type, r.id, r.v) for r in mt.changes(2, 4).collect()
    )
    assert feed == [
        ("delete", 1, "x1"),
        ("delete", 1, "y1"),
        ("insert", 1, "z1"),
    ]
    # full-history net feed == current effective content, all inserts
    full = mt.changes(0, 4)
    assert full.filter(F.col("_change_type") != "insert").count() == 0
    assert sorted((r.id, r.v) for r in full.collect()) == sorted(
        (r.id, r.v) for r in mt.read().collect()
    )


def should_emit_empty_content_feed_across_pure_rewrite(spark, tmp_path):
    """The content diff is rewrite-invariant: a span that covers an
    optimize() (which MATERIALIZES a pending pos-delete — the delete
    entry is gone from both endpoint manifests) still classifies the
    deleted rows, and the optimize-only sub-span diffs to EMPTY."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(i, "a", f"v{i}") for i in range(40)]))  # v1
    mt.append(_mk(spark, [(i, "a", f"w{i}") for i in range(40)]))  # v2
    mt.delete_where_pos(F.col("v") == "v7")  # v3
    mt.optimize(sort_by=["id"], target_files=3)  # v4: materializes it
    # optimize-only sub-span: pure rewrite, multiset unchanged -> empty
    assert mt.changes(3, 4, mode="content").count() == 0
    # the span v2 -> v4 has NO pending pos entries at either endpoint —
    # only the mid-span DELETE POS commit label reveals it; auto must
    # still route to content and emit exactly the one deleted row
    feed = [(r._change_type, r.id, r.v) for r in mt.changes(2, 4).collect()]
    assert feed == [("delete", 7, "v7")]


def should_stamp_and_skip_commits_in_per_commit_feed(spark, tmp_path):
    """changes_per_commit: each commit's change set carries its
    _commit_version; pure-rewrite commits (optimize) are SKIPPED by
    label; a row deleted mid-span appears in its deleting commit even
    though the NET endpoint diff would also show it — and a deleted+
    re-inserted row appears in BOTH commits, which the net feed
    collapses."""
    import pytest

    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(i, "a", f"x{i}") for i in range(4)]))  # v1
    mt.delete_where_pos(F.col("v") == "x2")  # v2
    mt.optimize(sort_by=["id"], target_files=2)  # v3: pure rewrite
    mt.append(_mk(spark, [(2, "a", "x2")]))  # v4: re-insert same content
    feed = sorted(
        (r._commit_version, r._change_type, r.id, r.v)
        for r in mt.changes_per_commit(0, 4, mode="content").collect()
    )
    assert feed == [
        (1, "insert", 0, "x0"),
        (1, "insert", 1, "x1"),
        (1, "insert", 2, "x2"),
        (1, "insert", 3, "x3"),
        (2, "delete", 2, "x2"),
        (4, "insert", 2, "x2"),
    ]
    # the optimize-only sub-span is empty WITHOUT reading any data
    # (skipped by label), and an empty span raises
    assert mt.changes_per_commit(2, 3).count() == 0
    with pytest.raises(ValueError, match="empty per-commit span"):
        mt.changes_per_commit(3, 3)
    # the net feed over the same span collapses the delete+reinsert
    net = mt.changes(0, 4)
    assert sorted((r._change_type, r.id, r.v) for r in net.collect()) == [
        ("insert", 0, "x0"),
        ("insert", 1, "x1"),
        ("insert", 2, "x2"),
        ("insert", 3, "x3"),
    ]


def should_content_diff_across_schema_evolution(spark, tmp_path):
    """Content-mode CDC across a column-adding schema evolution: the
    old side's missing column aligns as typed-NULL and the full-row
    multiset join still classifies exactly (pre-evolution rows carry
    NULL for the new column in their delete/insert images)."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x")]))  # v1: pre-evolution
    mt.append(
        spark.createDataFrame(
            [(2, "a", "y", 9.5)], "id long, part string, v string, score double"
        )
    )  # v2: adds score
    mt.delete_where_pos(F.col("v") == "x")  # v3 -> auto routes to content
    feed = sorted(
        (r._change_type, r.id, r.v, r.score) for r in mt.changes(1, 3).collect()
    )
    assert feed == [("delete", 1, "x", None), ("insert", 2, "y", 9.5)]


def should_count_multiplicity_in_content_feed(spark, tmp_path):
    """Content-mode CDC is a MULTISET diff: identical physical rows
    diff by count, emitting one feed row per net occurrence."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "dup"), (1, "a", "dup")]))  # v1
    mt.append(_mk(spark, [(1, "a", "dup"), (1, "a", "dup")]))  # v2
    mt.delete_where_pos(F.col("id") == 1)  # v3: all four rows
    ins = mt.changes(0, 2, mode="content").collect()
    assert [r._change_type for r in ins] == ["insert"] * 4
    dels = mt.changes(2, 3).collect()
    assert [r._change_type for r in dels] == ["delete"] * 4


def should_expose_pending_deletes_in_metadata_table(spark, tmp_path):
    """delete_files_meta lists every PENDING delete entry with its kind,
    recorded entry count, and applies-to span — driver-built from the
    manifest alone (the compact-now operational view)."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(i, "a", f"x{i}") for i in range(10)]))
    mt.append(_mk(spark, [(i, "b", f"y{i}") for i in range(4)]))
    mt.delete_where_pos(F.col("v").isin("x1", "x2", "x3"))
    mt.delete_where_eq(F.col("v") == "y0")
    rows = {
        (r.kind, r.record_count, r.applies_to_count)
        for r in mt.delete_files_meta().collect()
    }
    assert rows == {("pos", 3, 1), ("eq", 1, 1)}
    # empty on a table with no pending deletes, and after materialization
    mt.compact(min_files=1)
    assert mt.delete_files_meta().count() == 0
    # historical versions answer too (time travel over the view);
    # the key-granular eq delete recorded id=0's duplicate in BOTH
    # partitions -> one pos entry + two eq entries
    assert mt.delete_files_meta(version=4).count() == 3


def should_rewrite_pos_deletes_only_past_ratio(spark, tmp_path):
    """rewrite_position_deletes materializes ONLY partitions whose
    pending address count crosses min_delete_ratio; light partitions
    keep riding merge-on-read, and table content is hash-stable across
    the action (pure rewrite)."""
    mt = _table(spark, tmp_path)
    mt.append(
        _mk(
            spark,
            [(i, "a", f"a{i}") for i in range(100)]
            + [(i, "b", f"b{i}") for i in range(100)],
        )
    )
    # partition a: 10% deleted; partition b: 1% deleted
    mt.delete_where_pos(
        (F.col("part") == "a") & (F.col("id") < 10)
        | ((F.col("part") == "b") & (F.col("id") == 0))
    )
    before = sorted((r.id, r.part, r.v) for r in mt.read().collect())
    v = mt.rewrite_position_deletes(min_delete_ratio=0.05)
    assert v is not None
    # content unchanged (the vs22-read hash-stability contract)
    assert sorted((r.id, r.part, r.v) for r in mt.read().collect()) == before
    # partition a's entry materialized; partition b's still pending
    pend = [(r.partition, r.kind) for r in mt.delete_files_meta().collect()]
    assert len(pend) == 1 and "b" in pend[0][0] and pend[0][1] == "pos"
    # below-threshold call: nothing crosses 50% -> no-op, no commit
    assert mt.rewrite_position_deletes(min_delete_ratio=0.5) is None
    assert mt.current_version() == v
    # raising the stakes: b crosses at 0.5% -> second targeted rewrite
    assert mt.rewrite_position_deletes(min_delete_ratio=0.005) == v + 1
    assert mt.delete_files_meta().count() == 0
    assert sorted((r.id, r.part, r.v) for r in mt.read().collect()) == before


# -- zorder clustering (OPTIMIZE ... ZORDER BY analog) --------------------


def _xy_table(spark, tmp_path, name):
    df = spark.range(8192).select(
        F.col("id"),
        (F.col("id") % 64).cast("double").alias("x"),
        ((F.col("id") * 37) % 64).cast("double").alias("y"),
        F.lit("p").alias("part"),
    )
    mt = ManifestTable(
        spark,
        str(tmp_path / name),
        key_cols=["id"],
        partition_by=["part"],
        stats_cols=["x", "y"],
    )
    mt.append(df)
    return mt


def should_zorder_prune_on_every_clustered_column(spark, tmp_path):
    """strategy="zorder" must give BALANCED per-file ranges: a
    single-column predicate on EITHER clustered column plans a strict
    subset of files, and the conjunction plans fewer still — where
    linear clustering only serves the leading column."""
    zo = _xy_table(spark, tmp_path, "zo")
    zo.optimize(["x", "y"], target_files=16, strategy="zorder")
    li = _xy_table(spark, tmp_path, "li")
    li.optimize(["x", "y"], target_files=16, strategy="linear")
    z_total, l_total = len(zo.planned_files()), len(li.planned_files())
    assert z_total >= 8 and l_total >= 8
    wx, wy = {"x": (8.0, 15.0)}, {"y": (8.0, 15.0)}
    # both strategies prune the leading column
    assert len(zo.planned_files(where=wx)) < z_total
    assert len(li.planned_files(where=wx)) < l_total
    # only zorder prunes the TRAILING column meaningfully
    z_y, l_y = len(zo.planned_files(where=wy)), len(li.planned_files(where=wy))
    assert z_y < z_total // 2
    assert z_y < l_y
    # the 2-D conjunction is tighter than either single dimension
    both = len(zo.planned_files(where={**wx, **wy}))
    assert both <= min(len(zo.planned_files(where=wx)), z_y)
    # and the pruned read is exact
    got = {r.id for r in zo.read(where={**wx, **wy}).collect()}
    exp = {
        i for i in range(8192)
        if 8 <= i % 64 <= 15 and 8 <= (i * 37) % 64 <= 15
    }
    assert got == exp


def should_zorder_content_be_pure_rewrite(spark, tmp_path):
    """Zorder clustering is a maintenance rewrite: row content identical,
    no key column materialized into the data schema."""
    mt = _xy_table(spark, tmp_path, "zo")
    before = {(r.id, r.x, r.y) for r in mt.read().collect()}
    mt.optimize(["x", "y"], target_files=8, strategy="zorder")
    assert {(r.id, r.x, r.y) for r in mt.read().collect()} == before
    assert set(mt.read().columns) == {"id", "x", "y", "part"}


def should_zorder_reject_bad_inputs(spark, tmp_path):
    mt = _table(spark, tmp_path)
    mt.upsert(_mk(spark, [(1, "a", "x")]))
    with pytest.raises(ValueError, match="must be numeric"):
        mt.optimize(["v", "id"], strategy="zorder")  # string col
    with pytest.raises(ValueError, match="1-3"):
        mt.optimize(["id", "id", "id", "id"], strategy="zorder")
    with pytest.raises(ValueError, match="unknown optimize strategy"):
        mt.optimize(["id"], strategy="hilbert")


# -- metadata inspection tables + age-based snapshot expiry ---------------


def should_expose_files_and_partitions_metadata_tables(spark, tmp_path):
    """files_meta/partitions_meta answer from the manifest alone and
    stay truthful through rewrites and pending deletes."""
    import json as _json

    mt = _table(spark, tmp_path, stats_cols=["id"])
    mt.append(_mk(spark, [(i, "a" if i % 2 else "b", f"v{i}") for i in range(40)]))
    fm = {r.file: r for r in mt.files_meta().collect()}
    pm = {r.partition: r for r in mt.partitions_meta().collect()}
    assert sum(r.record_count for r in fm.values()) == 40
    assert {r.record_count for r in pm.values()} == {20}
    # per-file column stats round-trip the recorded bounds
    for r in fm.values():
        st = _json.loads(r.column_stats)
        assert "id" in st and st["id"][0] <= st["id"][1]
    # a pending delete makes covered counts unknowable (NULL), exposes
    # the coverage flag, and leaves the other partition truthful
    mt.delete_where_pos((F.col("id") % 2 == 0) & (F.col("id") < 4))
    fm2 = mt.files_meta().collect()
    assert any(r.has_pending_deletes and r.record_count is None for r in fm2)
    assert any(not r.has_pending_deletes and r.record_count == 20 for r in fm2)
    pm2 = {r.partition: r.record_count for r in mt.partitions_meta().collect()}
    assert sorted(pm2.values(), key=str) == sorted([None, 20], key=str)
    # version/tag resolution matches the read-side accessors
    mt.tag("t1", version=1)
    assert mt.files_meta(version="t1").count() == len(fm)
    # snapshots_meta mirrors history()
    sm = mt.snapshots_meta().collect()
    assert [r.version for r in sm] == [h["version"] for h in mt.history()]


def should_expire_snapshots_by_age_with_protections(spark, tmp_path):
    """expire_snapshots drops aged commits but never the newest
    retain_last, tags, or branch bases — and reclaims only files no
    surviving manifest references."""
    import time as _time

    mt = _table(spark, tmp_path, keep_versions=100)
    mt.upsert(_mk(spark, [(1, "a", "x")]))           # v1
    mt.upsert(_mk(spark, [(2, "b", "y")]))           # v2
    mt.tag("pin2", version=2)
    _time.sleep(1.2)
    mt.upsert(_mk(spark, [(3, "c", "z")]))           # v3 (young + head)
    dropped = mt.expire_snapshots(older_than_seconds=1.0)
    assert dropped == [1]  # v2 tagged, v3 in retain_last
    assert [h["version"] for h in mt.history()] == [3, 2]
    # tagged snapshot still fully readable
    assert _state(mt.read(version="pin2")) == {1: ("a", "x"), 2: ("b", "y")}
    # head re-read unharmed (shared files survived the reclaim)
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "y"), 3: ("c", "z")}
    # dropping the tag releases the snapshot to the next sweep
    mt.delete_tag("pin2")
    assert mt.expire_snapshots(older_than_seconds=1.0) == [2]
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "y"), 3: ("c", "z")}
    with pytest.raises(ValueError, match="retain_last"):
        mt.expire_snapshots(older_than_seconds=0.0, retain_last=0)


def should_serialize_racing_positional_deletes(spark, tmp_path):
    """Racing pos-deletes + appends + a compaction must serialize like
    any commit: each delete retries on a lost CAS and recomputes its
    row addresses against the winner's state, so the final content is
    order-independent — seed rows minus every delete's matches, plus
    every appended row (append rows never match the predicates)."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "race_pos")
    seed = ManifestTable(spark, root, key_cols=["id"], partition_by=["part"])
    seed.append(
        _mk(spark, [(i, "a" if i % 2 == 0 else "b", f"v{i}") for i in range(40)])
    )

    def posdel(vals):
        mt = ManifestTable(spark, root, key_cols=["id"], partition_by=["part"])
        return ("d", mt.delete_where_pos(F.col("v").isin(*vals)))

    def append(i):
        mt = ManifestTable(spark, root, key_cols=["id"], partition_by=["part"])
        return ("a", mt.append(_mk(spark, [(100 + i, "a", f"W{i}")])))

    def compact():
        mt = ManifestTable(spark, root, key_cols=["id"], partition_by=["part"])
        return ("c", mt.compact(min_files=1))

    groups = [["v1", "v2"], ["v3", "v10"], ["v21"]]
    with ThreadPoolExecutor(max_workers=6) as pool:
        futs = [pool.submit(posdel, g) for g in groups]
        futs += [pool.submit(append, i) for i in range(2)]
        futs.append(pool.submit(compact))
        results = [f.result() for f in futs]

    committed = [v for _, v in results if v is not None]
    assert sorted(committed) == list(range(2, 2 + len(committed)))
    final = ManifestTable(spark, root, key_cols=["id"], partition_by=["part"])
    state = _state(final.read())
    want = {
        i: ("a" if i % 2 == 0 else "b", f"v{i}")
        for i in range(40)
        if i not in (1, 2, 3, 10, 21)
    }
    want.update({100 + i: ("a", f"W{i}") for i in range(2)})
    assert state == want
    # every retained version reads cleanly (no torn delete state)
    for v in range(1, final.current_version() + 1):
        final.read(version=v).count()


def should_record_timestamp_stats_as_exact_micros_and_prune(spark, tmp_path):
    """Timestamp columns in stats_cols record [min, max] as UTC epoch
    MICROS (pure JSON ints, no zone/precision ambiguity) for BOTH
    timestamp flavors, and range reads prune files on the recorded
    bounds while staying exact."""
    from datetime import datetime, timezone

    df = spark.createDataFrame(
        [
            (i, "a", datetime(2024, 1, 1 + i, 12, 0, 0, 123456))
            for i in range(8)
        ],
        "id long, part string, ts timestamp_ntz",
    )
    mt = ManifestTable(
        spark,
        str(tmp_path / "ntz"),
        key_cols=["id"],
        partition_by=["part"],
        stats_cols=["ts"],
    )
    for i in range(0, 8, 2):  # four two-day slices -> disjoint bounds
        mt.append(df.filter((F.col("id") >= i) & (F.col("id") < i + 2)))
    stats = mt._current()[1]["stats"]
    bounds = [v["ts"][:2] for v in stats.values() if "ts" in v]
    assert bounds and all(
        isinstance(b, int) for pair in bounds for b in pair
    )
    want_min = int(
        datetime(2024, 1, 1, 12, 0, 0, 123456, tzinfo=timezone.utc).timestamp()
        * 1_000_000
    )
    assert min(b[0] for b in bounds) == want_min  # exact micros
    total = len(mt.planned_files())
    win = (datetime(2024, 1, 3), datetime(2024, 1, 4, 23, 59, 59))
    assert 0 < len(mt.planned_files(where={"ts": win})) < total
    got = {r.id for r in mt.read(where={"ts": win}).collect()}
    assert got == {2, 3}
    # instant-typed (TIMESTAMP) column: same contract
    df2 = df.withColumn("ts", F.col("ts").cast("timestamp"))
    mt2 = ManifestTable(
        spark,
        str(tmp_path / "ltz"),
        key_cols=["id"],
        partition_by=["part"],
        stats_cols=["ts"],
    )
    for i in range(0, 8, 4):
        mt2.append(df2.filter((F.col("id") >= i) & (F.col("id") < i + 4)))
    stats2 = mt2._current()[1]["stats"]
    assert min(
        v["ts"][0] for v in stats2.values() if "ts" in v
    ) == want_min
    got2 = {r.id for r in mt2.read(where={"ts": win}).collect()}
    assert got2 == {2, 3}


def should_record_date_stats_as_epoch_days_and_prune(spark, tmp_path):
    """DATE columns in stats_cols record [min, max] as epoch DAYS; date
    range reads prune on them, and a KIND-mismatched bound (datetime
    against day-stats) degrades to keep-the-file, never wrong-prunes."""
    from datetime import date, datetime

    df = spark.createDataFrame(
        [(i, "a", date(2024, 1, 1 + i)) for i in range(8)],
        "id long, part string, d date",
    )
    mt = ManifestTable(
        spark,
        str(tmp_path / "dt"),
        key_cols=["id"],
        partition_by=["part"],
        stats_cols=["d"],
    )
    for i in range(0, 8, 2):
        mt.append(df.filter((F.col("id") >= i) & (F.col("id") < i + 2)))
    stats = mt._current()[1]["stats"]
    bounds = [v["d"][:2] for v in stats.values() if "d" in v]
    assert bounds and all(isinstance(b, int) for p in bounds for b in p)
    assert min(b[0] for b in bounds) == (
        date(2024, 1, 1) - date(1970, 1, 1)
    ).days
    total = len(mt.planned_files())
    win = (date(2024, 1, 3), date(2024, 1, 4))
    assert 0 < len(mt.planned_files(where={"d": win})) < total
    assert {r.id for r in mt.read(where={"d": win}).collect()} == {2, 3}
    # kind mismatch: a datetime bound against day-stats keeps ALL files
    # (unknown, conservative) and the exact filter still applies
    bad = (datetime(2024, 1, 3), datetime(2024, 1, 4, 23, 59))
    assert len(mt.planned_files(where={"d": bad})) == total


def should_label_every_commit_with_its_operation(spark, tmp_path):
    """DESCRIBE HISTORY operations: each commit carries its op label,
    visible through history() and snapshots_meta()."""
    mt = _table(spark, tmp_path, keep_versions=100)
    mt.append(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    mt.upsert(_mk(spark, [(2, "b", "Y2")]))
    mt.delete_where_pos(F.col("id") == 1)
    mt.optimize(sort_by=["id"], target_files=1)
    mt.set_property("owner", "ops")
    mt.restore(2)
    ops = [h["operation"] for h in mt.history()]
    assert ops == [
        "RESTORE", "SET PROPERTY", "OPTIMIZE", "DELETE POS",
        "MERGE", "APPEND",
    ]
    sm = {r.version: r.operation for r in mt.snapshots_meta().collect()}
    assert sm[1] == "APPEND" and sm[6] == "RESTORE"


def _manifest_file(root, gen):
    """Disk path of version ``gen``'s manifest document (test-only:
    emulating retention GC / hand-editing entries)."""
    import glob
    import os

    return glob.glob(
        os.path.join(str(root), "manifests", f"{gen:020d}-*.json")
    )[0]


def should_content_diff_map_typed_columns(spark, tmp_path):
    """Content-mode CDC over a table carrying a MAP column (the
    survey's ``details map<string,string>`` shape): maps are not
    groupable/joinable in Spark, so the diff canonicalizes them
    (sorted-entry JSON) for the group/join key while the original map
    rides through to the feed — and two maps with the same content in
    different insertion order are the SAME row, never a false
    delete+insert pair.  A map nested below the top level has no
    canonical ordering, so that raises a clear error instead of
    Spark's opaque grouping AnalysisException."""
    from geospatial_data_lake_spark.plans.catalog import ValidationError

    mt = _table(spark, tmp_path)
    mt.append(
        spark.createDataFrame(
            [
                (1, "a", "x", {"k1": "v1", "k2": "v2"}),
                (2, "a", "y", {"k2": "v2", "k1": "v1"}),
                (3, "a", "z", None),
            ],
            "id long, part string, v string, details map<string,string>",
        )
    )  # v1
    mt.delete_where_pos(F.col("v") == "x")  # v2 -> auto routes to content
    feed = [
        (r._change_type, r.id, dict(r.details))
        for r in mt.changes(1, 2).collect()
    ]
    assert feed == [("delete", 1, {"k1": "v1", "k2": "v2"})]
    # same logical map content, different insertion order across
    # versions: NOT a change (canonicalization is order-insensitive)
    mt2 = ManifestTable(
        spark, str(tmp_path / "m2"), key_cols=["id"], partition_by=["part"]
    )
    mt2.append(
        spark.createDataFrame(
            [(1, "a", {"k1": "v1", "k2": "v2"})],
            "id long, part string, d map<string,string>",
        )
    )
    mt2.append(
        spark.createDataFrame(
            [(9, "a", {"zz": "1"})], "id long, part string, d map<string,string>"
        )
    )
    assert sorted(
        (r._change_type, r.id)
        for r in mt2.changes(1, 2, mode="content").collect()
    ) == [("insert", 9)]
    # nested map: clear, early error
    mt3 = ManifestTable(
        spark, str(tmp_path / "m3"), key_cols=["id"], partition_by=["part"]
    )
    nested = "id long, part string, s struct<m:map<string,string>>"
    mt3.append(spark.createDataFrame([(1, "a", ({"k": "v"},))], nested))
    mt3.append(spark.createDataFrame([(2, "a", ({"k": "v"},))], nested))
    with pytest.raises(ValidationError, match="nests a map"):
        mt3.changes(1, 2, mode="content")


def should_chunk_large_multiplicity_occurrences(spark, tmp_path, monkeypatch):
    """The content diff emits net occurrences through a TWO-LEVEL
    chunked explode so a row with huge multiplicity never builds one
    multi-million-element array in a single row.  Pinned by shrinking
    the chunk size: a 23-deep duplicate with chunk=7 must cross chunk
    boundaries (4 chunks: 7+7+7+2) and still emit exactly 23 rows."""
    from geospatial_data_lake_spark.sources import manifest_table as mtmod

    monkeypatch.setattr(mtmod, "_OCC_CHUNK", 7)
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "dup")] * 23))  # v1
    mt.delete_where_pos(F.col("id") == 1)  # v2
    dels = mt.changes(1, 2).collect()
    assert len(dels) == 23
    assert {r._change_type for r in dels} == {"delete"}
    assert {(r.id, r.v) for r in dels} == {(1, "dup")}


def should_treat_gcd_midspan_manifest_as_unknown(spark, tmp_path):
    """A mid-span manifest that retention GC removed (tagged endpoints
    can outlive interior versions) makes the span's delete kinds
    UNKNOWABLE: the expired commit could have been a DELETE POS over a
    duplicate-key table, so mode='key' must RAISE (never silently
    key-diff a possibly-duplicate-keyed span) and mode='auto' must
    route to the content diff — which stays correct either way."""
    import os

    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x")]))  # v1
    mt.append(_mk(spark, [(2, "a", "y")]))  # v2 (to be GC'd)
    mt.append(_mk(spark, [(3, "a", "z")]))  # v3
    os.remove(_manifest_file(tmp_path / "mt", 2))
    with pytest.raises(ValueError, match="GC'd commit"):
        mt.changes(1, 3, mode="key")
    feed = sorted(
        (r._change_type, r.id) for r in mt.changes(1, 3).collect()
    )
    assert feed == [("insert", 2), ("insert", 3)]


def should_distinguish_pos_address_eras_by_content(spark, tmp_path):
    """Address-format guard, era-exact: the relative-path stamp
    (``addr``) postdates root-relative addressing itself — the
    immediately prior release wrote valid ROOT-RELATIVE addresses with
    no stamp — so a stampless entry must be judged by its CONTENT.
    Relpath addresses (contain '/') are accepted and keep deleting;
    genuine basename-era addresses raise, because the scan expression
    can never match them and applying them would silently RESURRECT
    deleted rows."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from geospatial_data_lake_spark.plans.catalog import ValidationError

    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x"), (2, "a", "y")]))  # v1
    mt.delete_where_pos(F.col("v") == "x")  # v2: stamped entry
    assert {r.id for r in mt.read().collect()} == {2}
    # strip the stamp in place — emulating a table persisted by the
    # prior release (root-relative addresses, no addr stamp)
    mpath = _manifest_file(tmp_path / "mt", 2)
    with open(mpath) as fh:
        m = json.load(fh)
    del_files = []
    for entries in m["deletes"].values():
        for d in entries:
            d.pop("addr", None)
            del_files.append(d["file"])
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    # a FRESH handle (no cached verdicts) accepts the relpath-era entry
    # and the deleted row stays deleted
    assert {r.id for r in _table(spark, tmp_path).read().collect()} == {2}
    # now rewrite the delete file's addresses to BASENAMES — the truly
    # ancient era — and reads must raise loudly
    for rel in del_files:
        d = os.path.join(str(tmp_path / "mt"), "data", rel)
        parts = [
            os.path.join(root, f)
            for root, _, files in os.walk(d)
            for f in files
            if f.endswith(".parquet")
        ]
        assert parts
        for p in parts:
            t = pq.read_table(p)
            names = [
                a.rsplit("/", 1)[-1] for a in t.column("__file").to_pylist()
            ]
            t = t.set_column(
                t.schema.get_field_index("__file"), "__file", pa.array(names)
            )
            pq.write_table(t, p)
            # drop Hadoop's checksum sidecar — stale after the rewrite
            crc = os.path.join(
                os.path.dirname(p), "." + os.path.basename(p) + ".crc"
            )
            if os.path.exists(crc):
                os.remove(crc)
    # the out-of-band rewrite changed file sizes under Spark's cached
    # file-status — drop the stale metadata before re-reading
    spark.catalog.refreshByPath(os.path.join(str(tmp_path / "mt"), "data"))
    with pytest.raises(ValidationError, match="non-root-relative"):
        _table(spark, tmp_path).read().collect()
    # the pre-realpath FALLBACK era recorded scheme-stripped ABSOLUTE
    # addresses (leading '/') — they contain slashes, but the current
    # relative-address scan can never match them either, so the probe
    # must reject them too, not just basenames
    for rel in del_files:
        d = os.path.join(str(tmp_path / "mt"), "data", rel)
        for root, _, files in os.walk(d):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                pth = os.path.join(root, f)
                t = pq.read_table(pth)
                names = [
                    "/abs/root/data/" + a.rsplit("/", 1)[-1]
                    for a in t.column("__file").to_pylist()
                ]
                t = t.set_column(
                    t.schema.get_field_index("__file"),
                    "__file",
                    pa.array(names),
                )
                pq.write_table(t, pth)
                crc = os.path.join(root, "." + f + ".crc")
                if os.path.exists(crc):
                    os.remove(crc)
    spark.catalog.refreshByPath(os.path.join(str(tmp_path / "mt"), "data"))
    with pytest.raises(ValidationError, match="non-root-relative"):
        _table(spark, tmp_path).read().collect()


def should_bound_per_commit_plan_over_long_history(spark, tmp_path, monkeypatch):
    """A long-history ``changes_per_commit`` replay completes with a
    BOUNDED lazy plan: the accumulated union is eagerly
    localCheckpoint'ed every ``_PER_COMMIT_CHUNK`` commits, so the
    optimizer's input is one materialized LogicalRDD plus at most one
    chunk of per-commit sub-plans — never an O(span) DAG.  A chunk of 4
    keeps the replay short: 11 commits cross two chunk boundaries and
    leave a 3-commit tail."""
    from geospatial_data_lake_spark.sources import manifest_table as mtmod

    chunk = 4
    monkeypatch.setattr(mtmod, "_PER_COMMIT_CHUNK", chunk)
    n_commits = 2 * chunk + 3
    mt = _table(spark, tmp_path, keep_versions=2 * n_commits)
    for i in range(n_commits):
        mt.append(_mk(spark, [(i, "a", f"x{i}")]))
    pc = mt.changes_per_commit(0, n_commits)
    plan = pc._jdf.queryExecution().analyzed().toString()
    # exactly one checkpoint RDD carries the first 2 * chunk commits; the
    # trailing <chunk uncheckpointed commits are the only sub-plans left
    assert plan.count("LogicalRDD") == 1
    rows = pc.collect()
    assert len(rows) == n_commits
    assert {r._change_type for r in rows} == {"insert"}
    assert sorted(r._commit_version for r in rows) == list(range(1, n_commits + 1))


def should_record_relative_addresses_through_symlinked_root(spark, tmp_path):
    """Pos-delete addresses stay ROOT-RELATIVE when the table is opened
    through a symlink: Spark's file index may render the
    symlink-RESOLVED (realpath) URI while the handle holds the abspath,
    and a mismatch would silently record absolute addresses — breaking
    the 'tables relocate wholesale' property (deleted rows resurface
    after a move).  The address expression tests both roots."""
    import json
    import os

    real_root = tmp_path / "realdir"
    real_root.mkdir()
    link_root = tmp_path / "linkdir"
    os.symlink(str(real_root), str(link_root))
    mt = ManifestTable(
        spark,
        str(link_root / "mt"),
        key_cols=["id"],
        partition_by=["part"],
    )
    mt.append(_mk(spark, [(1, "a", "x"), (2, "a", "y"), (3, "a", "z")]))
    mt.delete_where_pos(F.col("v") == "y")
    with open(_manifest_file(real_root / "mt", 2)) as fh:
        m = json.load(fh)
    posfiles = [
        d["file"] for entries in m["deletes"].values() for d in entries
    ]
    addrs = [
        r["__file"]
        for r in spark.read.parquet(
            *[str(real_root / "mt" / "data" / f) for f in posfiles]
        )
        .select("__file")
        .collect()
    ]
    assert addrs and all(not a.startswith("/") for a in addrs), addrs
    # and the delete is effective through BOTH the link and the real path
    assert sorted((r.id, r.v) for r in mt.read().collect()) == [
        (1, "x"),
        (3, "z"),
    ]
    direct = ManifestTable(
        spark, str(real_root / "mt"), key_cols=["id"], partition_by=["part"]
    )
    assert sorted((r.id, r.v) for r in direct.read().collect()) == [
        (1, "x"),
        (3, "z"),
    ]


def should_apply_content_feed_to_converge_replica(spark, tmp_path):
    """apply_content_changes — the apply-changelog pattern for
    DUPLICATE-KEY tables: a replica seeded from the v1 snapshot plus
    the net (1, head] content feed converges to the source's multiset
    state exactly (the feed's delete rows carry multiplicity: three
    copies deleted then one re-inserted nets to two deletes)."""
    src = ManifestTable(
        spark, str(tmp_path / "src"), key_cols=["id"], partition_by=["part"]
    )
    src.append(
        _mk(spark, [(1, "a", "dup")] * 3 + [(2, "a", "x"), (3, "b", "y")])
    )  # v1
    src.delete_where_pos(F.col("id") == 1)  # v2: all three copies
    src.append(_mk(spark, [(1, "a", "dup"), (4, "b", "z")]))  # v3
    rep = ManifestTable(
        spark, str(tmp_path / "rep"), key_cols=["id"], partition_by=["part"]
    )
    rep.append(src.read(version=1))
    feed = src.changes(1, 3)
    # net multiset math: 3 deleted + 1 re-inserted -> 2 net deletes
    assert sorted(
        (r._change_type, r.id, r.v) for r in feed.collect()
    ) == [("delete", 1, "dup"), ("delete", 1, "dup"), ("insert", 4, "z")]
    rep.apply_content_changes(feed)
    assert sorted((r.id, r.part, r.v) for r in rep.read().collect()) == sorted(
        (r.id, r.part, r.v) for r in src.read().collect()
    )


def should_enforce_multiplicity_in_content_apply(spark, tmp_path):
    """The apply removes EXACTLY the feed's multiplicity of matching
    rows (2 of 3 identical copies), raises BEFORE committing when the
    feed deletes more occurrences than the table holds (wrong-snapshot
    protection), and rejects key-mode (update_*) feeds."""
    from geospatial_data_lake_spark.plans.catalog import ValidationError

    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(7, "a", "d")] * 3 + [(8, "a", "k")]))
    two = spark.createDataFrame(
        [("delete", 7, "a", "d")] * 2,
        "_change_type string, id long, part string, v string",
    )
    mt.apply_content_changes(two)
    assert [r.v for r in mt.read().filter(F.col("id") == 7).collect()] == [
        "d"
    ]
    five = spark.createDataFrame(
        [("delete", 7, "a", "d")] * 5,
        "_change_type string, id long, part string, v string",
    )
    with pytest.raises(ValidationError, match="only 1 matching"):
        mt.apply_content_changes(five)
    # nothing committed by the failed apply
    assert [r.v for r in mt.read().filter(F.col("id") == 7).collect()] == [
        "d"
    ]
    keyfeed = spark.createDataFrame(
        [("update_postimage", 8, "a", "K2")],
        "_change_type string, id long, part string, v string",
    )
    with pytest.raises(ValidationError, match="update"):
        mt.apply_content_changes(keyfeed)


def should_reject_null_change_type_rows_in_content_apply(spark, tmp_path):
    """A NULL ``_change_type`` row must FAIL feed validation, not fall
    through it: ``~isin(...)`` is NULL (not TRUE) for a NULL value, so
    without the explicit isNull check the row would be silently dropped
    from both the delete and insert phases — a quietly lossy apply."""
    from geospatial_data_lake_spark.plans.catalog import ValidationError

    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x")]))
    feed = spark.createDataFrame(
        [("insert", 2, "a", "y"), (None, 3, "a", "z")],
        "_change_type string, id long, part string, v string",
    )
    with pytest.raises(ValidationError, match="non-content _change_type"):
        mt.apply_content_changes(feed)
    # nothing committed by the failed apply
    assert {r.id for r in mt.read().collect()} == {1}


def should_raise_on_key_diff_over_duplicate_keys(spark, tmp_path):
    """An APPEND-ONLY span over a duplicate-key log carries no
    pos-delete signal, so mode='auto' resolves to key-diff — which
    would silently CROSS-JOIN each duplicate group.  The key path now
    verifies key-uniqueness over the changed partitions first and
    raises with the mode='content' hint; the content feed over the
    same span stays exact."""
    from geospatial_data_lake_spark.plans.catalog import ValidationError

    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x"), (2, "a", "y")]))  # v1
    mt.append(_mk(spark, [(1, "a", "x"), (3, "a", "z")]))  # v2: dup key 1
    with pytest.raises(ValidationError, match="mode='content'"):
        mt.changes(1, 2)
    with pytest.raises(ValidationError, match="mode='content'"):
        mt.changes(1, 2, mode="key")
    feed = sorted(
        (r._change_type, r.id)
        for r in mt.changes(1, 2, mode="content").collect()
    )
    assert feed == [("insert", 1), ("insert", 3)]


def should_apply_content_feed_with_map_columns(spark, tmp_path):
    """Map-typed columns flow through the apply via the same
    canonicalization as the content diff: a feed row whose map has the
    same content in a DIFFERENT insertion order still matches (maps
    are logically unordered)."""
    mt = ManifestTable(
        spark, str(tmp_path / "mm"), key_cols=["id"], partition_by=["part"]
    )
    mt.append(
        spark.createDataFrame(
            [(1, "a", {"k1": "v1", "k2": "v2"}), (2, "a", {"z": "9"})],
            "id long, part string, d map<string,string>",
        )
    )
    feed = spark.createDataFrame(
        [("delete", 1, "a", {"k2": "v2", "k1": "v1"})],
        "_change_type string, id long, part string, d map<string,string>",
    )
    mt.apply_content_changes(feed)
    assert sorted(r.id for r in mt.read().collect()) == [2]


def should_replay_content_apply_exactly_once(spark, tmp_path, monkeypatch):
    """apply_content_changes with txn is EXACTLY-ONCE under crash
    replay: (a) a full replay of an applied feed commits nothing; (b)
    a crash in the half-applied window — delete phase committed, the
    append crashed — replays to convergence (the delete phase skips by
    its txn stamp instead of failing its multiplicity check over the
    already-deleted rows, and only the append lands)."""
    src = ManifestTable(
        spark, str(tmp_path / "src"), key_cols=["id"], partition_by=["part"]
    )
    src.append(_mk(spark, [(1, "a", "dup")] * 3 + [(2, "a", "x")]))  # v1
    src.delete_where_pos(F.col("id") == 1)  # v2
    src.append(_mk(spark, [(4, "b", "z")]))  # v3
    rep = ManifestTable(
        spark, str(tmp_path / "rep"), key_cols=["id"], partition_by=["part"]
    )
    rep.append(src.read(version=1))
    feed = src.changes(1, 3).localCheckpoint(eager=True)
    v_applied = rep.apply_content_changes(feed, txn=("app", 3))
    state = sorted((r.id, r.v) for r in rep.read().collect())
    # (a) full replay: same txn, zero commits, identical state
    assert rep.apply_content_changes(feed, txn=("app", 3)) == v_applied
    assert rep.current_version() == v_applied
    assert sorted((r.id, r.v) for r in rep.read().collect()) == state
    # (b) half-applied crash: new source delta, append made to crash
    src.delete_where_pos(F.col("id") == 2)  # v4
    src.append(_mk(spark, [(5, "b", "w")]))  # v5
    feed2 = src.changes(3, 5).localCheckpoint(eager=True)
    real_append = rep.append
    monkeypatch.setattr(
        type(rep),
        "append",
        lambda self, *a, **kw: (_ for _ in ()).throw(RuntimeError("crash")),
    )
    with pytest.raises(RuntimeError, match="crash"):
        rep.apply_content_changes(feed2, txn=("app", 5))
    monkeypatch.undo()
    # the delete committed, the insert did not — replica is mid-window
    ids_mid = sorted(r.id for r in rep.read().collect())
    assert 2 not in ids_mid and 5 not in [int(i) for i in ids_mid]
    # replay converges: delete phase skipped by stamp, append lands
    rep.apply_content_changes(feed2, txn=("app", 5))
    assert sorted((r.id, r.v) for r in rep.read().collect()) == sorted(
        (r.id, r.v) for r in src.read().collect()
    )


def should_apply_content_feed_across_schema_evolution(spark, tmp_path):
    """A source schema evolution rides through the content apply: the
    feed's data columns are the SPAN-UNION of source schemas, so an
    evolved column reaches the replica's appends (instead of being
    silently dropped to the replica's pre-evolution schema), and
    deletes of pre-evolution rows still match — both sides carry
    typed NULL for the new column."""
    src = ManifestTable(
        spark, str(tmp_path / "src"), key_cols=["id"], partition_by=["part"]
    )
    src.append(_mk(spark, [(1, "a", "x"), (2, "a", "y")]))  # v1
    src.append(
        spark.createDataFrame(
            [(3, "a", "z", 9.5)],
            "id long, part string, v string, score double",
        )
    )  # v2: evolves schema
    src.delete_where_pos(F.col("v") == "x")  # v3: pre-evolution row
    rep = ManifestTable(
        spark, str(tmp_path / "rep"), key_cols=["id"], partition_by=["part"]
    )
    rep.append(src.read(version=1))
    rep.apply_content_changes(src.changes(1, 3))
    got = sorted(
        (r.id, r.v, r.score) for r in rep.read().collect()
    )
    assert got == [(2, "y", None), (3, "z", 9.5)]
    # replica converged to the evolved source state exactly
    assert got == sorted(
        (r.id, r.v, r.score) for r in src.read().collect()
    )


def should_apply_content_feed_atomically_via_wap(spark, tmp_path, monkeypatch):
    """``atomic=True`` composes the apply with WAP: both phases commit
    to a staged chain and land on the parent as ONE fast-forward
    commit, so a parent reader NEVER observes the half-applied window
    (deletes without inserts).  The spy reads the parent from inside
    the append phase — i.e. strictly between the two phase commits —
    and must see the full PRE-state; afterward the parent shows the
    converged POST-state, the staging area is gone, and both txn
    stamps rode into the published manifest (replay is a no-op)."""
    import os

    src = ManifestTable(
        spark, str(tmp_path / "src"), key_cols=["id"], partition_by=["part"]
    )
    src.append(
        _mk(spark, [(1, "a", "dup")] * 3 + [(2, "a", "x"), (3, "b", "y")])
    )  # v1
    src.delete_where_pos(F.col("id") == 1)  # v2
    src.append(_mk(spark, [(1, "a", "dup"), (4, "b", "z")]))  # v3
    rep = ManifestTable(
        spark, str(tmp_path / "rep"), key_cols=["id"], partition_by=["part"]
    )
    rep.append(src.read(version=1))
    pre = sorted((r.id, r.part, r.v) for r in rep.read().collect())
    feed = src.changes(1, 3)

    orig_append = ManifestTable.append
    mid_views = []

    def spying_append(self, batch, txn=None):
        # called for the chain's INSERT phase: the delete phase has
        # already committed (to the chain) — the parent must still
        # show the untouched pre-state
        mid_views.append(
            sorted((r.id, r.part, r.v) for r in rep.read().collect())
        )
        return orig_append(self, batch, txn=txn)

    monkeypatch.setattr(ManifestTable, "append", spying_append)
    rep.apply_content_changes(feed, txn=("app", 3), atomic=True)
    monkeypatch.undo()
    assert mid_views == [pre]  # exactly one mid-window read, pre-state
    post = sorted((r.id, r.part, r.v) for r in rep.read().collect())
    assert post == sorted(
        (r.id, r.part, r.v) for r in src.read().collect()
    )
    # staging area dropped at publish; stamps rode into the parent
    assert not os.path.exists(str(tmp_path / "rep" / "staging")) or not (
        os.listdir(str(tmp_path / "rep" / "staging"))
    )
    v = rep.current_version()
    assert rep.apply_content_changes(feed, txn=("app", 3), atomic=True) == v
    assert (
        sorted((r.id, r.part, r.v) for r in rep.read().collect()) == post
    )


def should_carry_stats_cols_into_staged_chain_writes(spark, tmp_path):
    """Opt-in per-file stats (``stats_cols``) are recorded at WRITE
    time, and WAP/branch chains publish their files to the parent BY
    REFERENCE — so the chain handle must inherit stats_cols, or every
    staged write would publish stats-less files and silently degrade
    the parent's data skipping for those columns."""
    mt = ManifestTable(
        spark,
        str(tmp_path / "mt"),
        key_cols=["id"],
        partition_by=["part"],
        stats_cols=["v"],
    )
    mt.append(_mk(spark, [(1, "a", "bb")]))
    staged = mt.begin_staged()
    staged.table.append(_mk(spark, [(2, "a", "zz")]))
    mt.publish_staged(staged)
    stats = mt.file_stats()
    assert len(stats) >= 2  # base file + chain-written file
    assert all("v" in entry for entry in stats.values()), stats
    # stats entries are [min, max, null_count]
    assert any(entry["v"][:2] == ["zz", "zz"] for entry in stats.values())


def should_detect_pos_deletes_landed_under_fast_forward_labels(
    spark, tmp_path
):
    """Span classification must see pos deletes that arrived under a
    NON-'DELETE POS' commit label: a WAP/branch publish (the atomic
    content apply's shape) lands the chain's delete state as one
    FAST-FORWARD commit.  Once a later rewrite materializes the
    entries out of BOTH endpoint manifests, a label-only mid-span walk
    would call the span pos-free and auto-route a duplicate-key log to
    key-diff — the walk now also checks each mid-span manifest's own
    pending entries."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x"), (1, "a", "x"), (2, "a", "y")]))  # v1
    staged = mt.begin_staged()
    staged.table.delete_where_pos(F.col("id") == 2)
    mt.publish_staged(staged)  # v2: FAST-FORWARD carrying pos entries
    mt.rewrite_position_deletes()  # v3: entries materialized away
    assert mt.current_version() == 3
    hist_ops = [h["operation"] for h in mt.history()]
    assert "DELETE POS" not in hist_ops  # only FF + rewrite labels
    with pytest.raises(ValueError, match="positional deletes"):
        mt.changes(1, 3, mode="key")
    feed = sorted(
        (r._change_type, r.id) for r in mt.changes(1, 3).collect()
    )
    assert feed == [("delete", 2)]  # auto routed to the content diff


def should_retry_atomic_apply_after_racing_parent_commit(
    spark, tmp_path, monkeypatch
):
    """The atomic apply's conflict path: a writer landing on the PARENT
    between stage and publish makes the fast-forward raise
    CommitConflict — the apply must abort the stale chain (dropping
    chain-only files), re-stage against the new base, and converge;
    the racing writer's rows survive untouched."""
    src = ManifestTable(
        spark, str(tmp_path / "src"), key_cols=["id"], partition_by=["part"]
    )
    src.append(_mk(spark, [(1, "a", "x"), (2, "a", "y")]))  # v1
    src.append(_mk(spark, [(3, "b", "z")]))  # v2
    rep = ManifestTable(
        spark, str(tmp_path / "rep"), key_cols=["id"], partition_by=["part"]
    )
    rep.append(src.read(version=1))
    feed = src.changes(1, 2, mode="content")

    orig_publish = ManifestTable.publish_staged
    raced = []

    def racing_publish(self, staged):
        if not raced:
            raced.append(True)
            # a concurrent writer lands on the parent first
            self.append(_mk(spark, [(99, "c", "race")]))
        return orig_publish(self, staged)

    monkeypatch.setattr(ManifestTable, "publish_staged", racing_publish)
    rep.apply_content_changes(feed, atomic=True)
    monkeypatch.undo()
    got = sorted((r.id, r.part, r.v) for r in rep.read().collect())
    want = sorted(
        [(r.id, r.part, r.v) for r in src.read().collect()]
        + [(99, "c", "race")]
    )
    assert got == want
    assert len(raced) == 1  # exactly one conflict -> one re-stage


def should_drop_staging_when_atomic_apply_fails_validation(spark, tmp_path):
    """The atomic apply's abort path: a feed that over-deletes fails
    the multiplicity check INSIDE the staged chain — the parent must
    be untouched AND the staging area dropped (no orphaned chain
    metadata accumulating under <root>/staging)."""
    import os

    from geospatial_data_lake_spark.plans.catalog import ValidationError

    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(7, "a", "d"), (8, "a", "k")]))
    v0 = mt.current_version()
    five = spark.createDataFrame(
        [("delete", 7, "a", "d")] * 5,
        "_change_type string, id long, part string, v string",
    )
    with pytest.raises(ValidationError, match="only 1 matching"):
        mt.apply_content_changes(five, atomic=True)
    assert mt.current_version() == v0
    assert sorted(r.id for r in mt.read().collect()) == [7, 8]
    staging = str(tmp_path / "mt" / "staging")
    assert not os.path.exists(staging) or not os.listdir(staging)


def should_converge_replica_for_generated_content_histories(spark, tmp_path):
    """Content-replication model check: for ANY generated source
    history over a duplicate-key table (appends of small row multisets
    interleaved with positional deletes), a replica seeded from ANY
    mid-history snapshot converges to the source's exact multiset
    state by applying the single net content feed — the algebra the
    apply-changelog contract promises (multiset subtraction with exact
    multiplicity, inserts by count)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.one_of(
        st.tuples(
            st.just("append"),
            st.lists(
                st.tuples(
                    st.integers(0, 3),
                    st.sampled_from(["a", "b"]),
                    st.sampled_from(["x", "y"]),  # small value space ->
                    # duplicate FULL rows across commits (the hard part)
                ),
                min_size=1,
                max_size=3,
            ),
        ),
        st.tuples(
            st.just("delete_pos"), st.sampled_from(["x", "y"])
        ),
    )

    counter = [0]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        ops=st.lists(op, min_size=1, max_size=4),
        seed_at=st.integers(1, 2),
    )
    def check(ops, seed_at):
        counter[0] += 1
        src = ManifestTable(
            spark,
            str(tmp_path / f"src_{counter[0]}"),
            key_cols=["id"],
            partition_by=["part"],
        )
        src.append(
            _mk(spark, [(1, "a", "x"), (1, "a", "x"), (2, "b", "y")])
        )
        for kind, arg in ops:
            if kind == "append":
                src.append(_mk(spark, list(arg)))
            else:
                # row-granular delete of every live row with value=arg
                src.delete_where_pos(F.col("v") == arg)
        head = src.current_version()
        v0 = min(seed_at, head)
        rep = ManifestTable(
            spark,
            str(tmp_path / f"rep_{counter[0]}"),
            key_cols=["id"],
            partition_by=["part"],
        )
        rep.append(src.read(version=v0))
        if head > v0:
            # alternate plain and WAP-atomic applies across examples:
            # both modes must satisfy the identical convergence algebra
            rep.apply_content_changes(
                src.changes(v0, head, mode="content"),
                atomic=counter[0] % 2 == 0,
            )
        assert sorted(
            (r.id, r.part, r.v) for r in rep.read().collect()
        ) == sorted(
            (r.id, r.part, r.v) for r in src.read().collect()
        ), (ops, v0)

    check()


def should_equate_per_commit_and_net_application(spark, tmp_path):
    """Change-feed algebra: for ANY generated duplicate-key history,
    applying each commit's own content feed IN ORDER (the
    changes_per_commit consumer) and applying the single net
    endpoint feed both converge a snapshot-seeded replica to the
    source state — per-commit feeds are replayable increments, the
    net feed is their multiset sum."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.one_of(
        st.tuples(
            st.just("append"),
            st.lists(
                st.tuples(
                    st.integers(0, 3),
                    st.sampled_from(["a", "b"]),
                    st.sampled_from(["x", "y"]),
                ),
                min_size=1,
                max_size=2,
            ),
        ),
        st.tuples(st.just("delete_pos"), st.sampled_from(["x", "y"])),
    )

    counter = [0]

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=1, max_size=3))
    def check(ops):
        counter[0] += 1
        src = ManifestTable(
            spark,
            str(tmp_path / f"s_{counter[0]}"),
            key_cols=["id"],
            partition_by=["part"],
        )
        src.append(_mk(spark, [(1, "a", "x"), (1, "a", "x"), (2, "b", "y")]))
        for kind, arg in ops:
            if kind == "append":
                src.append(_mk(spark, list(arg)))
            else:
                src.delete_where_pos(F.col("v") == arg)
        head = src.current_version()

        def seeded(name):
            r = ManifestTable(
                spark,
                str(tmp_path / f"{name}_{counter[0]}"),
                key_cols=["id"],
                partition_by=["part"],
            )
            r.append(src.read(version=1))
            return r

        source_state = sorted(
            (r.id, r.part, r.v) for r in src.read().collect()
        )
        if head > 1:
            # per-commit consumer: one apply per stamped version
            inc = seeded("inc")
            pc = src.changes_per_commit(1, head, mode="content")
            versions = sorted(
                r._commit_version
                for r in pc.select("_commit_version").distinct().collect()
            )
            for v in versions:
                inc.apply_content_changes(
                    pc.filter(F.col("_commit_version") == v).drop(
                        "_commit_version"
                    ),
                    txn=("inc", int(v)),
                )
            # net consumer: one apply of the endpoint diff
            net = seeded("net")
            net.apply_content_changes(src.changes(1, head, mode="content"))
            assert (
                sorted((r.id, r.part, r.v) for r in inc.read().collect())
                == source_state
            ), ops
            assert (
                sorted((r.id, r.part, r.v) for r in net.read().collect())
                == source_state
            ), ops

    check()


def _unreferenced_batch_dirs(mt) -> set[str]:
    """Top-level directories under ``data/`` that no retained manifest
    names, neither as a data file nor as a delete file."""
    import os

    referenced: set[str] = set()
    for n in os.listdir(os.path.join(mt.root, "commits")):
        m = mt._load_manifest(int(n))
        for files in m["partitions"].values():
            referenced.update(f.split("/", 1)[0] for f in files)
        for entries in m.get("deletes", {}).values():
            referenced.update(d["file"].split("/", 1)[0] for d in entries)
    return set(os.listdir(os.path.join(mt.root, "data"))) - referenced


def should_survive_one_lost_commit_race_per_write_operation(
    spark, tmp_path, monkeypatch
):
    """Every retrying write operation loses its first publish to a
    competing ``set_property`` commit, then retries: it lands as the
    competitor's version + 1, its content equals the race-free result,
    the competitor's property survives (``restore`` takes the target's
    properties by contract), and the lost attempt leaves no data
    directory behind."""
    root = str(tmp_path / "mt")
    # one partition, keyed by it: no key-location probes, few tasks
    spec = dict(key_cols=["id", "part"], partition_by=["part"], keep_versions=64)
    mt = ManifestTable(spark, root, **spec)
    mt.append(_mk(spark, [(i, "p", f"w{i}") for i in range(8)]))
    want = {i: f"w{i}" for i in range(8)}

    orig_publish = ManifestTable._publish
    race = {"armed": None, "competitor": None}

    def racing_publish(self, manifest, expected_gen):
        name = race["armed"]
        if name is not None and self.root == root:
            race["armed"] = None
            race["competitor"] = ManifestTable(spark, root, **spec).set_property(
                f"race_{name}", "won"
            )
        return orig_publish(self, manifest, expected_gen)

    monkeypatch.setattr(ManifestTable, "_publish", racing_publish)

    def raced(name, op):
        race["armed"], race["competitor"] = name, None
        v = op()
        assert race["competitor"] is not None, name
        assert v == race["competitor"] + 1, name
        assert {r.id: r.v for r in mt.read().collect()} == want, name
        if name != "restore":
            assert mt.properties()[f"race_{name}"] == "won", name
        assert _unreferenced_batch_dirs(mt) == set(), name
        return v

    want.update({i: f"w{i}" for i in range(8, 12)})
    raced("append", lambda: mt.append(
        _mk(spark, [(i, "p", f"w{i}") for i in range(8, 12)])
    ))
    v_compacted = raced("compact", lambda: mt.compact())
    want_compacted = dict(want)
    want.update({1: "u1", 20: "w20"})
    raced("upsert", lambda: mt.upsert(
        _mk(spark, [(1, "p", "u1"), (20, "p", "w20")])
    ))
    want.pop(3)
    want[2] = "o2"
    raced("overwrite_where", lambda: mt.overwrite_where(
        _mk(spark, [(2, "p", "o2")]), F.col("id").isin(2, 3)
    ))
    want.pop(4)
    raced("delete_where", lambda: mt.delete_where(F.col("id") == 4))
    want.pop(5)
    raced("delete_where_eq", lambda: mt.delete_where_eq(F.col("id") == 5))
    want.pop(6)
    raced("delete_where_pos", lambda: mt.delete_where_pos(F.col("id") == 6))
    raced("rewrite_position_deletes", lambda: mt.rewrite_position_deletes())
    raced("optimize", lambda: mt.optimize(sort_by=["id"], target_files=2))
    raced("add_constraint", lambda: mt.add_constraint("id_ok", "id >= 0"))
    assert mt.constraints() == {"id_ok": "id >= 0"}
    raced("drop_constraint", lambda: mt.drop_constraint("id_ok"))
    assert mt.constraints() == {}
    raced("set_property", lambda: mt.set_property("owner", "lake"))
    assert mt.properties()["owner"] == "lake"
    raced("evolve_partition_spec", lambda: mt.evolve_partition_spec(
        {"b": ("bucket", "id", 2)}, partition_by=["part", "b"]
    ))
    assert mt.partition_spec() == ("1", {"b": ("bucket", "id", 2)})
    raced("rewrite_to_current_spec", lambda: mt.rewrite_to_current_spec())
    want = want_compacted
    raced("restore", lambda: mt.restore(v_compacted))
    assert mt.properties() == mt.properties_at(v_compacted)


def should_raise_and_leave_nothing_when_commit_retries_run_out(
    spark, tmp_path, monkeypatch
):
    """With every commit-pointer create lost, each retrying write
    raises CommitConflict after ``_MAX_RETRIES`` attempts and leaves no
    new data directory and no new manifest document."""
    import os

    from geospatial_data_lake_spark.plans.catalog import CommitConflict
    from geospatial_data_lake_spark.sources import fsio
    from geospatial_data_lake_spark.sources import manifest_table as mtmod

    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    data_before = set(os.listdir(os.path.join(mt.root, "data")))
    docs_before = set(os.listdir(os.path.join(mt.root, "manifests")))

    def always_lost(path, data):
        raise FileExistsError(path)

    monkeypatch.setattr(mtmod, "_MAX_RETRIES", 2)
    monkeypatch.setattr(fsio, "put_if_absent", always_lost)
    ops = {
        "append": lambda: mt.append(_mk(spark, [(3, "c", "z")])),
        "upsert": lambda: mt.upsert(_mk(spark, [(1, "a", "x2")])),
        "delete_where_eq": lambda: mt.delete_where_eq(F.col("id") == 2),
        "set_property": lambda: mt.set_property("k", "v"),
    }
    for name, op in ops.items():
        with pytest.raises(CommitConflict, match="retries exhausted"):
            op()
        assert set(os.listdir(os.path.join(mt.root, "data"))) == data_before, name
        assert (
            set(os.listdir(os.path.join(mt.root, "manifests"))) == docs_before
        ), name
    monkeypatch.undo()
    assert _state(mt.read()) == {1: ("a", "x"), 2: ("b", "y")}


def should_drop_empty_rewrite_batch_when_every_touched_row_is_deleted(
    spark, tmp_path
):
    """A ``delete_where`` that removes every row of the partitions it
    touches writes no file, so its batch directory is dropped instead of
    lingering (holding only ``_SUCCESS``) until ``vacuum``."""
    mt = _table(spark, tmp_path)
    mt.append(_mk(spark, [(1, "a", "x"), (2, "b", "y")]))
    mt.delete_where(F.col("id") == 1)
    assert _state(mt.read()) == {2: ("b", "y")}
    assert _unreferenced_batch_dirs(mt) == set()
