"""Golden-path E2E: STAC tree -> validate -> checksum -> import -> status.

Mirrors the reference's end-to-end test shape
(tests/test_processing_stack.py:83-262: 3-doc STAC tree + 2 assets,
assert exact final status) including the negative checksum-mismatch path
(test_processing_stack.py:400)."""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from geospatial_data_lake_spark import schemas
from geospatial_data_lake_spark.plans import checksums, stac, status
from geospatial_data_lake_spark.plans.catalog import (
    ConflictError,
    DatasetCatalog,
    ValidationError,
)
from geospatial_data_lake_spark.plans.pipeline import create_dataset_version


def _multihash(payload: bytes) -> str:
    return "1220" + hashlib.sha256(payload).hexdigest()


def _write_stac_tree(root):
    """catalog -> collection -> item with two binary assets, under ``root``."""
    root.mkdir(parents=True, exist_ok=True)
    (root / "asset1.bin").write_bytes(b"payload-one")
    (root / "asset2.bin").write_bytes(b"")  # empty file, ref tests/aws_utils.py:44-45

    item = {
        "type": "Feature",
        "stac_version": "1.0.0-rc.3",
        "id": "item-1",
        "geometry": None,
        "properties": {"datetime": "2026-01-01T00:00:00Z"},
        "links": [],
        "assets": {
            "a1": {"href": "asset1.bin", "file:checksum": _multihash(b"payload-one")},
            "a2": {"href": "asset2.bin", "file:checksum": _multihash(b"")},
        },
    }
    collection = {
        "type": "Collection",
        "stac_version": "1.0.0-rc.3",
        "id": "collection-1",
        "description": "c",
        "license": "MIT",
        "extent": {
            "spatial": {"bbox": [[-180, -90, 180, 90]]},
            "temporal": {"interval": [["2026-01-01T00:00:00Z", None]]},
        },
        "links": [{"href": "item.json", "rel": "child"}],
    }
    catalog_doc = {
        "type": "Catalog",
        "stac_version": "1.0.0-rc.3",
        "id": "catalog-1",
        "description": "root",
        "links": [
            {"href": "collection.json", "rel": "child"},
            {"href": "catalog.json", "rel": "self"},  # cycle, must not loop
        ],
    }
    (root / "item.json").write_text(json.dumps(item))
    (root / "collection.json").write_text(json.dumps(collection))
    (root / "catalog.json").write_text(json.dumps(catalog_doc))
    return root


@pytest.fixture
def stac_tree(tmp_path):
    """The golden-path tree (one test also plants a checksum mismatch)."""
    return _write_stac_tree(tmp_path)


# Spark jobs one clean version of the golden-path tree may start: 9
# measured at local[8], plus 2. Per-job and per-task overhead, not data, is
# the price of a version (plans/stac.py), so a regression in job count is a
# regression.
VERSION_JOB_BUDGET = 11


def should_run_golden_path(spark, stac_tree, tmp_path):
    catalog = DatasetCatalog(spark, str(tmp_path / "catalog_store"))
    ds = catalog.create_dataset("golden_path_ds")
    sc = spark.sparkContext
    group = f"golden-path-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "create_dataset_version job budget")
    try:
        result = create_dataset_version(
            spark,
            catalog,
            ds["dataset_id"],
            str(stac_tree / "catalog.json"),
            str(tmp_path / "storage"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= VERSION_JOB_BUDGET, n_jobs
    assert result.validation_passed, result.validation.collect()
    # the traversal alone: one job per hop (catalog, collection, item)
    sc.setJobGroup(f"{group}-stac", "traverse_and_validate job count")
    try:
        stac.traverse_and_validate(spark, "d", "v", str(stac_tree / "catalog.json"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(f"{group}-stac")) == 3

    assets = {
        (r.item_type, os.path.basename(r.url)): r for r in result.assets.collect()
    }
    assert ("METADATA", "catalog.json") in assets
    assert ("METADATA", "collection.json") in assets
    assert ("METADATA", "item.json") in assets
    assert ("DATA", "asset1.bin") in assets
    assert ("DATA", "asset2.bin") in assets
    # dense 0-based indexes per item_type (W1)
    meta_indexes = sorted(
        r.item_index for (t, _), r in assets.items() if t == "METADATA"
    )
    assert meta_indexes == [0, 1, 2]

    copied = {os.path.basename(r.target): r.status for r in result.copy_status.collect()}
    assert all(s == "Complete" for s in copied.values())
    # metadata hrefs rewritten to basenames (S10)
    storage = tmp_path / "storage"
    copied_catalogs = list(storage.rglob("catalog.json"))
    assert copied_catalogs, "catalog.json not copied"
    rewritten = json.loads(copied_catalogs[0].read_text())
    assert all("/" not in l["href"] for l in rewritten["links"])

    # status view: one row, everything green
    versions = catalog.versions()
    view = status.status_view(
        versions,
        result.validation,
        spark.createDataFrame(
            [
                (ds["dataset_id"], result.version_id, "metadata", "j1", "Complete", []),
                (ds["dataset_id"], result.version_id, "asset", "j2", "Complete", []),
            ],
            "dataset_id string, version_id string, job_type string, job_id string, status string, failure_reasons array<string>",
        ),
    ).collect()
    assert len(view) == 1
    row = view[0].asDict()
    assert row["validation_status"] == "Passed"
    assert row["metadata_upload_status"] == "Complete"
    assert row["asset_upload_status"] == "Complete"
    assert row["n_failures"] == 0
    assert row["validation_errors"] == []
    # the lookup alone: one aggregate over one partition, one job, no
    # shuffle, broadcast or join
    jobs = spark.createDataFrame(
        [(ds["dataset_id"], result.version_id, "metadata", "j1", "COMPLETE", [])],
        schemas.COPY_JOBS,
    )
    executions = versions.filter(F.col("version_id") == result.version_id)
    sc.setJobGroup(f"{group}-status", "status_view job count")
    try:
        lookup = status.status_view(executions, result.validation, jobs)
        assert len(lookup.collect()) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(f"{group}-status")) == 1
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" not in plan and "Exchange" not in plan, plan


def should_skip_copy_on_checksum_mismatch(spark, stac_tree, tmp_path):
    # plant a mismatch: overwrite asset1 after manifest hashes were minted
    (stac_tree / "asset1.bin").write_bytes(b"tampered!")
    catalog = DatasetCatalog(spark, str(tmp_path / "catalog_store"))
    ds = catalog.create_dataset("mismatch_ds")
    result = create_dataset_version(
        spark,
        catalog,
        ds["dataset_id"],
        str(stac_tree / "catalog.json"),
        str(tmp_path / "storage"),
    )
    assert not result.validation_passed
    assert result.copy_status is None  # import skipped
    failed = result.validation.filter(F.col("result") == "Failed").collect()
    assert len(failed) == 1
    assert failed[0].check == "checksum"
    assert "mismatch" in failed[0].details["message"]
    # skip-propagation in the status view (ref get.py:79-85)
    view = status.status_view(
        catalog.versions(),
        result.validation,
        spark.createDataFrame(
            [], "dataset_id string, version_id string, job_type string, job_id string, status string, failure_reasons array<string>"
        ),
    ).collect()
    assert view[0].validation_status == "Failed"
    assert view[0].metadata_upload_status == "Skipped"
    assert view[0].asset_upload_status == "Skipped"
    assert [(e.check, os.path.basename(e.url)) for e in view[0].validation_errors] == [
        ("checksum", "asset1.bin")
    ]


def should_derive_status_for_each_outcome(spark):
    """The outcome and skip-propagation rules (ref get.py:79-107) over
    hand-built frames; the expected rows are the join-based view's."""
    t = datetime(2026, 1, 1)
    executions = spark.createDataFrame(
        [
            ("d", "ok", t, "u", "SUCCEEDED"),
            ("d", "bad", t, "u", "SUCCEEDED"),
            ("d", "running", t, "u", "RUNNING"),
            ("d", "meta_only", t, "u", "SUCCEEDED"),
        ],
        schemas.DATASET_VERSIONS,
    )
    validation = spark.createDataFrame(
        [
            ("d", "ok", "checksum", "a.bin", "Passed", None),
            ("d", "bad", "checksum", "b.bin", "Failed", {"message": "mismatch"}),
            ("d", "bad", "JSON schema", "a.json", "Failed", {"message": "bad"}),
            ("d", "bad", "checksum", "c.bin", "Passed", None),
            ("d", "orphan", "checksum", "z.bin", "Failed", {"message": "orphan"}),
        ],
        schemas.VALIDATION_RESULTS,
    )
    jobs = spark.createDataFrame(
        [
            ("d", "ok", "metadata", "j1", "COMPLETE", []),
            ("d", "ok", "asset", "j2", "COMPLETE", []),
            ("d", "meta_only", "metadata", "j3", "COMPLETE", []),
            ("d", "orphan", "asset", "j4", "FAILED", ["copy failed"]),
        ],
        schemas.COPY_JOBS,
    )
    view = status.status_view(executions, validation, jobs)
    assert view.columns == [
        "dataset_id",
        "version_id",
        "execution",
        "validation_status",
        "n_failures",
        "metadata_upload_status",
        "asset_upload_status",
        "validation_errors",
    ]
    got = {
        r.version_id: (*r[2:7], [tuple(e) for e in r.validation_errors])
        for r in view.collect()
    }
    assert got == {
        "ok": ("Succeeded", "Passed", 0, "Complete", "Complete", []),
        "bad": (
            "Succeeded",
            "Failed",
            2,
            "Skipped",
            "Skipped",
            [
                ("JSON schema", "a.json", '{"message":"bad"}'),
                ("checksum", "b.bin", '{"message":"mismatch"}'),
            ],
        ),
        "running": ("Running", "Pending", 0, "Pending", "Pending", []),
        "meta_only": ("Succeeded", "Passed", 0, "Complete", "Pending", []),
    }


def should_reject_invalid_json_and_duplicate_keys(spark, tmp_path):
    bad = tmp_path / "bad.json"
    bad.write_text('{"type": "Catalog", "type": "Collection"}')
    assets, validation = stac.traverse_and_validate(spark, "d", "v", str(bad))
    rows = validation.collect()
    assert any(
        r.check == "JSON parse" and "duplicate keys" in r.details["message"]
        for r in rows
    )

    notjson = tmp_path / "notjson.json"
    notjson.write_text("{nope")
    _, validation2 = stac.traverse_and_validate(spark, "d", "v", str(notjson))
    assert any(r.result == "Failed" for r in validation2.collect())


def should_enforce_catalog_crud_invariants(spark, tmp_path):
    catalog = DatasetCatalog(spark, str(tmp_path / "store"))
    with pytest.raises(ValidationError):
        catalog.create_dataset("bad title!")  # regex (P4/F14)
    ds = catalog.create_dataset("unique_title")
    with pytest.raises(ConflictError):
        catalog.create_dataset("unique_title")  # uniqueness (A3)
    got = catalog.get_dataset(title="unique_title")
    assert got["dataset_id"] == ds["dataset_id"]
    # one-row frames carry the catalog schema exactly; timestamps are naive
    # UTC under the session's UTC zone
    row = catalog._row(schemas.DATASETS, "i", "t", got["created_at"], got["created_at"])
    assert row.schema == schemas.DATASETS
    empty = DatasetCatalog(spark, str(tmp_path / "empty")).versions()
    assert empty.schema == schemas.DATASET_VERSIONS
    created = catalog.datasets().select(F.col("created_at").cast("string")).first()[0]
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    assert abs(datetime.fromisoformat(created) - now) < timedelta(minutes=10)
    catalog.register_version(ds["dataset_id"], "v1", "file:///x", "SUCCEEDED")
    with pytest.raises(ConflictError):
        catalog.delete_dataset(ds["dataset_id"])  # anti-join guard (J5)


def should_serialize_concurrent_catalog_writers(spark, tmp_path):
    """The commit protocol's guarantee: N racing writers on one catalog
    root produce a serializable history — no lost inserts, and duplicate
    titles hit the uniqueness precondition in exactly one of the two
    racers (never both succeed)."""
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "race_store")
    titles = ["t_a", "t_b", "t_c", "t_a", "t_b", "t_c", "only_one"]

    def try_create(title):
        cat = DatasetCatalog(spark, root)  # each writer: own handle, shared root
        try:
            cat.create_dataset(title)
            return (title, "ok")
        except ConflictError:
            return (title, "conflict")

    with ThreadPoolExecutor(max_workers=7) as pool:
        outcomes = list(pool.map(try_create, titles))

    ok = sorted(t for t, s in outcomes if s == "ok")
    assert ok.count("t_a") == 1 and ok.count("t_b") == 1 and ok.count("t_c") == 1
    assert "only_one" in ok
    final = DatasetCatalog(spark, root).datasets().collect()
    assert sorted(r.title for r in final) == ["only_one", "t_a", "t_b", "t_c"]
    assert len({r.dataset_id for r in final}) == 4  # no lost/duplicated inserts


def should_detect_conflicting_duplicate_asset_references(spark, tmp_path):
    """U4: same asset referenced twice with different multihash => Failed."""
    item1 = {
        "type": "Feature",
        "stac_version": "1.0.0-rc.3",
        "id": "i1",
        "geometry": None,
        "properties": {"datetime": "2026-01-01T00:00:00Z"},
        "links": [],
        "assets": {"a": {"href": "shared.bin", "file:checksum": "1220" + "a" * 64}},
    }
    item2 = dict(item1, id="i2", assets={"a": {"href": "shared.bin", "file:checksum": "1220" + "b" * 64}})
    root = {
        "type": "Catalog",
        "stac_version": "1.0.0-rc.3",
        "id": "root",
        "description": "r",
        "links": [
            {"href": "i1.json", "rel": "child"},
            {"href": "i2.json", "rel": "child"},
        ],
    }
    (tmp_path / "i1.json").write_text(json.dumps(item1))
    (tmp_path / "i2.json").write_text(json.dumps(item2))
    (tmp_path / "root.json").write_text(json.dumps(root))
    (tmp_path / "shared.bin").write_bytes(b"x")
    assets, validation = stac.traverse_and_validate(
        spark, "d", "v", str(tmp_path / "root.json")
    )
    assert any(r.check == "duplicate asset name" for r in validation.collect())
    # the one DATA row of a conflicting reference keeps the smallest multihash
    data = assets.filter(F.col("item_type") == "DATA").collect()
    assert [(os.path.basename(r.url), r.multihash) for r in data] == [
        ("shared.bin", "1220" + "a" * 64)
    ]


def _item(item_id, assets, links=()):
    return {
        "type": "Feature",
        "stac_version": "1.0.0-rc.3",
        "id": item_id,
        "geometry": None,
        "properties": {"datetime": "2026-01-01T00:00:00Z"},
        "links": [{"href": h, "rel": "child"} for h in links],
        "assets": {
            name: {"href": name, "file:checksum": _multihash(name.encode())}
            for name in assets
        },
    }


def _collection(collection_id, children):
    return {
        "type": "Collection",
        "stac_version": "1.0.0-rc.3",
        "id": collection_id,
        "description": "c",
        "license": "MIT",
        "extent": {
            "spatial": {"bbox": [[-180, -90, 180, 90]]},
            "temporal": {"interval": [["2026-01-01T00:00:00Z", None]]},
        },
        "links": [{"href": h, "rel": "child"} for h in children],
    }


def _catalog(catalog_id, children):
    return {
        "type": "Catalog",
        "stac_version": "1.0.0-rc.3",
        "id": catalog_id,
        "description": "c",
        "links": [{"href": h, "rel": "child"} for h in children],
    }


def should_traverse_diamond_and_child_cycle_once(spark, tmp_path):
    """Item i2 is linked from both collections (a diamond) and item i1
    links back to its collection as a child (a cycle). The traversal ends,
    reads every doc once, and numbers both item types 0..n-1 in url order,
    with the asset two items share deduplicated."""
    docs = {
        "root.json": {
            "type": "Catalog",
            "stac_version": "1.0.0-rc.3",
            "id": "root",
            "description": "r",
            "links": [
                {"href": "ca.json", "rel": "child"},
                {"href": "cb.json", "rel": "child"},
            ],
        },
        "ca.json": _collection("ca", ["i1.json", "i2.json"]),
        "cb.json": _collection("cb", ["i2.json", "i3.json"]),
        "i1.json": _item("i1", ["shared.bin", "a1.bin"], links=["ca.json"]),
        "i2.json": _item("i2", ["shared.bin", "a2.bin"]),
        "i3.json": _item("i3", ["a3.bin"]),
    }
    for name, doc in docs.items():
        (tmp_path / name).write_text(json.dumps(doc))
    assets, validation = stac.traverse_and_validate(
        spark, "d", "v", str(tmp_path / "root.json")
    )

    checks = validation.collect()
    assert all(r.result == "Passed" for r in checks), checks
    assert sorted(os.path.basename(r.url) for r in checks) == sorted(docs)

    rows = assets.collect()
    for item_type, names in (
        ("METADATA", sorted(docs)),
        ("DATA", ["a1.bin", "a2.bin", "a3.bin", "shared.bin"]),
    ):
        of_type = sorted(
            (r.item_index, os.path.basename(r.url)) for r in rows if r.item_type == item_type
        )
        assert of_type == list(enumerate(names)), (item_type, of_type)
    shared = [r for r in rows if r.url.endswith("shared.bin")]
    assert [r.multihash for r in shared] == [_multihash(b"shared.bin")]


def should_fail_validation_for_urls_left_unread_at_max_hops(spark, stac_tree):
    """A traversal cut short by ``max_hops`` fails validation for every
    URL it did not read, so the gate never lets a partial version through."""
    assets, validation = stac.traverse_and_validate(
        spark, "d", "v", str(stac_tree / "catalog.json"), max_hops=2
    )
    failed = [r for r in validation.collect() if r.result == "Failed"]
    assert [(r.check, os.path.basename(r.url), r.details["message"]) for r in failed] == [
        ("JSON schema", "item.json", "not read: traversal stopped at max_hops=2")
    ]
    assert not checksums.validation_summary(validation)
    assert sorted(os.path.basename(r.url) for r in assets.collect()) == [
        "catalog.json", "collection.json",
    ]


def should_fail_missing_child_doc_and_read_its_siblings(spark, tmp_path):
    """catalog -> sub-catalog -> collection -> items, one item link
    pointing at a missing file: that URL fails with a staging-access
    error, its siblings are read, METADATA indexes stay dense, and the
    version is not copied."""
    tree = tmp_path / "tree"
    tree.mkdir()
    docs = {
        "root.json": _catalog("root", ["sub/catalog.json"]),
        "sub/catalog.json": _catalog("sub", ["coll/collection.json"]),
        "sub/coll/collection.json": _collection(
            "coll", ["i1.json", "missing.json", "i2.json"]
        ),
        "sub/coll/i1.json": _item("i1", ["a1.bin"]),
        "sub/coll/i2.json": _item("i2", ["a2.bin"]),
    }
    for name, doc in docs.items():
        (tree / name).parent.mkdir(parents=True, exist_ok=True)
        (tree / name).write_text(json.dumps(doc))
    for name in ("a1.bin", "a2.bin"):
        (tree / "sub/coll" / name).write_bytes(name.encode())
    catalog = DatasetCatalog(spark, str(tmp_path / "catalog_store"))
    ds = catalog.create_dataset("missing_child_ds")
    storage = tmp_path / "storage"
    result = create_dataset_version(
        spark, catalog, ds["dataset_id"], str(tree / "root.json"), str(storage)
    )

    checks = result.validation.collect()
    failed = [r for r in checks if r.result == "Failed"]
    assert [os.path.basename(r.url) for r in failed] == ["missing.json"], failed
    assert failed[0].details["message"].startswith("staging access")
    passed = {os.path.relpath(r.url, tree) for r in checks if r.result == "Passed"}
    assert passed == set(docs) | {"sub/coll/a1.bin", "sub/coll/a2.bin"}
    meta = sorted(
        (r.item_index, os.path.relpath(r.url, tree))
        for r in result.assets.collect()
        if r.item_type == "METADATA"
    )
    assert meta == list(enumerate(sorted(docs)))
    assert not result.validation_passed
    assert result.copy_status is None and not storage.exists()


def should_run_golden_path_from_percent_encoded_file_uri(spark, tmp_path):
    """A root given as ``Path.as_uri()`` under a directory whose name holds
    a space: traversal, checksums and copy all decode ``%20``."""
    tree = _write_stac_tree(tmp_path / "a b")
    root_uri = (tree / "catalog.json").as_uri()
    assert "%20" in root_uri
    catalog = DatasetCatalog(spark, str(tmp_path / "catalog_store"))
    ds = catalog.create_dataset("encoded_uri_ds")
    result = create_dataset_version(
        spark, catalog, ds["dataset_id"], root_uri, str(tmp_path / "storage")
    )
    assert result.validation_passed, result.validation.collect()
    copied = result.copy_status.collect()
    assert sorted(os.path.basename(r.target) for r in copied) == [
        "asset1.bin", "asset2.bin", "catalog.json", "collection.json", "item.json",
    ]
    assert all(r.status == "Complete" for r in copied), copied


def should_stream_digest_match_reference_semantics(spark, tmp_path):
    """Chunked streaming hash equals whole-file sha256 (A5/X4)."""
    big = tmp_path / "big.bin"
    payload = os.urandom(3 * (1 << 20) + 17)  # crosses chunk boundaries
    big.write_bytes(payload)
    assets = spark.createDataFrame(
        [("d", "v", "DATA", 0, str(big), _multihash(payload))],
        "dataset_id string, version_id string, item_type string, item_index long, url string, multihash string",
    )
    rows = checksums.verify_checksums(assets).collect()
    assert len(rows) == 1 and rows[0].result == "Passed"


def should_dispatch_multihash_function_codes(spark, tmp_path):
    """One manifest mixing sha1 / sha2-256 / sha2-512 / sha3-256
    multihashes: every algorithm verifies via the FUNCS dispatch
    (ref: check_files_checksums/utils.py:98-99)."""
    payload = b"multi-algorithm payload"
    f = tmp_path / "data.bin"
    f.write_bytes(payload)
    rows_in = [
        ("d", "v", "DATA", i, str(f), checksums.make_multihash(payload, algo))
        for i, algo in enumerate(["sha1", "sha256", "sha512", "sha3_256"])
    ]
    assets = spark.createDataFrame(
        rows_in,
        "dataset_id string, version_id string, item_type string,"
        " item_index long, url string, multihash string",
    )
    rows = checksums.verify_checksums(assets).collect()
    assert len(rows) == 4
    assert all(r.result == "Passed" for r in rows), [
        (r.result, r.details) for r in rows
    ]


def should_flag_unknown_multihash_code_as_unsupported(spark, tmp_path):
    """An unregistered fn code fails with a distinct 'unsupported hash
    function' detail, not a generic mismatch."""
    f = tmp_path / "data.bin"
    f.write_bytes(b"payload")
    assets = spark.createDataFrame(
        [("d", "v", "DATA", 0, str(f), "ff20" + "0" * 64)],
        "dataset_id string, version_id string, item_type string,"
        " item_index long, url string, multihash string",
    )
    rows = checksums.verify_checksums(assets).collect()
    assert len(rows) == 1
    assert rows[0].result == "Failed"
    assert "unsupported hash function 0xff" in rows[0].details["message"]


def should_detect_corrupted_payload_for_each_algorithm(spark, tmp_path):
    """A wrong digest still fails per algorithm (mismatch path unaffected
    by the dispatch)."""
    f = tmp_path / "data.bin"
    f.write_bytes(b"actual contents")
    rows_in = [
        ("d", "v", "DATA", i, str(f), checksums.make_multihash(b"other", algo))
        for i, algo in enumerate(["sha1", "sha512"])
    ]
    assets = spark.createDataFrame(
        rows_in,
        "dataset_id string, version_id string, item_type string,"
        " item_index long, url string, multihash string",
    )
    rows = checksums.verify_checksums(assets).collect()
    assert all(r.result == "Failed" for r in rows)
    assert all("checksum mismatch" in r.details["message"] for r in rows)


def should_time_travel_catalog_state(spark, tmp_path):
    """Catalog time travel: each CRUD mutation is one generation; a
    reader can replay the exact dataset table any earlier round planned
    against, bounded by the retention window."""
    import pytest

    from geospatial_data_lake_spark.plans.catalog import NotFoundError

    catalog = DatasetCatalog(spark, str(tmp_path / "tt_store"))
    catalog.create_dataset("first")
    catalog.create_dataset("second")
    ds = catalog.get_dataset(title="second")
    catalog.update_dataset(ds["dataset_id"], "second_renamed")

    assert catalog.catalog_history() == [1, 2, 3]
    assert {r.title for r in catalog.datasets_at(1).collect()} == {"first"}
    assert {r.title for r in catalog.datasets_at(2).collect()} == {"first", "second"}
    assert {r.title for r in catalog.datasets_at(3).collect()} == {
        "first", "second_renamed",
    }
    with pytest.raises(NotFoundError):
        catalog.datasets_at(99)


def should_run_quickstart_example_end_to_end(spark, sf_dir):
    """examples/quickstart.py is executable documentation: every
    section (lake, registry, GeoParquet) runs and returns nonzero
    headline numbers against the fixtures."""
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).parent.parent / "examples" / "quickstart.py"
    spec = importlib.util.spec_from_file_location("quickstart", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.main(spark, sf_dir)
    assert out["lake_rows"] > 0
    assert out["lake_files"] > 0
    assert out["registry_queries"] >= 235
    assert out["dedup_pairs"] > 0
    assert out["ann_topk_rows"] == 15
    assert out["gapfilled_hours"] > 0
    assert out["semdedup_clusters"] > 0
    assert out["geo_window_rows"] > 0
