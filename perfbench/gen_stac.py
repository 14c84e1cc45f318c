"""Seeded STAC trees for the ingest workload.

A shared pool of asset files (sizes log-uniform from 4 KiB to 1 MiB,
the same sizes under the same names for every seed) is
written once; every version gets its own metadata tree

    catalog.json -> 4 x collection_<c>.json -> 25 x item_<c>_<i>.json

with two assets per item drawn from the pool, so a version has 105
documents and 200 DATA assets.  A tampered version points one asset at a
copy of its pool file with one byte flipped, keeping the pool file's
declared checksum.  Document basenames are unique within a version,
because the importer keys copy targets by basename.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random

STAC_VERSION = "1.0.0-rc.3"  # the vendored schema tree's version
COLLECTIONS = 4
ITEMS_PER_COLLECTION = 25
ASSETS_PER_ITEM = 2
MIN_ASSET, MAX_ASSET = 4 << 10, 1 << 20


def multihash(payload: bytes) -> str:
    return "1220" + hashlib.sha256(payload).hexdigest()


def write_pool(root: str, seed: int) -> dict[str, dict]:
    """Write the asset pool; returns ``{basename: {"path", "bytes",
    "multihash"}}``."""
    rng = random.Random(f"pool-{seed}")
    os.makedirs(root, exist_ok=True)
    pool = {}
    n = COLLECTIONS * ITEMS_PER_COLLECTION * ASSETS_PER_ITEM
    lo, hi = math.log(MIN_ASSET), math.log(MAX_ASSET)
    # log-uniform quantiles in a fixed stride order: the seed picks the
    # contents, never which sizes sit next to each other by name.  The
    # checksum and copy jobs split assets into url ranges, so a seeded
    # order would give each seed its own task skew.
    sizes = [int(math.exp(lo + (hi - lo) * (i + 0.5) / n)) for i in range(n)]
    sizes = [sizes[(i * 37) % n] for i in range(n)]
    for i, size in enumerate(sizes):
        payload = rng.randbytes(size)
        name = f"asset_{i:04d}.bin"
        path = os.path.join(root, name)
        with open(path, "wb") as fh:
            fh.write(payload)
        pool[name] = {"path": path, "bytes": size, "multihash": multihash(payload)}
    return pool


def write_version_tree(
    root: str, pool: dict[str, dict], seed: int, version: int, tampered: bool
) -> dict:
    """Write one version's metadata tree under ``root``; returns
    ``{"url", "docs", "data", "tampered_name"}`` where ``data`` maps each
    DATA asset's basename to its pool record."""
    rng = random.Random(f"tree-{seed}-{version}")
    os.makedirs(root, exist_ok=True)
    names = sorted(pool)
    rng.shuffle(names)
    tamper_at = rng.randrange(len(names)) if tampered else -1
    data, docs = {}, []
    tampered_name = None
    collection_links = []
    for c in range(COLLECTIONS):
        item_links = []
        for i in range(ITEMS_PER_COLLECTION):
            assets = {}
            for a in range(ASSETS_PER_ITEM):
                k = (c * ITEMS_PER_COLLECTION + i) * ASSETS_PER_ITEM + a
                record = pool[names[k]]
                href = os.path.relpath(record["path"], root)
                if k == tamper_at:
                    tampered_name = f"tampered_{names[k]}"
                    with open(record["path"], "rb") as fh:
                        payload = bytearray(fh.read())
                    payload[rng.randrange(len(payload))] ^= 0xFF
                    with open(os.path.join(root, tampered_name), "wb") as fh:
                        fh.write(payload)
                    href = tampered_name
                    data[tampered_name] = {**record, "tampered": True}
                else:
                    data[names[k]] = record
                assets[f"a{a}"] = {"href": href, "file:checksum": record["multihash"]}
            item_name = f"item_{c}_{i:02d}.json"
            lon, lat = rng.uniform(166, 179), rng.uniform(-47, -34)
            _dump(
                root,
                item_name,
                {
                    "type": "Feature",
                    "stac_version": STAC_VERSION,
                    "id": f"item-{version}-{c}-{i}",
                    "geometry": {"type": "Point", "coordinates": [lon, lat]},
                    "bbox": [lon, lat, lon, lat],
                    "properties": {"datetime": f"2026-01-{1 + i % 28:02d}T00:00:00Z"},
                    "links": [{"href": f"collection_{c}.json", "rel": "parent"}],
                    "assets": assets,
                },
            )
            docs.append(item_name)
            item_links.append({"href": item_name, "rel": "child"})
        coll_name = f"collection_{c}.json"
        _dump(
            root,
            coll_name,
            {
                "type": "Collection",
                "stac_version": STAC_VERSION,
                "id": f"collection-{version}-{c}",
                "description": f"collection {c} of version {version}",
                "license": "CC-BY-4.0",
                "extent": {
                    "spatial": {"bbox": [[166.0, -47.0, 179.0, -34.0]]},
                    "temporal": {"interval": [["2026-01-01T00:00:00Z", None]]},
                },
                "links": [*item_links, {"href": "catalog.json", "rel": "root"}],
            },
        )
        docs.append(coll_name)
        collection_links.append({"href": coll_name, "rel": "child"})
    _dump(
        root,
        "catalog.json",
        {
            "type": "Catalog",
            "stac_version": STAC_VERSION,
            "id": f"catalog-{version}",
            "description": f"benchmark version {version}",
            "links": [*collection_links, {"href": "catalog.json", "rel": "self"}],
        },
    )
    docs.append("catalog.json")
    return {
        "url": os.path.join(root, "catalog.json"),
        "docs": docs,
        "data": data,
        "tampered_name": tampered_name,
    }


def _dump(root: str, name: str, doc: dict) -> None:
    with open(os.path.join(root, name), "w", encoding="utf-8") as fh:
        json.dump(doc, fh)
