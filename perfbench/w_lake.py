"""``lake`` workload: a seeded write/read stream on one ManifestTable.

The table is seeded from the sf0.1 fixture's ``orders`` (150k rows),
partitioned by ``o_orderpriority`` (5 partitions), keyed by
``o_orderkey``, with a bloom filter on ``o_custkey`` and stats on
``o_totalprice``.  The stream has about one write to three reads:

- writes: upserts of ~1% of rows (half inside one partition, half spread
  over all five), ``delete_where`` on a few customers, small ``append``s
  (fixture rows under fresh keys), and ``compact`` every eighth commit;
- reads: bloom point reads on ``o_custkey``, partition-pruned
  aggregates, ``read(version=...)`` inside the 16-version retention
  window, and ``changes()`` between two recent versions.

Every operation is replayed on a pandas model of the table; each read is
compared with the model (rows, counts and sums), and the final state is
compared by ``exceptAll`` both ways, outside the timed region.
"""

from __future__ import annotations

import os
import random
import time

import pandas as pd

from perfbench import common

SCALE = "sf0.1"
KEEP = 16
MIN_OPS = 8
READS_PER_WRITE = 3
COMPACT_EVERY = 8
READ_KINDS = ("point", "pruned", "version", "changes")
WRITE_LAYERS = ("manifest_table.write",)
READ_LAYERS = ("manifest_table.read",)


class Model:
    """The table's content after each committed version, as pandas."""

    def __init__(self, base: pd.DataFrame, version: int):
        self.head = base
        self.versions = {version: base}

    def commit(self, version: int, df: pd.DataFrame) -> None:
        self.head = df
        self.versions[version] = df
        for v in [v for v in self.versions if v <= version - KEEP]:
            del self.versions[v]


def run(work: str, args, fsio) -> dict:
    from pyspark.sql import functions as F

    from geospatial_data_lake_spark.sources.manifest_table import ManifestTable

    trace = bool(args.trace)
    rng = random.Random(f"lake-{args.seed}")
    path = os.path.join(common.fixture_dir(SCALE, args.small), "orders.parquet")

    def prepare(spark, rep):
        mt = ManifestTable(
            spark,
            os.path.join(work, f"lake-{rep}", "table"),
            key_cols=["o_orderkey"],
            partition_by=["o_orderpriority"],
            keep_versions=KEEP,
            bloom_cols=["o_custkey"],
            stats_cols=["o_totalprice"],
        )
        version = mt.append(spark.read.parquet(path))
        return mt, version

    spark, (mt, v0), setup, start, setup_cpu = common.repeated_setup(work, trace, prepare)
    base = pd.read_parquet(path)
    schema = spark.read.parquet(path).schema
    model = Model(base, v0)
    spans = common.Spans(spark, trace, fsio)
    failures: list[str] = []
    next_key = int(base["o_orderkey"].max()) + 1
    commits = 0
    user_bytes = written = 0
    files = _data_files(mt)
    deadline = time.perf_counter() + args.seconds
    ops = 0
    while ops < MIN_OPS or time.perf_counter() < deadline:
        if ops % (READS_PER_WRITE + 1) == 0:
            commits += 1
            kind, batch, expected, condition = _plan_write(rng, base, model.head, commits, next_key)
            if kind == "append":
                next_key += len(batch)
            frame = spark.createDataFrame(batch, schema) if batch is not None else None
            with spans.span(f"manifest_table.write.{kind}", side="write", kind=kind) as rec:
                if kind == "upsert":
                    version = mt.upsert(frame)
                elif kind == "append":
                    version = mt.append(frame)
                elif kind == "delete":
                    version = mt.delete_where(condition(F))
                else:
                    version = mt.compact()
            if version is None:
                version = mt.current_version()
            rec["version"] = version
            rec["rows"] = 0 if batch is None else len(batch)
            user_bytes += 0 if batch is None else int(batch.memory_usage(index=False).sum())
            now = _data_files(mt)
            rec["bytes_written"] = sum(size for f, size in now.items() if f not in files)
            written += rec["bytes_written"]
            files = now
            model.commit(version, expected)
        else:
            kind = READ_KINDS[rng.randrange(len(READ_KINDS))]
            with spans.span(f"manifest_table.read.{kind}", side="read", kind=kind) as rec:
                got, want, where = _read(rng, mt, model, kind, F)
            rec["planned_frac"] = _planned(mt, where) if where else None
            if got != want:
                failures.append(f"{kind} read: got {str(got)[:200]} want {str(want)[:200]}")
        ops += 1
    failures += _check_final(spark, mt, model, schema)
    return {
        "spark": spark,
        "spans": spans,
        "setup": setup,
        "start": start,
        "setup_cpu": setup_cpu,
        "failures": failures,
        "attempted": ops + 1,
        "write": [r["s"] for r in spans.of_side("write")],
        "read": [r["s"] for r in spans.of_side("read")],
        "write_cpu": [r["cpu_s"] for r in spans.of_side("write")],
        "read_cpu": [r["cpu_s"] for r in spans.of_side("read")],
        "write_layers": WRITE_LAYERS,
        "read_layers": READ_LAYERS,
        "extra": _figures(mt, spans, user_bytes, written),
        "context": {"commit_conflicts": fsio.conflicts if fsio else None},
    }


def _plan_write(rng, base: pd.DataFrame, head: pd.DataFrame, commits: int, next_key: int):
    """Pick the next write; returns (kind, batch or None, expected model
    after the write, condition builder or None)."""
    if commits % COMPACT_EVERY == 0:
        return "compact", None, head, None
    roll = rng.random()
    n = max(1, len(head) // 100)
    if roll < 0.5:
        if roll < 0.25:
            priority = rng.choice(sorted(head["o_orderpriority"].unique()))
            pool = head[head["o_orderpriority"] == priority]
        else:
            pool = head
        batch = pool.sample(n=min(n, len(pool)), random_state=rng.randrange(1 << 30)).copy()
        batch["o_totalprice"] = (batch["o_totalprice"] * 1.1 + 1.0).round(2)
        batch["o_orderstatus"] = "P"
        kept = head[~head["o_orderkey"].isin(batch["o_orderkey"])]
        return "upsert", batch, pd.concat([kept, batch], ignore_index=True), None
    if roll < 0.75:
        custs = rng.sample(sorted(head["o_custkey"].unique()), 5)

        def condition(F):
            return F.col("o_custkey").isin(custs)

        return "delete", None, head[~head["o_custkey"].isin(custs)], condition
    m = max(1, len(head) // 200)
    batch = base.sample(n=min(m, len(base)), random_state=rng.randrange(1 << 30)).copy()
    batch["o_orderkey"] = range(next_key, next_key + len(batch))
    return "append", batch, pd.concat([head, batch], ignore_index=True), None


def _read(rng, mt, model: Model, kind: str, F):
    """Run one read; returns (result, model expectation, the pruning
    spec it used or None)."""
    head = model.head
    if kind == "point":
        cust = int(head["o_custkey"].iloc[rng.randrange(len(head))])
        where = {"o_custkey": cust}
        rows = mt.read(where=where).select("o_orderkey", "o_totalprice").collect()
        got = sorted((r.o_orderkey, r.o_totalprice) for r in rows)
        sel = head[head["o_custkey"] == cust]
        want = sorted(zip(sel["o_orderkey"].tolist(), sel["o_totalprice"].tolist()))
        return got, want, where
    if kind == "pruned":
        priority = rng.choice(sorted(head["o_orderpriority"].unique()))
        where = {"o_orderpriority": priority}
        rows = (
            mt.read(where=where)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s"))
            .collect()
        )
        got = sorted((r.o_orderstatus, r.n, r.s) for r in rows)
        sel = head[head["o_orderpriority"] == priority]
        agg = sel.groupby("o_orderstatus")["o_totalprice"].agg(["count", "sum"])
        want = sorted((k, int(c), round(s, 2)) for k, (c, s) in agg.iterrows())
        return _close(got), _close(want), where
    versions = sorted(model.versions)
    if kind == "version":
        version = rng.choice(versions)
        row = mt.read(version=version).agg(
            F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
        ).collect()[0]
        snap = model.versions[version]
        return _close([(row.n, row.s)]), _close([(len(snap), round(snap["o_totalprice"].sum(), 2))]), None
    older = versions[-min(len(versions), 4):]
    a, b = (older[0], older[-1]) if len(older) > 1 else (older[0], older[0])
    if a == b:
        return [], [], None
    rows = mt.changes(a, b).groupBy("_change_type").count().collect()
    got = sorted((r._change_type, r["count"]) for r in rows)
    return got, _expected_changes(model.versions[a], model.versions[b]), None


def _expected_changes(before: pd.DataFrame, after: pd.DataFrame) -> list:
    merged = before.merge(after, on="o_orderkey", how="outer", suffixes=("_a", "_b"), indicator=True)
    inserts = int((merged["_merge"] == "right_only").sum())
    deletes = int((merged["_merge"] == "left_only").sum())
    both = merged[merged["_merge"] == "both"]
    cols = [c for c in before.columns if c != "o_orderkey"]
    changed = pd.Series(False, index=both.index)
    for c in cols:
        changed |= both[f"{c}_a"] != both[f"{c}_b"]
    out = [("delete", deletes), ("insert", inserts), ("update_postimage", int(changed.sum()))]
    return sorted(x for x in out if x[1])


def _close(rows):
    """Round float sums to cents so summation order cannot differ."""
    return [tuple(round(x, 2) if isinstance(x, float) else x for x in r) for r in rows]


def _planned(mt, where) -> float:
    live = len(mt.planned_files())
    return len(mt.planned_files(where=where)) / live if live else 0.0


def _check_final(spark, mt, model: Model, schema) -> list[str]:
    table = mt.read().select(*schema.names)
    expected = spark.createDataFrame(model.head, schema)
    extra = table.exceptAll(expected).count()
    missing = expected.exceptAll(table).count()
    if extra or missing:
        return [f"final state: {extra} rows not in the model, {missing} model rows missing"]
    return []


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


def _data_files(mt) -> dict[str, int]:
    out = {}
    for root, _, names in os.walk(os.path.join(mt.root, "data")):
        for name in names:
            path = os.path.join(root, name)
            out[path] = os.path.getsize(path)
    return out


def _figures(mt, spans, user_bytes, written) -> dict:
    live = mt.planned_files()
    data_dir = os.path.join(mt.root, "data")
    live_bytes = sum(_dir_bytes(os.path.join(data_dir, f)) for f in live)
    writes = [r["s"] for r in spans.of_side("write")]
    reads = [r["s"] for r in spans.of_side("read")]
    commit_tail, commit_pct, n_commit = common.tail(writes)
    read_tail, read_pct, n_read = common.tail(reads)
    return {
        "lake.commit_p50_s": common.p50(writes),
        "lake.commit_tail_s": commit_tail,
        "lake.commit_tail_pct": commit_pct,
        "lake.commit_n": n_commit,
        "lake.read_p50_s": common.p50(reads),
        "lake.read_tail_s": read_tail,
        "lake.read_tail_pct": read_pct,
        "lake.read_n": n_read,
        "lake.stored_bytes_per_live_byte": _dir_bytes(data_dir) / live_bytes if live_bytes else None,
        "lake.live_files": len(live),
        "lake.user_bytes": user_bytes,
        "lake.bytes_written": written,
    }


def layer_metrics(res, folded) -> dict:
    """Per-layer figures for the ``lake`` artifact."""
    spans = res["spans"]
    extra = res["extra"]
    out = {}
    for kind, name in (("upsert", "upsert_s"), ("delete", "delete_s"),
                       ("append", "append_s"), ("compact", "compact_s")):
        out[f"sources.manifest_table.{name}"] = common.p50(
            [r["s"] for r in spans.of(f"manifest_table.write.{kind}")]
        )
    for kind, name in (("point", "read_point_s"), ("pruned", "read_pruned_s"),
                       ("version", "read_version_s"), ("changes", "changes_s")):
        out[f"sources.manifest_table.{name}"] = common.p50(
            [r["s"] for r in spans.of(f"manifest_table.read.{kind}")]
        )
    writes, reads = spans.of_side("write"), spans.of_side("read")
    out["sources.manifest_table.jobs_per_commit"] = common.p50([r.get("jobs", 0) for r in writes])
    out["sources.manifest_table.commit_retries"] = (res.get("context") or {}).get("commit_conflicts") or 0
    out["sources.manifest_table.bytes_written_per_user_byte"] = (
        extra["lake.bytes_written"] / extra["lake.user_bytes"] if extra["lake.user_bytes"] else None
    )
    planned = [r["planned_frac"] for r in reads if r.get("planned_frac") is not None]
    out["sources.manifest_table.files_planned_frac"] = common.p50(planned)
    out["sources.manifest_table.live_files"] = extra["lake.live_files"]
    out["sources.fsio.calls_per_commit"] = common.p50([r.get("fsio", 0) for r in writes])
    out["sources.fsio.calls_per_read"] = common.p50([r.get("fsio", 0) for r in reads])
    for group in ("manifest_table.write", "manifest_table.read"):
        m = common.merge_groups(folded, group)
        for k in ("cpu_ms", "gc_ms", "shuffle_bytes", "spill_bytes", "max_task_ms"):
            out[f"{group}.{k}"] = m[k]
    return out
