"""Unit tests for custom operator kernels (the rows-only queries) over tiny
controlled inputs — asof, graph fixpoint, LSH recall, simhash, multimodal
batch shape."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from geospatial_data_lake_spark import load_all_queries
from geospatial_data_lake_spark.operators.asof import asof_join
from geospatial_data_lake_spark.operators.graph import reachable
from geospatial_data_lake_spark.operators.multimodal import (
    decode_bmp,
    demux_ppm_container,
    synth_bmp,
    synth_ppm_container,
)


def should_asof_join_pick_latest_strictly_before(spark):
    left = spark.createDataFrame(
        [
            (1, "k", datetime(2026, 1, 1, 10, 0, 0)),
            (2, "k", datetime(2026, 1, 1, 12, 0, 0)),
            (3, "k", datetime(2026, 1, 1, 9, 0, 0)),  # before any right row
        ],
        "left_id int, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, "k", datetime(2026, 1, 1, 9, 30, 0)),
            (200, "k", datetime(2026, 1, 1, 10, 0, 0)),  # == left 1 ts: excluded
            (300, "k", datetime(2026, 1, 1, 11, 59, 59)),
        ],
        "right_id int, k string, rts timestamp",
    )
    out = {
        r.left_id: r.asof_right_id
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            right_value_cols=["right_id"], strict=True,
        ).collect()
    }
    assert out == {1: 100, 2: 300, 3: None}


def should_asof_join_break_ts_ties_deterministically_and_atomically(spark):
    """Two right rows share (key, ts): the greater right_order id must win,
    and a NULL field in the winning row must NOT splice a value from the
    losing row (the matched row is carried as one struct)."""
    left = spark.createDataFrame(
        [(1, "k", datetime(2026, 1, 1, 12, 0, 0))],
        "left_id int, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (100, "k", datetime(2026, 1, 1, 11, 0, 0), "older"),
            (300, "k", datetime(2026, 1, 1, 11, 0, 0), None),  # winner: id 300
        ],
        "right_id int, k string, rts timestamp, label string",
    )
    row = asof_join(
        left, right, on=["k"], left_ts="ts", right_ts="rts",
        right_value_cols=["right_id", "label"], strict=True,
        right_order="right_id",
    ).collect()[0]
    assert row.asof_right_id == 300
    # row 300's label is NULL — must stay NULL, not borrow 'older' from 100
    assert row.asof_label is None


def should_reach_fixpoint_with_cycles(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("x", "y")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    nodes = {r.node for r in reachable(edges, seeds).collect()}
    assert nodes == {"a", "b", "c", "d"}


def should_residual_ivfpq_beat_raw_codes_at_equal_bits(spark, sf_dir):
    """The classic-IVFPQ claim, audited two ways at identical
    bits/probe budget: (a) residual-trained PQ codebooks must quantize
    with LOWER mean squared reconstruction error than raw-vector
    codebooks (residuals cluster around the origin, so the same 8 bits
    cover a smaller spread), and (b) ss07's exact-L2 top-3 recall must
    be at least ss06's.  (No absolute recall bar: 2-bit-per-subspace
    codes on an isotropic synthetic corpus are deliberately tiny — the
    audit is the residual-vs-raw DELTA, not usability of 8-bit codes.)"""
    import numpy as np

    from geospatial_data_lake_spark.operators.clustering import (
        _PQ_ITERS,
        _PQ_K,
        _PQ_M,
        _PQ_SUB,
        _cent_array_for,
        kmeans_fit,
    )

    registry = load_all_queries()
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    fin, coarse = kmeans_fit(e)
    res_corpus = fin.select(
        "vec_id",
        F.zip_with(
            "v", _cent_array_for(F.col("cid"), coarse), lambda x, y: x - y
        ).alias("v"),
    )

    def quant_mse(corpus):
        # sum over subspaces of the mean squared distance to the chosen
        # codeword = the PQ reconstruction error at m*log2(k) bits
        total = 0.0
        for j in range(_PQ_M):
            em = corpus.select(
                "vec_id", F.slice("v", j * _PQ_SUB + 1, _PQ_SUB).alias("v")
            )
            fj, _ = kmeans_fit(em, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_SUB)
            total += fj.agg(F.avg("dist")).collect()[0][0]
        return total

    mse_raw = quant_mse(e)
    mse_res = quant_mse(res_corpus)
    assert mse_res < mse_raw, f"residual MSE {mse_res} >= raw {mse_raw}"

    emb = {
        int(r.vec_id): np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    exact_pairs = set()
    for q in range(5):
        dists = sorted(
            (float(np.sum((emb[q] - v) ** 2)), c)
            for c, v in emb.items()
            if c != q
        )
        exact_pairs |= {(q, c) for _d, c in dists[:3]}

    def pairs(name):
        return {
            (r.q_id, r.c_id) for r in registry[name].fn(spark, sf_dir).collect()
        }

    raw = len(exact_pairs & pairs("ss06_ivfpq_search")) / len(exact_pairs)
    res = len(exact_pairs & pairs("ss07_ivfpq_residual_search")) / len(
        exact_pairs
    )
    assert res >= raw, f"residual recall {res} < raw recall {raw}"


def should_serve_ivfpq_from_partition_pruned_index_store(spark, sf_dir, tmp_path):
    """The persisted index's inverted lists are lake-table PARTITIONS:
    a single-cell probe must plan a strict subset of the index files
    (manifest partition pruning, not a post-scan filter), and the
    stored model must round-trip exactly."""
    from geospatial_data_lake_spark.operators.clustering import (
        build_ivfpq_index,
        load_ivfpq_model,
    )

    codes, model = build_ivfpq_index(spark, sf_dir, str(tmp_path / "idx"))
    all_files = set(codes.planned_files())
    probed = set(codes.planned_files(where={"cid": 0}))
    assert probed and probed < all_files, (len(probed), len(all_files))
    # every stored row belongs to the probed cell — pruning is exact
    assert codes.read(where={"cid": 0}).filter(F.col("cid") != 0).count() == 0
    coarse, per_sub = load_ivfpq_model(model)
    assert len(coarse) > 0 and all(len(c) == 64 for c in coarse.values())
    assert len(per_sub) == 4 and all(len(cw) == 16 for d in per_sub for cw in d.values())


def should_lsh_ann_recall_match_bruteforce(spark, sf_dir):
    """ss02 (LSH ANN) must recover most of ss01's exact top-3 neighbors."""
    registry = load_all_queries()
    exact = registry["ss01_cosine_topk"].fn(spark, sf_dir).collect()
    approx = registry["ss02_lsh_ann_topk"].fn(spark, sf_dir).collect()
    exact_pairs = {(r.q_id, r.c_id) for r in exact}
    approx_pairs = {(r.q_id, r.c_id) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def should_ivf_ann_recall_match_bruteforce(spark, sf_dir):
    """ss03 (IVF ANN) must recover most of ss01's exact top-3 neighbors."""
    registry = load_all_queries()
    exact = registry["ss01_cosine_topk"].fn(spark, sf_dir).collect()
    approx = registry["ss03_ivf_ann_topk"].fn(spark, sf_dir).collect()
    exact_pairs = {(r.q_id, r.c_id) for r in exact}
    approx_pairs = {(r.q_id, r.c_id) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def should_simhash_agree_on_identical_docs(spark):
    """Identical token streams must land at Hamming distance 0."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    # reuse the registered query logic by monkey-loading a Tables stand-in
    from geospatial_data_lake_spark.operators import dedup

    import geospatial_data_lake_spark.operators.dedup as dmod

    class FakeTables:
        documents = docs

    orig = dmod.tables
    dmod.tables = lambda spark, sf_dir: FakeTables()
    try:
        rows = dedup.dd05_simhash_pairs(spark, "ignored").collect()
    finally:
        dmod.tables = orig
    pairs = {(r.d1, r.d2): r.hamming for r in rows}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def should_decode_bmp_payloads_faithfully():
    """The BMP decoder must undo all three storage transforms (bottom-up
    rows, BGR order, pad stride) and recover the exact logical pixel
    array, for every width class incl. ones needing row padding."""
    import numpy as np

    for doc_id in range(20):  # widths 1..16: strides with 0..3 pad bytes
        w, h, arr = decode_bmp(synth_bmp(doc_id))
        assert (w, h) == (1 + doc_id % 16, 4)
        want = np.array(
            [(doc_id * 37 + k) % 256 for k in range(w * h * 3)], dtype=np.uint8
        ).reshape(h, w, 3)
        assert (arr == want).all()

    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_bmp(b"XX" + synth_bmp(1)[2:])  # bad magic
    with _pytest.raises(ValueError):
        decode_bmp(synth_bmp(3)[:-5])  # truncated raster


def should_demux_ppm_container_frame_by_frame():
    """The demuxer must walk variable-length frame boundaries exactly:
    each frame's offset, dimensions, and pixel content match the
    synthesis pattern, and a corrupted mid-container frame raises."""
    import numpy as np

    for doc_id in (0, 5, 11):
        payload = synth_ppm_container(doc_id)
        frames = list(demux_ppm_container(payload))
        assert len(frames) == 2 + doc_id % 7
        expect_off = 0
        for idx, off, w, h, arr in frames:
            assert off == expect_off
            assert (w, h) == (1 + (doc_id + idx) % 8, 2)
            want = np.array(
                [(doc_id * 31 + idx * 17 + i) % 256 for i in range(w * h * 3)],
                dtype=np.uint8,
            ).reshape(h, w, 3)
            assert (arr == want).all()
            expect_off = off + 11 + w * h * 3
        assert expect_off == len(payload)  # container fully consumed

    import pytest as _pytest

    broken = bytearray(synth_ppm_container(5))
    # clobber the 2nd frame's magic (1st frame: 11-byte header + 6*2*3
    # raster = 47 bytes)
    broken[47:49] = b"XX"
    with _pytest.raises(ValueError):
        list(demux_ppm_container(bytes(broken)))


def should_decode_features_have_stable_schema(spark, sf_dir):
    registry = load_all_queries()
    df = registry["mm02_decode_features"].fn(spark, sf_dir)
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "n_bytes", "mime", "width", "height", "channels", "mean_px",
    ]
    rows = df.limit(5).collect()
    assert all(r.mime == "image/bmp" for r in rows)


def should_entry_run_and_return_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def should_every_query_have_unique_aliased_columns(spark):
    """Guards the driver contract: no duplicate/auto-generated col names."""
    registry = load_all_queries()
    for name, spec in registry.items():
        cols = spec.fn(spark, "/root/testdata/sf0.001").columns
        assert len(cols) == len(set(cols)), f"{name} has duplicate columns"
        for c in cols:
            assert "(" not in c, f"{name} has unaliased column {c!r}"


def should_sketch_percentiles_be_within_tolerance_of_exact(spark, sf_dir):
    """Independent recomputation of a14's bound: approx_percentile vs
    exact percentile straight off the table (not trusting the query's own
    boolean plumbing), plus the published booleans must all hold."""
    from pyspark.sql import functions as F

    from geospatial_data_lake_spark.tables import tables

    registry = load_all_queries()
    rows = registry["a14_sketch_percentiles"].fn(spark, sf_dir).collect()
    assert rows and all(
        r.p50_within_bound and r.p95_within_bound and r.p99_within_bound
        for r in rows
    ), rows
    both = (
        tables(spark, sf_dir)
        .lineitem.groupBy("l_returnflag")
        .agg(
            F.expr(
                "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 10000)"
            ).alias("a"),
            F.expr("percentile(l_extendedprice, array(0.5, 0.95, 0.99))").alias("e"),
        )
        .collect()
    )
    for r in both:
        for got, want in zip(r.a, r.e):
            assert abs(got - want) <= 0.02 * max(1.0, abs(want)), (r.l_returnflag, got, want)


def should_hll_sketch_estimates_be_within_two_percent(spark, sf_dir):
    """Independent recomputation of a15's bound: hll_sketch_estimate vs
    exact distincts straight off the table, plus the published exact
    counts and booleans must agree with the independent computation."""
    from pyspark.sql import functions as F

    from geospatial_data_lake_spark.tables import tables

    registry = load_all_queries()
    rows = registry["a15_hll_sketch_partitioned"].fn(spark, sf_dir).collect()
    assert rows and all(r.within_bound and r.rollup_within_bound for r in rows)
    exact_all = (
        tables(spark, sf_dir).documents.select(F.md5("text")).distinct().count()
    )
    assert all(r.exact_all == exact_all for r in rows)
    est_all = (
        tables(spark, sf_dir)
        .documents.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg(F.md5("text"), 14)).alias("e")
        )
        .collect()[0]
        .e
    )
    assert abs(est_all - exact_all) <= 0.02 * exact_all + 2, (est_all, exact_all)
    exact_per = {
        r.source: r.n
        for r in tables(spark, sf_dir)
        .documents.groupBy("source")
        .agg(F.countDistinct(F.md5("text")).alias("n"))
        .collect()
    }
    for r in rows:
        assert r.exact_distinct_docs == exact_per[r.source]


def should_pagerank_conserve_mass_and_rank_hubs_first(spark):
    from pyspark.sql import functions as F

    from geospatial_data_lake_spark.operators.graph import pagerank

    # star: every spoke links to the hub; hub links to one spoke
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 10)] + [(0, 1)], "src long, dst long"
    )
    ranks = pagerank(edges, iterations=15)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-6
    top = ranks.orderBy(F.col("rank").desc()).first()
    assert top.node == 0  # the hub dominates


def should_decode_ppm_payloads_faithfully():
    """mm04's codec is REAL — verify it against hand-crafted P6 payloads
    (comment + mixed-whitespace header) and reject malformed input."""
    import numpy as np
    import pytest

    from geospatial_data_lake_spark.operators.multimodal import decode_ppm, synth_ppm

    crafted = b"P6\n# a comment\n  2\t3\n255\n" + bytes(range(18))
    w, h, arr = decode_ppm(crafted)
    assert (w, h) == (2, 3)
    assert arr.shape == (3, 2, 3) and arr.dtype == np.uint8
    assert arr[0, 0, 0] == 0 and arr[2, 1, 2] == 17  # raster order preserved

    w2, h2, a2 = decode_ppm(synth_ppm(21))
    assert (w2, h2) == (1 + 21 % 16, 4)
    assert int(a2.reshape(-1)[0]) == (21 * 31) % 256

    with pytest.raises(ValueError):
        decode_ppm(b"P5\n2 2\n255\n" + bytes(4))  # wrong magic (grayscale)
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2")  # truncated header
    with pytest.raises(ValueError):
        decode_ppm(b"P6\n2 2\n65535\n" + bytes(24))  # 16-bit unsupported


def should_decode_wav_payloads_faithfully():
    """mm05's RIFF/WAVE decoder: chunk-walk correctness (extra chunks,
    word alignment) and format rejection."""
    import struct

    import pytest

    from geospatial_data_lake_spark.operators.multimodal import decode_wav, synth_wav

    rate, x = decode_wav(synth_wav(26))
    assert rate == 16000 and len(x) == 64 + 26 % 64
    assert int(x[0]) == ((26 * 7) % 4096) - 2048

    # real files interleave other chunks (LIST) and odd-sized chunks are
    # word-aligned — the walker must skip both
    data = struct.pack("<4h", 1, -2, 3, -4)
    wav = b"".join([
        b"RIFF", struct.pack("<I", 0), b"WAVE",
        b"LIST", struct.pack("<I", 5), b"INFOx", b"\x00",  # odd size + pad
        b"fmt ", struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16),
        b"data", struct.pack("<I", len(data)), data,
    ])
    rate2, x2 = decode_wav(wav)
    assert rate2 == 8000 and list(x2) == [1, -2, 3, -4]

    with pytest.raises(ValueError):
        decode_wav(b"OggS" + bytes(40))  # wrong container
    stereo = b"".join([
        b"RIFF", struct.pack("<I", 0), b"WAVE",
        b"fmt ", struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16),
        b"data", struct.pack("<I", 4), bytes(4),
    ])
    with pytest.raises(ValueError):
        decode_wav(stereo)  # stereo unsupported


def should_derive_ngrams_from_short_documents_without_crashing(spark):
    """Documents shorter than the gram width must yield ZERO grams —
    sequence(1, 0) in Spark is the DESCENDING [1, 0], and slice(tk, 0,
    n) throws; the _gram_starts guard makes the position list empty
    (matching DuckDB's empty generate_series(1, 0))."""
    from pyspark.sql import functions as F

    from geospatial_data_lake_spark.operators.textops import (
        gram_starts as _gram_starts,
    )

    df = spark.createDataFrame(
        [("one two three four five",), ("one two",), ("one",), ("",)],
        "text string",
    )
    tk = F.split(F.col("text"), " ")
    grams = df.select(
        F.transform(
            _gram_starts(tk, 5),
            lambda p: F.concat_ws(" ", F.slice(tk, p, 5)),
        ).alias("g")
    ).collect()
    assert [len(r.g) for r in grams] == [1, 0, 0, 0]
    # bigram variant (rp01's shape): a 1-token doc has no bigrams
    bi = df.select(
        F.transform(
            _gram_starts(tk, 2), lambda p: F.concat_ws(" ", F.slice(tk, p, 2))
        ).alias("g")
    ).collect()
    assert [len(r.g) for r in bi] == [4, 1, 0, 0]


def should_decode_png_payloads_faithfully():
    """mm06's codec is REAL — every synth payload (which cycles all
    five PNG filter types across scanlines) must round-trip to the
    exact linear pixel pattern, and structural corruption must raise,
    never silently zero."""
    import pytest

    from geospatial_data_lake_spark.operators.multimodal import (
        _BPP,
        decode_png,
        synth_png,
    )

    for doc_id in (0, 3, 9, 42, 117):
        w, h, n_chunks, px = decode_png(synth_png(doc_id))
        assert (w, h, n_chunks) == (1 + doc_id % 8, 5, 3)
        assert px == bytes(
            (doc_id * 17 + i) % 256 for i in range(w * h * _BPP)
        )
    good = synth_png(9)
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"NOTAPNG" + good)
    corrupt = bytearray(good)
    corrupt[len(good) // 2] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(ValueError):
        decode_png(bytes(corrupt))


def should_kmeans_fit_match_numpy_lloyd_reference(spark):
    """kmeans_fit replays exactly: deterministic lowest-id seeding, 9-dp
    rounded distances with (dist, cid) tie-breaks, 6-dp rounded centroid
    updates — so an independent numpy implementation of the same
    schedule must reproduce identical assignments and centroids."""
    import numpy as np

    from geospatial_data_lake_spark.operators.clustering import kmeans_fit

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 4)).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")

    k, iters = 3, 2
    fin, cents = kmeans_fit(e, k=k, iters=iters, dim=4)

    # independent reference of the same fixed schedule
    ref = {i: vecs[i].astype(float).copy() for i in range(k)}
    assign = None
    for _ in range(iters + 1):  # iters updates + final assignment
        assign = {}
        for i in range(40):
            best = min(
                (round(float(((vecs[i] - c) ** 2).sum()), 9), cid)
                for cid, c in sorted(ref.items())
            )
            assign[i] = best[1]
        new = {}
        for cid in set(assign.values()):
            members = np.stack([vecs[i] for i in assign if assign[i] == cid])
            new[cid] = np.round(members.mean(axis=0), 6)
        ref, last = new, ref
    # the spark side reports the assignment under the post-update
    # centroids of round `iters`; our loop ran one extra assignment
    got = {int(r.vec_id): int(r.cid) for r in fin.select("vec_id", "cid").collect()}
    assert got == assign
    for cid, cv in cents.items():
        np.testing.assert_allclose(np.array(cv), np.array(last[cid]), atol=1e-9)


def should_detect_planted_cross_batch_duplicate_in_dd09(spark, tmp_path):
    """A near-identical document pair split across the batch (% 13 == 0)
    and corpus sides must surface; an unrelated document must not."""
    import os

    rows = [
        (13, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 10),
        (7, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 10),
        (8, "one two three four five six seven eight nine ten", "en", "s", 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    from geospatial_data_lake_spark.registry import load_all_queries

    got = {
        (r.new_id, r.old_id, r.jaccard)
        for r in load_all_queries()["dd09_incremental_dedup"]
        .fn(spark, sf)
        .collect()
    }
    assert got == {(13, 7, 1.0)}


def should_cut_dd09_candidates_losslessly_with_prefix_filter(spark):
    """The size-ratio + PPJoin prefix prefilters must (a) shrink the
    candidate-pair set on a mixed-length fixture and (b) never cut a
    pair the exact verify would keep — checked against brute force over
    ALL pairs."""
    from geospatial_data_lake_spark.operators.dedup import (
        _jaccard_size_ratio_ok,
        _ppjoin_prefix_overlap,
    )

    words = [f"w{i}" for i in range(40)]
    rows = []
    # overlapping prefixes of one vocabulary: many sub-threshold pairs
    # with varied sizes, plus one genuinely >= 0.8 pair (sizes 19/20)
    for i, n in enumerate([3, 5, 8, 12, 19, 20, 30, 40]):
        rows.append((i, " ".join(words[:n])))
    # and one disjoint-vocabulary doc (prefilter should drop instantly)
    rows.append((8, " ".join(f"z{i}" for i in range(20))))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashed = df.select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.transform(F.split("text", " "), lambda w: F.xxhash64(w))
            )
        ).alias("h"),
    )
    a = hashed.select(F.col("doc_id").alias("ida"), F.col("h").alias("h1"))
    b = hashed.select(F.col("doc_id").alias("idb"), F.col("h").alias("h2"))
    allp = a.crossJoin(b).filter(F.col("ida") < F.col("idb"))
    common = F.size(F.array_intersect("h1", "h2"))
    jacc = common / (F.size("h1") + F.size("h2") - common)

    brute = {
        (r.ida, r.idb)
        for r in allp.filter(jacc >= 0.8).select("ida", "idb").collect()
    }
    cand = allp.filter(
        _jaccard_size_ratio_ok("h1", "h2", num=4, den=5)
    ).filter(_ppjoin_prefix_overlap("h1", "h2", num=4, den=9))
    kept = {(r.ida, r.idb) for r in cand.select("ida", "idb").collect()}
    filtered = {
        (r.ida, r.idb)
        for r in cand.filter(jacc >= 0.8).select("ida", "idb").collect()
    }
    n_all = allp.count()
    assert filtered == brute == {(4, 5)}  # lossless
    assert len(kept) < n_all / 3, (len(kept), n_all)  # and a real cut


def should_recover_exact_maximal_spans_in_dd10(spark, tmp_path):
    """Two documents sharing a verbatim 15-token run (at different
    offsets) must yield exactly that span in each doc — maximal, with
    the right window count — and a disjoint doc must yield nothing."""
    import os

    shared = " ".join(f"s{i}" for i in range(15))  # 15-token shared run
    rows = [
        (1, "a1 a2 a3 " + shared + " a4 a5", "en", "s", 10),
        (2, shared + " b1 b2 b3 b4 b5 b6 b7", "en", "s", 10),
        (3, " ".join(f"z{i}" for i in range(30)), "en", "s", 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    from geospatial_data_lake_spark.registry import load_all_queries

    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_windows)
        for r in load_all_queries()["dd10_substring_spans"].fn(spark, sf).collect()
    }
    # 15-token shared run, W=12 -> 4 consecutive windows, merged to one
    # span covering exactly the shared tokens (1-based positions).
    assert got == {(1, 4, 18, 15, 4), (2, 1, 15, 15, 4)}


def should_apply_bpe_merge_greedy_left_to_right(spark):
    """The merge fold must walk left-to-right non-overlapping: a symbol
    just produced by a merge cannot be the 'a' of the next one."""
    from geospatial_data_lake_spark.operators.textops import _bpe_apply_merge

    df = spark.createDataFrame(
        [("aaa", 1), ("aabab", 1), ("b", 1)], "word string, freq long"
    )
    s = df.select(
        "word",
        "freq",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("syms"),
    )
    got = {r.word: r.syms for r in _bpe_apply_merge(s, "a", "a").collect()}
    assert got["aaa"] == ["aa", "a"]
    assert got["aabab"] == ["aa", "b", "a", "b"]
    assert got["b"] == ["b"]
    got2 = {r.word: r.syms for r in _bpe_apply_merge(s, "a", "b").collect()}
    assert got2["aabab"] == ["a", "ab", "ab"]


def should_tokenize_second_corpus_against_persisted_vocab(spark, tmp_path):
    """Train-once / apply-many: a vocab persisted from corpus A must
    tokenize a DIFFERENT corpus B by reading the stored table alone —
    no retraining — and agree with applying the in-memory trained vocab
    directly."""
    from geospatial_data_lake_spark.operators.textops import (
        persist_bpe_vocab,
        tokenize_with_vocab,
        train_bpe_vocab,
    )
    from geospatial_data_lake_spark.sources.manifest_table import (
        ManifestTable,
    )

    corpus_a = spark.createDataFrame(
        [(1, "abab abba baba"), (2, "abab abab cc"), (3, "cc abba")],
        "doc_id long, text string",
    )
    root = str(tmp_path / "vocab")
    persist_bpe_vocab(spark, corpus_a, root)

    # A fresh handle opened from disk — nothing but the stored table.
    stored = ManifestTable(
        spark,
        root,
        key_cols=["word"],
        partition_by=["wb"],
        partition_transforms={"wb": ("bucket", "word", 8)},
    )
    corpus_b = spark.createDataFrame(
        [(10, "abba abab"), (11, "cc cc abab baba")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.chars_per_token)
        for r in tokenize_with_vocab(corpus_b, stored.read()).collect()
    }
    want = {
        r.doc_id: (r.n_words, r.n_tokens, r.chars_per_token)
        for r in tokenize_with_vocab(
            corpus_b, train_bpe_vocab(corpus_a)
        ).collect()
    }
    assert got == want and set(got) == {10, 11}
    # every word of corpus B was coverable by A's vocab (join is inner)
    assert sum(w for w, _t, _c in got.values()) == 6


def should_find_planted_duplicate_via_band_index_in_dd11(spark, tmp_path):
    """The index-probe path must find the same cross-batch near-dup the
    scan path (dd09) finds, and nothing else."""
    import os

    rows = [
        (13, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 10),
        (7, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 10),
        (8, "one two three four five six seven eight nine ten", "en", "s", 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    from geospatial_data_lake_spark.registry import load_all_queries

    got = {
        (r.new_id, r.old_id, r.jaccard)
        for r in load_all_queries()["dd11_indexed_incremental_dedup"]
        .fn(spark, sf)
        .collect()
    }
    assert got == {(13, 7, 1.0)}


def should_fold_arrow_norms_with_empty_vectors(spark):
    """The mapInArrow kernel must survive zero-length embeddings (the
    reduceat empty-segment trap) and keep exact norms around them."""
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, []), (3, [5.0, 12.0])],
        "vec_id long, embedding array<float>",
    )
    from geospatial_data_lake_spark.operators.udafs import _arrow_batch_norms

    out = {
        r.vec_id: (r.n_dims, r.l2_norm)
        for r in df.mapInArrow(
            _arrow_batch_norms,
            schema="vec_id bigint, n_dims int, l2_norm double",
        ).collect()
    }
    assert out == {1: (2, 5.0), 2: (0, 0.0), 3: (2, 13.0)}


def should_dispatch_incremental_path_by_measured_regime(spark, sf_dir, tmp_path):
    """choose_incremental_path must pick the corpus-scan verify on the
    near-dup-saturated fixture corpus and the band-index probe on a
    sparse (disjoint-vocabulary) synthetic corpus — and dd12 must emit
    the identical pair set either way."""
    import os

    from geospatial_data_lake_spark.operators.dedup import (
        choose_incremental_path,
    )
    from geospatial_data_lake_spark.registry import load_all_queries
    from geospatial_data_lake_spark.tables import tables

    # fixture corpus: background Jaccard ~0.58 -> saturated -> scan
    corpus = tables(spark, sf_dir).documents.filter(F.col("doc_id") % 13 != 0)
    assert choose_incremental_path(corpus) == "scan"

    # sparse corpus: disjoint vocabularies except one planted near-dup
    # crossing the batch (% 13 == 0) / corpus split -> index
    rows = [
        (
            i,
            " ".join(f"w{i}_{j}" for j in range(12)),
            "en",
            "s",
            10,
        )
        for i in range(1, 40)
        if i != 13
    ]
    planted = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows += [(13, planted, "en", "s", 10), (7, planted, "en", "s", 10)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sparse_sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    sparse_corpus = tables(spark, sf).documents.filter(F.col("doc_id") % 13 != 0)
    assert choose_incremental_path(sparse_corpus) == "index"

    # both physical paths and the dispatcher agree on the sparse corpus
    q = load_all_queries()
    want = {(13, 7, 1.0)}
    for name in (
        "dd09_incremental_dedup",
        "dd11_indexed_incremental_dedup",
        "dd12_dispatched_incremental",
    ):
        got = {
            (r.new_id, r.old_id, r.jaccard)
            for r in q[name].fn(spark, sf).collect()
        }
        assert got == want, name


def should_match_window_path_with_salted_skew_escalation_in_dd10(spark):
    """dd10's skew escalation (salted (h, salt) min/max pre-pass +
    broadcast semi-join) must produce the identical duplicated-window
    hit set as the default hash-keyed window on a corpus with a planted
    hot hash (one boilerplate window shared by every document), and its
    plan must carry the salted pre-aggregation instead of a window
    exchange on h."""
    from geospatial_data_lake_spark.operators.dedup import (
        _dd10_hits,
        _dd10_windows,
    )

    boiler = " ".join(f"b{i}" for i in range(12))  # hot 12-token window
    rows = [
        (i, boiler + " " + " ".join(f"u{i}_{j}" for j in range(20)), "en", "s", 1)
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    wins = _dd10_windows(docs)
    base = {(r.doc_id, r.p) for r in _dd10_hits(wins).collect()}
    salted = {(r.doc_id, r.p) for r in _dd10_hits(wins, skew_safe=True).collect()}
    assert salted == base
    assert len(base) == 60  # exactly the planted boilerplate window per doc

    plan = _dd10_hits(wins, skew_safe=True)._jdf.queryExecution().executedPlan().toString()
    assert "__salt" in plan  # salted pre-pass present
    assert "Window" not in plan  # no hash-keyed window funnel


def should_cut_exact_duplicated_spans_in_dd13(spark, tmp_path):
    """The removal writer must cut exactly the duplicated span from both
    documents (keeping everything else, order preserved) and leave the
    disjoint document untouched."""
    import os

    shared = " ".join(f"s{i}" for i in range(15))
    rows = [
        (1, "a1 a2 a3 " + shared + " a4 a5", "en", "s", 10),
        (2, shared + " b1 b2 b3 b4 b5 b6 b7", "en", "s", 10),
        (3, " ".join(f"z{i}" for i in range(30)), "en", "s", 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    from geospatial_data_lake_spark.registry import load_all_queries

    got = {
        r.doc_id: (r.total_tokens, r.kept_tokens, r.cleaned_text)
        for r in load_all_queries()["dd13_substring_removal"].fn(spark, sf).collect()
    }
    assert got[1] == (20, 5, "a1 a2 a3 a4 a5")
    assert got[2] == (22, 7, "b1 b2 b3 b4 b5 b6 b7")
    assert got[3] == (30, 30, " ".join(f"z{i}" for i in range(30)))


def should_maintain_persisted_ivfpq_index_incrementally(spark, sf_dir, tmp_path):
    """Index maintenance without retraining: new vectors encode against
    the STORED model and MERGE into their inverted-list partitions;
    re-sending the batch leaves the table state unchanged; the stored
    rows equal the encoder's output exactly (persist/reload is
    lossless)."""
    from geospatial_data_lake_spark.operators.clustering import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        encode_with_ivfpq_model,
        load_ivfpq_model,
    )

    codes, model = build_ivfpq_index(spark, sf_dir, str(tmp_path / "idx"))
    n0 = codes.read().count()

    # the "new crawl": copies of existing vectors under fresh ids, so
    # their expected codes are known-good by construction
    batch = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("vec_id") < 6)
        .select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )
    append_to_ivfpq_index(codes, model, batch)
    got = {
        r.vec_id: (r.cid, r.code0, r.code1, r.code2, r.code3)
        for r in codes.read().filter(F.col("vec_id") >= 100000).collect()
    }
    coarse, per_sub = load_ivfpq_model(model)
    want = {
        r.vec_id: (r.cid, r.code0, r.code1, r.code2, r.code3)
        for r in encode_with_ivfpq_model(batch, coarse, per_sub).collect()
    }
    assert got == want and len(got) == 6
    assert codes.read().count() == n0 + 6
    # a copied vector must share its original's cell and codes
    orig = {
        r.vec_id: (r.cid, r.code0, r.code1, r.code2, r.code3)
        for r in codes.read().filter(F.col("vec_id") < 6).collect()
    }
    assert all(got[k + 100000] == orig[k] for k in orig)

    # idempotent re-send: same rows in, same table state out
    state_before = sorted(map(tuple, codes.read().collect()))
    append_to_ivfpq_index(codes, model, batch)
    assert sorted(map(tuple, codes.read().collect())) == state_before


def should_cache_persist_then_serve_stores_per_session(spark, sf_dir):
    """Persist-then-serve caches (_IVFPQ_STORE, _BPE_VOCAB_STORE) are
    keyed on the SESSION OBJECT with weak references — repeat calls in
    one session reuse the stored table (no retraining, no temp-table
    leak per call), while a different session gets its own entry:
    id(spark) reuse after GC must never serve a dead session's index."""
    from geospatial_data_lake_spark.operators.clustering import (
        _IVFPQ_STORE,
        _ivfpq_store,
    )
    from geospatial_data_lake_spark.operators.textops import (
        _BPE_VOCAB_STORE,
        _bpe_vocab_store,
    )

    vocab = _bpe_vocab_store(spark, sf_dir)
    assert _bpe_vocab_store(spark, sf_dir) is vocab  # cached, no retrain
    idx = _ivfpq_store(spark, sf_dir)
    assert _ivfpq_store(spark, sf_dir) is idx

    # an isolated session (same JVM context, distinct session object)
    # must not observe the first session's entries
    other = spark.newSession()
    try:
        assert other not in _BPE_VOCAB_STORE
        assert other not in _IVFPQ_STORE
        assert _bpe_vocab_store(other, sf_dir) is not vocab
    finally:
        # weak keys: dropping the session handle lets the entry die
        _BPE_VOCAB_STORE.pop(other, None)
        _IVFPQ_STORE.pop(other, None)


def should_delete_from_ivfpq_index_and_validate_build_stamps(
    spark, sf_dir, tmp_path
):
    """ANN index lifecycle beyond add: (a) delete removes vectors IN
    INDEX TERMS — an equality-delete commit on the codes table, so a
    later pruned search read can never surface them as candidates; (b)
    model and codes carry a shared ``ivfpq.build_id`` property and a
    stale/mismatched pairing fails loudly at load instead of silently
    decoding against the wrong codebooks."""
    import pytest

    from geospatial_data_lake_spark.operators.clustering import (
        build_ivfpq_index,
        delete_from_ivfpq_index,
        load_ivfpq_model,
    )

    codes, model = build_ivfpq_index(spark, sf_dir, str(tmp_path / "idx"))
    stamp = codes.properties()["ivfpq.build_id"]
    assert model.properties()["ivfpq.build_id"] == stamp

    # delete two vectors; their cells' pruned reads exclude them
    victims = [int(r.vec_id) for r in codes.read().limit(2).collect()]
    cells = {
        int(r.cid)
        for r in codes.read(
            where={"vec_id": victims}
        ).select("cid").collect()
    }
    delete_from_ivfpq_index(codes, victims)
    survivors = {
        int(r.vec_id)
        for r in codes.read(where={"cid": sorted(cells)}).collect()
    }
    assert not (set(victims) & survivors)
    assert not (
        set(victims)
        & {int(r.vec_id) for r in codes.read().collect()}
    )
    # valid pairing still loads
    coarse, _per_sub = load_ivfpq_model(model, codes=codes)
    assert coarse

    # a retrained model (fresh stamp) against the old codes table raises
    _codes2, model2 = build_ivfpq_index(spark, sf_dir, str(tmp_path / "idx2"))
    model2.set_property("ivfpq.build_id", "deadbeef00000000")
    with pytest.raises(ValueError, match="build stamps disagree"):
        load_ivfpq_model(model2, codes=codes)
    # an unstamped table (e.g. hand-built) also fails against a stamped one
    model.set_property("ivfpq.build_id", "somethingelse123")
    with pytest.raises(ValueError, match="build stamps disagree"):
        load_ivfpq_model(model, codes=codes)


def should_compute_st_functions_against_closed_forms(spark):
    """ST_* scalars vs closed-form geometry: a rhombus with half-extents
    (w, h) has area 2wh, perimeter 4*sqrt(w^2+h^2), centroid at its
    center; st_within holds for the center and fails outside; st_bbox
    is the envelope; st_signed_area keeps CCW orientation positive."""
    import math

    from pyspark.sql import functions as F

    from geospatial_data_lake_spark.functions.geometry import (
        st_area,
        st_bbox,
        st_centroid,
        st_distance,
        st_length,
        st_signed_area,
        st_within,
    )

    rows = [(10.0, -4.0, 3.0, 2.0), (0.0, 0.0, 5.0, 1.0)]
    df = spark.createDataFrame(rows, "ccx double, ccy double, w double, h double")
    # CCW diamond ring (east, north, west, south, close)
    ring = F.array(
        F.struct((F.col("ccx") + F.col("w")).alias("x"), F.col("ccy").alias("y")),
        F.struct(F.col("ccx").alias("x"), (F.col("ccy") + F.col("h")).alias("y")),
        F.struct((F.col("ccx") - F.col("w")).alias("x"), F.col("ccy").alias("y")),
        F.struct(F.col("ccx").alias("x"), (F.col("ccy") - F.col("h")).alias("y")),
        F.struct((F.col("ccx") + F.col("w")).alias("x"), F.col("ccy").alias("y")),
    )
    cx, cy = st_centroid(ring)
    out = df.select(
        "ccx", "ccy", "w", "h",
        st_area(ring).alias("area"),
        st_signed_area(ring).alias("sarea"),
        st_length(ring).alias("perim"),
        cx.alias("cx"), cy.alias("cy"),
        st_within(ring, F.col("ccx"), F.col("ccy")).alias("center_in"),
        st_within(ring, F.col("ccx") + 2 * F.col("w"), F.col("ccy")).alias("far_in"),
        st_bbox(ring).alias("bb"),
        st_distance(F.col("ccx"), F.col("ccy"), F.lit(0.0), F.lit(0.0)).alias("d0"),
    ).collect()
    for r in out:
        assert abs(r.area - 2 * r.w * r.h) < 1e-9
        assert abs(r.sarea - 2 * r.w * r.h) < 1e-9  # CCW: positive
        assert abs(r.perim - 4 * math.hypot(r.w, r.h)) < 1e-9
        assert abs(r.cx - r.ccx) < 1e-9 and abs(r.cy - r.ccy) < 1e-9
        assert r.center_in and not r.far_in
        assert (r.bb.x1, r.bb.y1, r.bb.x2, r.bb.y2) == (
            r.ccx - r.w, r.ccy - r.h, r.ccx + r.w, r.ccy + r.h,
        )
        assert abs(r.d0 - math.hypot(r.ccx, r.ccy)) < 1e-9


def should_fold_degenerate_rings_to_zero_not_raise(spark):
    """0/1-vertex rings must fold to 0.0 and NULL rings to NULL —
    without the _fold_edges guard, sequence(1, size-1) descends
    (e.g. [1, 0]) and element_at(ring, 0) raises at runtime."""
    from pyspark.sql import functions as F

    from geospatial_data_lake_spark.functions.geometry import (
        st_area,
        st_length,
        st_signed_area,
    )

    df = spark.createDataFrame(
        [
            ("empty", []),
            ("single", [(1.0, 2.0)]),
            ("null", None),
        ],
        "name string, ring array<struct<x: double, y: double>>",
    )
    rows = {
        r.name: r
        for r in df.select(
            "name",
            st_area(F.col("ring")).alias("area"),
            st_signed_area(F.col("ring")).alias("sarea"),
            st_length(F.col("ring")).alias("length"),
        ).collect()
    }
    assert rows["empty"].area == 0.0 and rows["empty"].length == 0.0
    assert rows["single"].area == 0.0 and rows["single"].sarea == 0.0
    assert rows["single"].length == 0.0
    assert rows["null"].area is None and rows["null"].length is None

    # the ray cast shares the hazard: degenerate rings contain nothing
    from geospatial_data_lake_spark.operators.geo import point_in_ring

    pin = {
        r.name: r.inside
        for r in df.select(
            "name",
            point_in_ring(F.col("ring"), F.lit(0.5), F.lit(0.5)).alias(
                "inside"
            ),
        ).collect()
    }
    assert pin["empty"] is False and pin["single"] is False
    assert pin["null"] is None


def should_route_oversized_admission_batch_to_band_index(spark, tmp_path):
    """The broadcast-budget guard: with the budget conf squeezed below
    any real batch, dd09 must REFUSE (its plan broadcasts the batch —
    inadmissible past the budget, raising beats an executor OOM) and
    the dd12 dispatcher must auto-route to dd11's band-index probe,
    emitting the identical verified pair set."""
    import os

    from geospatial_data_lake_spark.operators.dedup import (
        _BROADCAST_BUDGET_CONF,
    )
    from geospatial_data_lake_spark.registry import load_all_queries

    planted = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(12)), "en", "s", 10)
        for i in range(1, 40)
        if i != 13
    ] + [(13, planted, "en", "s", 10), (7, planted, "en", "s", 10)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    import pytest

    q = load_all_queries()
    spark.conf.set(_BROADCAST_BUDGET_CONF, "1")  # below any real batch
    try:
        with pytest.raises(ValueError, match="broadcast budget"):
            q["dd09_incremental_dedup"].fn(spark, sf).collect()
        got = {
            (r.new_id, r.old_id, r.jaccard)
            for r in q["dd12_dispatched_incremental"].fn(spark, sf).collect()
        }
        assert got == {(13, 7, 1.0)}  # index path, same verified pairs
    finally:
        spark.conf.unset(_BROADCAST_BUDGET_CONF)
    # budget restored: dd09's scan path is admissible again
    got = {
        (r.new_id, r.old_id, r.jaccard)
        for r in q["dd09_incremental_dedup"].fn(spark, sf).collect()
    }
    assert got == {(13, 7, 1.0)}


def should_reclaim_session_scoped_fixture_dirs():
    """session_tmpdir ties a fixture mkdtemp root's lifetime to its
    SparkSession OBJECT: when the session is garbage-collected the
    weakref finalizer removes the directory (and the atexit sweep
    covers interpreter exit).  Uses a plain stand-in object — the
    contract is object-lifetime, not Spark-specific."""
    import gc
    import os

    from geospatial_data_lake_spark import tables as tb

    class FakeSession:  # weakref-able stand-in
        pass

    s = FakeSession()
    d1 = tb.session_tmpdir(s, "gdl_test_reclaim_")
    d2 = tb.session_tmpdir(s, "gdl_test_reclaim_")
    assert os.path.isdir(d1) and os.path.isdir(d2)
    assert {d1, d2} <= tb._TMP_ROOTS
    del s
    gc.collect()
    assert not os.path.exists(d1) and not os.path.exists(d2)
    assert not ({d1, d2} & tb._TMP_ROOTS)


def should_flag_planted_benchmark_contamination_in_dd14(spark, tmp_path):
    """A corpus doc embedding a benchmark doc's 12-token window
    verbatim must flag contaminated with the exact shared-window count;
    an unrelated doc must not."""
    import os

    bench = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"
    rows = [
        (17, bench, "en", "s", 10),                        # benchmark (%17==0)
        (1, "lead in " + bench + " trailing words", "en", "s", 10),
        (2, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13", "en", "s", 10),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    from geospatial_data_lake_spark.registry import load_all_queries

    got = {
        r.doc_id: (r.contaminated, r.n_shared_ngrams)
        for r in load_all_queries()["dd14_decontamination"].fn(spark, sf).collect()
    }
    # doc 1 contains exactly ONE shared 12-token window (the benchmark
    # text itself); doc 2 shares none; doc 17 is benchmark-side (absent)
    assert got == {1: (True, 1), 2: (False, 0)}


def should_pick_deterministic_hash_prefix_quotas_in_sm05(spark, tmp_path):
    """sm05's mixture cut: per-source integer token quota, documents
    admitted in portable-hash order until the next doc would overflow —
    greedy prefix, no back-fill — and the selection is partitioning-
    invariant (re-running over a repartitioned corpus picks the same
    mix)."""
    import os

    rows = [
        # src3 (suffix % 3 == 0 -> 60% quota), 4 docs x 10 tokens
        *[(i, " ".join(f"a{i}_{j}" for j in range(10)), "en", "src3", 10)
          for i in range(1, 5)],
        # src1 (30% quota), 4 docs x 10 tokens
        *[(i, " ".join(f"b{i}_{j}" for j in range(10)), "en", "src1", 10)
          for i in range(11, 15)],
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    from geospatial_data_lake_spark.registry import load_all_queries

    fn = load_all_queries()["sm05_mixture_quota_sample"].fn
    got = {(r.doc_id, r.source) for r in fn(spark, sf).collect()}
    by_src = {}
    for d, s in got:
        by_src.setdefault(s, set()).add(d)
    # src3: quota = 60% of 40 = 24 tokens -> first 2 docs by hash order
    # src1: quota = 30% of 40 = 12 tokens -> first 1 doc
    assert len(by_src.get("src3", ())) == 2
    assert len(by_src.get("src1", ())) == 1
    # determinism: identical pick from a repartitioned re-run
    df.repartition(7).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    from geospatial_data_lake_spark import tables as tb
    tb._MEMO.pop(spark, None)  # drop the cached table handles for sf
    got2 = {(r.doc_id, r.source) for r in fn(spark, sf).collect()}
    assert got2 == got


def should_recall_most_exact_neighbors_in_ss10_binary_quant(spark, sf_dir):
    """ss10 (binary-quantized ANN) must recover most of ss01's exact
    top-3 — the same bar the LSH and IVF paths meet — with its
    corpus-proportional rerank pool."""
    registry = load_all_queries()
    exact = {(r.q_id, r.c_id) for r in registry["ss01_cosine_topk"].fn(spark, sf_dir).collect()}
    bq = {(r.q_id, r.c_id) for r in registry["ss10_binary_quant_search"].fn(spark, sf_dir).collect()}
    recall = len(exact & bq) / len(exact)
    assert recall >= 0.5, f"binary-quant recall too low: {recall}"


def should_carry_last_observation_across_gap_hours_in_ts01(spark, sf_dir):
    """ts01's dense series: hourly spine with no holes per user, a real
    observation in every user's first bucket (so LOCF never emits NULL),
    and every gap row carrying exactly the previous row's reading."""
    registry = load_all_queries()
    rows = registry["ts01_gap_fill_locf"].fn(spark, sf_dir).collect()
    assert rows and all(r.reading is not None for r in rows)
    from collections import defaultdict
    from datetime import datetime, timedelta

    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    n_gaps = 0
    for series in by_user.values():
        series.sort(key=lambda r: r.bucket_ts)
        assert series[0].is_gap is False  # first bucket is an observation
        prev = None
        for r in series:
            t = datetime.strptime(r.bucket_ts, "%Y-%m-%d %H:%M:%S")
            if prev is not None:
                assert t - prev[0] == timedelta(hours=1)  # dense spine
                if r.is_gap:
                    n_gaps += 1
                    assert r.reading == prev[1]  # LOCF carries verbatim
            prev = (t, r.reading)
    assert n_gaps > 0  # the fixture actually exercises gap filling


def should_bound_ohlc_bars_by_their_extremes_in_ts02(spark, sf_dir):
    """ts02 bar invariants: low <= {open, close} <= high, volume >= 1,
    and single-observation bars have open == close == high == low."""
    registry = load_all_queries()
    rows = registry["ts02_ohlc_downsample"].fn(spark, sf_dir).collect()
    assert rows
    singletons = 0
    for r in rows:
        assert r.low_value <= min(r.open_value, r.close_value)
        assert r.high_value >= max(r.open_value, r.close_value)
        assert r.volume >= 1
        if r.volume == 1:
            singletons += 1
            assert r.open_value == r.close_value == r.high_value == r.low_value
    assert len({(r.event_type, r.bucket_day) for r in rows}) == len(rows)


def should_rank_trigram_paths_with_full_tiebreak_in_ev05(spark, sf_dir):
    """ev05's top-20 cut: ranks are 1..n with counts non-increasing and
    ties broken by path ascending; n_users never exceeds occurrences."""
    registry = load_all_queries()
    rows = sorted(
        registry["ev05_top_event_paths"].fn(spark, sf_dir).collect(),
        key=lambda r: r.rnk,
    )
    assert rows and [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) <= 20
    for a, b in zip(rows, rows[1:]):
        assert (a.n_occurrences, b.path) > (b.n_occurrences, a.path) or (
            a.n_occurrences == b.n_occurrences and a.path < b.path
        )
        assert a.n_occurrences >= b.n_occurrences
    for r in rows:
        assert 1 <= r.n_users <= r.n_occurrences
        assert len(r.path.split(" > ")) == 3


def should_recall_most_exact_neighbors_in_ss11_scalar_quant(spark, sf_dir):
    """ss11 (int8 scalar-quantized ANN) must recover most of ss01's
    exact top-3 — the bar every approximate path meets (ss02/ss03/ss10
    discipline) — with its corpus-proportional rerank pool."""
    registry = load_all_queries()
    exact = {
        (r.q_id, r.c_id)
        for r in registry["ss01_cosine_topk"].fn(spark, sf_dir).collect()
    }
    sq = {
        (r.q_id, r.c_id)
        for r in registry["ss11_scalar_quant_search"].fn(spark, sf_dir).collect()
    }
    recall = len(exact & sq) / len(exact)
    assert recall >= 0.5, f"scalar-quant recall too low: {recall}"


def should_time_weight_daily_means_by_coverage_in_ts03(spark, sf_dir):
    """ts03 invariants: full interior days have 24 hours, n_filled <
    n_hours (every day inherits at least one real or carried reading
    and gaps never cover a whole user's day unless carried — carried
    rows still count as coverage), and each user-day's twa lies within
    [min, max] of that user's ts01 readings for the day."""
    registry = load_all_queries()
    twa_rows = registry["ts03_time_weighted_avg"].fn(spark, sf_dir).collect()
    assert twa_rows
    series = registry["ts01_gap_fill_locf"].fn(spark, sf_dir).collect()
    from collections import defaultdict

    day_readings = defaultdict(list)
    for r in series:
        day_readings[(r.user_id, r.bucket_ts[:10])].append(r.reading)
    for r in twa_rows:
        assert 1 <= r.n_hours <= 24
        assert 0 <= r.n_filled < r.n_hours or (
            r.n_filled == r.n_hours  # all-carried day (long gap)
        )
        rs = day_readings[(r.user_id, r.day)]
        assert len(rs) == r.n_hours
        # integer-floor mean sits within the day's reading envelope
        assert min(rs) - 1e-6 <= r.twa <= max(rs) + 1e-6
    # cross-check one exact mean against the series itself
    r = twa_rows[0]
    rs = day_readings[(r.user_id, r.day)]
    cents = sum(round(v * 100) for v in rs)
    assert r.twa == (cents * 10000 // len(rs)) / 1_000_000.0


def should_confine_semantic_dedup_pairs_to_clusters_in_sd01(spark, sf_dir):
    """sd01 census invariants: clusters partition the corpus (member
    sum == corpus size), kept + removed == members per cluster, some
    cluster actually removes, and — because every within-cluster pair
    above the bar is also a global dd06 pair — the removed total is
    bounded by dd06's distinct higher-id count (cluster-scoping can
    only LOSE pairs, never invent them)."""
    registry = load_all_queries()
    census = registry["sd01_semantic_dedup"].fn(spark, sf_dir).collect()
    from geospatial_data_lake_spark.tables import tables

    n_vecs = tables(spark, sf_dir).embeddings.count()
    assert sum(r.n_members for r in census) == n_vecs
    assert all(r.n_kept + r.n_removed == r.n_members for r in census)
    assert sum(r.n_removed for r in census) > 0
    dd06_dups = {
        r.v2
        for r in registry["dd06_embedding_neardup"].fn(spark, sf_dir).collect()
    }
    assert sum(r.n_removed for r in census) <= len(dd06_dups)


def should_resolve_components_on_adversarial_topologies(spark):
    """_cc_alternating_stars (dd07's engine): exact component-min labels
    on the shapes that stress star contraction — a long PATH (worst
    case: log-round convergence, where plain propagation needs
    O(diameter) rounds), a clique, a star already centered at its max
    (must re-center at the min), and singleton pairs."""
    from geospatial_data_lake_spark.operators.dedup import (
        _cc_alternating_stars,
    )

    path = [(i, i + 1) for i in range(100, 140)]  # 41-node path
    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    star_at_max = [(900, v) for v in range(890, 900)]  # center 900 = max
    lone = [(7000, 7001)]
    pairs = spark.createDataFrame(
        path + clique + star_at_max + lone, "d1 long, d2 long"
    )
    got = {
        r.node: r.label for r in _cc_alternating_stars(pairs).collect()
    }
    assert {got[n] for n in range(100, 141)} == {100}
    assert {got[n] for n in range(5)} == {0}
    assert {got[n] for n in range(890, 901)} == {890}
    assert (got[7000], got[7001]) == (7000, 7000)
    # every edge-bearing node is labeled, nothing extra
    assert len(got) == 41 + 5 + 11 + 2


def should_fail_component_gate_on_dropped_or_wrong_labels(spark):
    """The exactness gate's stated guarantee — raises rather than ever
    blessing a wrong labeling — must hold even when a node is MISSING
    from the label set: an inner-join check would silently drop that
    node's edges from the verification; the left-join + null-check +
    cardinality gate fails all three corruption shapes."""
    import pytest

    from geospatial_data_lake_spark.operators.dedup import (
        _verify_component_labels,
    )

    orig = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    ok = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "node long, label long"
    )
    _verify_component_labels(orig, ok)  # correct labeling passes
    dropped = ok.filter(F.col("node") != 3)  # node 3 vanished
    with pytest.raises(RuntimeError, match="unlabeled"):
        _verify_component_labels(orig, dropped)
    wrong = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "node long, label long"
    )
    with pytest.raises(RuntimeError, match="label-mismatched"):
        _verify_component_labels(orig, wrong)
    phantom = ok.unionByName(
        spark.createDataFrame([(99, 99)], "node long, label long")
    )
    with pytest.raises(RuntimeError, match="distinct endpoints"):
        _verify_component_labels(orig, phantom)


def should_release_superseded_round_checkpoints(spark):
    """Checkpoint hygiene: repeated _cc_alternating_stars runs in one
    session must not accumulate block-manager state — each round frees
    the superseded round's eager localCheckpoint once the next round
    materializes, and the final round + original edges free after the
    exactness gate.  Only the RETURNED labels checkpoint survives a
    run; freeing it returns the session to baseline.  (r13 BENCHNOTES:
    dd15's x100 plan pin errored after many back-to-back dd07
    executions from exactly this accumulation.)"""
    from geospatial_data_lake_spark.operators.dedup import (
        _cc_alternating_stars,
        _free_checkpoint,
    )

    def n_persistent():
        return len(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 140)]
        + [(i, j) for i in range(5) for j in range(i + 1, 5)],
        "d1 long, d2 long",
    )
    baseline = n_persistent()
    for _ in range(8):
        labels = _cc_alternating_stars(pairs)
        assert labels.count() == 41 + 5
        # everything internal is already freed; only the returned
        # labels checkpoint remains.  (<=: Spark's ContextCleaner may
        # concurrently collect unreferenced checkpoints from EARLIER
        # tests, so the baseline can only shrink — growth is the bug.)
        assert n_persistent() <= baseline + 1
        _free_checkpoint(labels)
        assert n_persistent() <= baseline


def should_free_checkpoint_blocks_through_private_rdd_handle(spark):
    """free_local_checkpoint reaches the block manager through a py4j
    PRIVATE chain (``df._jdf.queryExecution().analyzed().rdd()``)
    guarded by a broad except that degrades to NO-OP — so a Spark
    minor-version bump renaming any link would silently disable all
    checkpoint hygiene.  Pin the handle directly: the unpersist is
    blocking, so the checkpoint's specific RDD id must leave the
    persistent set immediately — no ContextCleaner race (ids are
    compared as sets so concurrent cleanup of OTHER tests' leftovers
    cannot flake this)."""
    from geospatial_data_lake_spark.session import free_local_checkpoint

    def persistent_ids():
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs()
            .keySet()
            .toArray()
        }

    before = persistent_ids()
    df = spark.range(1000).localCheckpoint(eager=True)
    assert df.count() == 1000
    new_ids = persistent_ids() - before
    assert len(new_ids) == 1  # the eager checkpoint's backing RDD
    free_local_checkpoint(df)
    assert not (new_ids & persistent_ids())


def should_size_default_driver_memory_from_the_host(tmp_path):
    """Half of MemTotal, at least 1g and at most 48g; 48g when the host
    size cannot be read."""
    from geospatial_data_lake_spark.session import default_driver_memory

    meminfo = tmp_path / "meminfo"
    for total_kb, want in ((1_500_000, "1g"), (16_000_000, "7g"), (256 << 20, "48g")):
        meminfo.write_text(f"MemFree:  1000 kB\nMemTotal:  {total_kb} kB\n")
        assert default_driver_memory(str(meminfo)) == want, total_kb
    assert default_driver_memory(str(tmp_path / "absent")) == "48g"


def should_shuffle_sd01_pair_join_when_corpus_exceeds_budget(spark, sf_dir):
    """sd01's broadcast-budget guard (dd09's discipline): with the
    budget conf squeezed below any real corpus, the pair join must DROP
    the broadcast hint and degrade to a cid-shuffled sort-merge join —
    never a cartesian, never an executor-OOM replication — and the
    census must be byte-identical to the broadcast flavor's."""
    from geospatial_data_lake_spark.operators.clustering import (
        _K,
        semantic_dedup_census,
    )
    from geospatial_data_lake_spark.operators.dedup import (
        _BROADCAST_BUDGET_CONF,
    )
    from geospatial_data_lake_spark.tables import tables

    e = tables(spark, sf_dir).embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    fast = semantic_dedup_census(spark, e, k=_K)
    fast_plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in fast_plan, fast_plan
    expected = fast.collect()
    # Simulate a 100TB corpus: auto-broadcast off (Catalyst would never
    # volunteer to replicate an over-threshold relation) so the ONLY way
    # the join could still broadcast is our hint — which the budget
    # guard must now withhold.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(_BROADCAST_BUDGET_CONF, "1")  # below any real corpus
    try:
        slow = semantic_dedup_census(spark, e, k=_K)
        plan = slow._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert slow.collect() == expected
        # and conversely: under the default budget the hint fires even
        # with auto-broadcast off — the fast flavor is a deliberate
        # choice, not a Catalyst accident.
        spark.conf.unset(_BROADCAST_BUDGET_CONF)
        hinted = semantic_dedup_census(spark, e, k=_K)
        hp = hinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in hp, hp
    finally:
        spark.conf.unset(_BROADCAST_BUDGET_CONF)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def should_recall_exact_fusion_winners_in_rk02(spark, sf_dir):
    """rk02 (the production serve: persisted-IVFPQ arm + binary-sketch
    arm) must recover most of rk01's exact-arm fused top-3 — the same
    >= 0.5 bar every approximate rung meets (ss02/ss03/ss10/ss11) —
    and keep rk01's structural invariants: ranks 1..n per query,
    scores in (0, 2/61]."""
    registry = load_all_queries()
    exact = {
        (r.q_id, r.c_id)
        for r in registry["rk01_rrf_fusion"].fn(spark, sf_dir).collect()
    }
    rows = registry["rk02_rrf_fusion_serve"].fn(spark, sf_dir).collect()
    served = {(r.q_id, r.c_id) for r in rows}
    recall = len(exact & served) / len(exact)
    assert recall >= 0.5, f"production-fusion recall too low: {recall}"
    by_q = {}
    for r in rows:
        assert 0 < r.rrf <= round(2 / 61, 6) + 1e-9
        by_q.setdefault(r.q_id, []).append(r.rnk)
    for q, rnks in by_q.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))


def should_fuse_rankings_reciprocally_in_rk01(spark, sf_dir):
    """rk01 invariants: every fused winner appears in at least one
    input top-16; a candidate ranked #1 by BOTH lists always wins its
    query; scores lie in (0, 2/61]; ranks are 1..3 per query."""
    registry = load_all_queries()
    rows = registry["rk01_rrf_fusion"].fn(spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        for r in rs:
            assert 0 < r.rrf <= round(2 / 61, 6) + 1e-9
    # the exact top-1 by cosine has score >= 1/61 — it can only be beaten
    # by a candidate that BOTH lists rank (score > 1/61 needs two terms
    # or a better cosine rank, impossible) or by itself
    exact = registry["ss01_cosine_topk"].fn(spark, sf_dir).collect()
    top1 = {r.q_id: r.c_id for r in exact if r.rnk == 1}
    for q, rs in by_q.items():
        winner = rs[0]
        if winner.c_id != top1[q]:
            assert winner.rrf > round(1 / 61, 6) - 1e-9


def should_census_exact_partition_counts_in_vs19(spark, sf_dir):
    """vs19's metadata-only census == a real scan's per-partition
    counts on the same lake, and the metadata-only total matches
    row_count() (the manifest stays truthful through MERGE+delete)."""
    from geospatial_data_lake_spark.operators.lake_queries import _build_lake

    registry = load_all_queries()
    meta = {
        (r.o_orderpriority, r.n_orders)
        for r in registry["vs19_metadata_only_counts"].fn(spark, sf_dir).collect()
    }
    mt = _build_lake(spark, sf_dir)
    scanned = {
        (r.o_orderpriority, r.n)
        for r in mt.read()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert meta == scanned
    assert mt.row_count() == sum(n for _, n in meta)


def should_compose_pipeline_stages_in_declared_order_in_pl01(spark, sf_dir):
    """pl01 composition invariants: the survivor set nests inside
    ct02's (quality/dedup/sample only remove), every shard's token
    total respects the quality floor (>= 25 tokens/doc), and block
    counts are the exact ceil of the packed cumulative sum."""
    registry = load_all_queries()
    rows = registry["pl01_training_pipeline"].fn(spark, sf_dir).collect()
    assert rows
    total_docs = sum(r.n_docs for r in rows)
    ct02_rows = registry["ct02_decontaminate"].fn(spark, sf_dir).count()
    assert 0 < total_docs <= ct02_rows
    for r in rows:
        assert 0 <= r.shard < 8
        assert r.n_tokens >= 25 * r.n_docs  # quality floor survives
        # blocks = ceil(stream length / 2048); stream >= tokens
        assert r.n_blocks >= (r.n_tokens + 2047) // 2048


def should_track_opt_in_stats_cols_and_answer_ranges_in_vs20(spark, sf_dir):
    """stats_cols opt-in: the vs01 fixture records o_totalprice bounds
    per file; column_range answers metadata-only and equals the real
    scan's MIN/MAX; vs20's per-partition census nests inside it."""
    from geospatial_data_lake_spark.operators.lake_queries import _build_lake

    mt = _build_lake(spark, sf_dir)
    assert any(
        "o_totalprice" in st for st in mt.file_stats().values()
    )
    lo, hi = mt.column_range("o_totalprice")
    row = mt.read().agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    ).collect()[0]
    assert (lo, hi) == (row.lo, row.hi)
    registry = load_all_queries()
    parts = registry["vs20_metadata_column_range"].fn(spark, sf_dir).collect()
    assert min(p.min_price for p in parts) == lo
    assert max(p.max_price for p in parts) == hi


def should_keep_semdedup_compare_work_linear_when_k_scales(spark, sf_dir):
    """SemDeDup's production contract: grow k with the corpus and the
    quadratic within-cell compare stays LINEAR in total data.  Pinned
    by candidate-pair COUNTS (sum over cells of C(n,2)) — the work
    metric itself, no flaky wall-clock: a x10 corpus clustered with
    x10 k must stay within a small factor of 10x the base pair count
    (cell populations preserved), while FIXED k blows up ~100x.
    Extended to the PRODUCTION auto-k path (sd02): the k
    ``semdedup_auto_k`` derives from the corpus count must land on the
    same linear envelope — the formula, not just a hand-picked k,
    carries the contract."""
    from geospatial_data_lake_spark.operators.clustering import (
        kmeans_fit,
        semdedup_auto_k,
    )

    e1 = tables_embeddings(spark, sf_dir)
    e10 = e1
    for i in range(1, 10):
        e10 = e10.unionByName(
            e1.select(
                (F.col("vec_id") + 10_000_000 * i).alias("vec_id"),
                F.transform("v", lambda x: x + F.lit(i * 0.013)).alias("v"),
            )
        )

    def pair_work(e, k):
        fin, _ = kmeans_fit(e, k=k)
        counts = [r.n for r in fin.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()]
        return sum(n * (n - 1) // 2 for n in counts)

    p1 = pair_work(e1, 8)
    p10_scaled_k = pair_work(e10, 80)
    p10_fixed_k = pair_work(e10, 8)
    assert p10_fixed_k > 30 * p1  # fixed k: quadratic blow-up is real
    assert p10_scaled_k < 30 * p1  # scaled k: ~10x work, far below it
    # the auto-k FORMULA rides the same envelope: k(N) from the actual
    # corpus counts must keep x10 pair work within the linear band of
    # the auto-k base (cell populations ~target on both sides)
    n1 = e1.count()
    n10 = 10 * n1
    pa1 = pair_work(e1, semdedup_auto_k(n1))
    pa10 = pair_work(e10, semdedup_auto_k(n10))
    assert semdedup_auto_k(n10) == 10 * semdedup_auto_k(n1) or abs(
        semdedup_auto_k(n10) - 10 * semdedup_auto_k(n1)
    ) <= 10  # ceil granularity
    assert pa10 < 30 * pa1  # auto-k: linear envelope, never quadratic


def tables_embeddings(spark, sf_dir):
    from geospatial_data_lake_spark.tables import tables

    return tables(spark, sf_dir).embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def should_match_expression_assignment_on_vectorized_path(spark, sf_dir):
    """The vectorized (mapInPandas matmul) nearest-centroid assignment
    — the path sd02's production auto-k takes above
    _EXPR_ASSIGN_MAX_K, where the k-struct fused expression would blow
    past codegen limits and compile for minutes — must agree with the
    expression path centroid-for-centroid: same (dist, cid) argmin
    order, same 9-dp rounding, ties to the lowest cid."""
    import geospatial_data_lake_spark.operators.clustering as cl
    from geospatial_data_lake_spark.tables import tables

    e = tables(spark, sf_dir).embeddings.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    rows = e.filter(F.col("vec_id") < 100).collect()
    cents = {int(r.vec_id): [float(x) for x in r.v] for r in rows}
    assert len(cents) > cl._EXPR_ASSIGN_MAX_K  # really the vector path
    vec = {
        r.vec_id: (r.cid, r.dist)
        for r in cl._assign_vectorized(e, cents).collect()
    }
    old = cl._EXPR_ASSIGN_MAX_K
    cl._EXPR_ASSIGN_MAX_K = 10**9  # force the expression path
    try:
        expr = {
            r.vec_id: (r.cid, r.dist) for r in cl._assign(e, cents).collect()
        }
    finally:
        cl._EXPR_ASSIGN_MAX_K = old
    assert set(vec) == set(expr)
    assert all(vec[k][0] == expr[k][0] for k in expr)
    assert all(abs(vec[k][1] - expr[k][1]) <= 1e-9 for k in expr)


def should_hold_ivf_recall_floor_at_production_probe_fraction(spark, sf_dir):
    """ss12 serves at nprobe ~ k/_IVF_PROBE_DIV.  div=32 (~3% of lists
    per query — inside the 1-5% production IVF serving band) was
    adopted from the r15 sweep: recall@3 vs ss01's exact top-3 held at
    0.933 on the x100 fixture (k=782) from div 4 all the way down to
    32, and at the small SFs nprobe bottoms out at 1 list with recall
    0.867-1.0.  Pin BOTH the adopted divisor and the 0.5 recall floor
    so a drift in either re-opens the trade consciously instead of
    silently serving garbage neighbors (or silently paying a 25%
    rerank again)."""
    import geospatial_data_lake_spark.operators.clustering as cl

    assert cl._IVF_PROBE_DIV == 32
    r = (
        cl._autok_ivf_search(
            spark, sf_dir, probe_div=cl._IVF_PROBE_DIV, with_hits=True
        )
        .collect()[0]
    )
    assert r.recall_ok
    assert r.n_hits >= 0.5 * r.n_exact_pairs


def should_bound_census_pair_work_on_megacells(spark):
    """The SemDeDup megacell guard (max_cell_compare): k-means gives no
    upper bound on cell population, and a degenerate corpus (here 3000
    IDENTICAL vectors — everything lands in one cell) would turn the
    'constant per-cell' compare quadratic.  With the guard, the cell
    salts into ceil(3000/100)=30 hash sub-cells (~linear total pair
    work); reporting stays per ORIGINAL cell and each sub-cell keeps
    its lowest id, so exactly members - 30 rows are removed and member
    conservation holds."""
    import geospatial_data_lake_spark.operators.clustering as cl

    e = spark.range(3000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(d)) for d in range(64)]).alias("v"),
    )
    census = cl.semantic_dedup_census(
        spark, e, k=4, max_cell_compare=100
    ).collect()
    assert len(census) == 1  # one ORIGINAL cell in the report
    (row,) = census
    assert row.n_members == 3000
    assert row.n_removed == 3000 - 30  # each of 30 sub-cells keeps one
    assert row.n_kept == 30


def should_produce_identical_components_from_star_edge_reduction(spark):
    """dd07's r15 contraction input (`_star_edges`: verified rep pairs +
    membership stars) must yield the SAME components, component-min
    labels, group sizes and node set as the full doc-pair clique
    expansion (`_expand_rep_pairs`) it replaces — on a corpus that
    exercises every case in the equivalence proof: a >=2 identical-set
    group with a verified cross pair, one without, a singleton rep with
    a cross pair, and a singleton rep with none (absent from both)."""
    from geospatial_data_lake_spark.operators.dedup import (
        _allpairs_rep_verified,
        _cc_alternating_stars,
        _expand_rep_pairs,
        _star_edges,
    )

    docs = spark.createDataFrame(
        [
            # group G1: three identical docs (rep 1), near-dup of rep 4
            (1, "a b c d e f g h i j"),
            (2, "a b c d e f g h i j"),
            (3, "a b c d e f g h i j"),
            # group G2: two identical docs, jaccard 9/11 >= 0.8 vs G1
            (4, "a b c d e f g h i k"),
            (5, "a b c d e f g h i k"),
            # group G3: two identical docs, similar to NOTHING else
            (6, "p q r s t u v w x y"),
            (7, "p q r s t u v w x y"),
            # singleton, similar to nothing: in NEITHER edge set
            (8, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z0"),
        ],
        "doc_id long, text string",
    )
    verified, groups = _allpairs_rep_verified(docs, 0.8)
    expanded = _expand_rep_pairs(verified, groups).select("d1", "d2")
    stars = _star_edges(verified, groups)
    lab_exp = {
        r.node: r.label for r in _cc_alternating_stars(expanded).collect()
    }
    lab_star = {
        r.node: r.label for r in _cc_alternating_stars(stars).collect()
    }
    assert lab_star == lab_exp  # same nodes, same labels
    assert lab_star == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,  # G1+G2 merged, min label 1
        6: 6, 7: 6,                     # G3 alone, no cross pair
    }
    # the star set is strictly smaller than the expansion here
    assert stars.count() < expanded.count()


def should_count_types_via_sorted_run_lengths_in_tx09(spark, tmp_path):
    """r15: tx09's per-type counts come from run lengths over the
    sorted token array (O(T log T)/doc) instead of the quadratic
    transform(distinct, d -> size(filter(tk, x == d))) nest.  The count
    MULTISET is identical and every consumer is order-insensitive, so
    all five emitted metrics must match the quadratic reference exactly
    — including the edge shapes: single token, empty string (split ->
    [""]), all-identical, all-distinct."""
    import os

    from pyspark.sql import functions as F

    rows = [
        (1, "only", "en", "s", 4),                # single token
        (2, "", "en", "s", 0),                    # split -> [""]
        (3, "a a a a", "en", "s", 7),             # all identical
        (4, "w x y z", "en", "s", 7),             # all distinct
        (5, "b a b c a b", "en", "s", 11),        # mixed multiplicities
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    from geospatial_data_lake_spark.registry import load_all_queries

    got = load_all_queries()["tx09_token_diversity"].fn(spark, sf)

    # Quadratic reference (the pre-r15 formulation), same consumers.
    tk = F.split(F.col("text"), " ")
    d = df.select("doc_id", tk.alias("tk"))
    n = F.size("tk")
    cnts = F.transform(
        F.array_distinct("tk"),
        lambda dd: F.size(F.filter("tk", lambda x: x == dd)),
    )
    c = d.select("doc_id", n.alias("n"), cnts.alias("cnts"))
    ref = c.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        F.size("cnts").cast("bigint").alias("n_types"),
        F.round(F.size("cnts") / F.col("n"), 4).alias("type_token_ratio"),
        F.round(F.array_max("cnts") / F.col("n"), 4).alias("top_token_frac"),
        F.round(
            F.lit(1.0)
            - F.aggregate(
                F.transform("cnts", lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            / (F.col("n") * F.col("n")),
            4,
        ).alias("simpson_diversity"),
    ).orderBy("doc_id")

    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    # spot-pin the mixed row: 6 tokens, 3 types, top 'b' x3
    r5 = {r.doc_id: r for r in got.collect()}[5]
    assert (r5.n_tokens, r5.n_types) == (6, 3)
    assert r5.top_token_frac == 0.5
    # simpson: 1 - (9 + 4 + 1)/36 = 0.6111
    assert r5.simpson_diversity == 0.6111
