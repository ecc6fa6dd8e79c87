"""mmap graph serving: driver-built graph artifacts carry a DANN v2 binary
sidecar and are served via np.memmap — no full-graph materialization per
worker (reference semantics: rust_lib/src/disk_provider.rs:182-332), with
results bit-identical to the in-RAM parquet load."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from duckdb_annsearch_spark.index.graph import _load_graph, _MmapVamana


def _build(engine, name, n=1200, dim=16, seed=0, **params):
    rng = np.random.RandomState(seed)
    rows = [(i, rng.rand(dim).astype("float32").tolist()) for i in range(n)]
    df = engine.spark.createDataFrame(rows, "id long, embedding array<float>")
    engine.register_table(f"t_{name}", df, row_id="id")
    engine.create_index(name, f"t_{name}", "embedding", engine="diskann", **params)
    return rows, engine.catalog.data_path(name)


def test_mmap_serving_identical_to_ram_load(engine):
    rows, path = _build(engine, "mmg")
    assert os.path.exists(os.path.join(path, "_graph.diskann"))
    assert os.path.exists(os.path.join(path, "_row_ids.bin"))

    g_m, rid_m = _load_graph(path)  # default: mmap serving
    assert isinstance(g_m, _MmapVamana)
    assert isinstance(g_m.vectors, np.memmap)  # vectors NOT materialized
    assert isinstance(g_m.neighbors, np.memmap)  # adjacency NOT materialized

    g_r, rid_r = _load_graph(path, mmap=False)
    assert not isinstance(g_r, _MmapVamana)

    assert np.array_equal(np.asarray(rid_m), np.asarray(rid_r))
    rng = np.random.RandomState(7)
    qs = rng.rand(16, 16).astype(np.float32)
    res_m = g_m.beam_search_batch(qs, 10, 64)
    res_r = g_r.beam_search_batch(qs, 10, 64)
    for (lm, dm), (lr, dr) in zip(res_m, res_r):
        assert np.array_equal(np.asarray(lm), np.asarray(lr))
        assert np.array_equal(np.asarray(dm), np.asarray(dr))  # bit-identical


def test_mmap_serving_quantized_matches_parquet_dequant(engine):
    # SQ8 artifacts store DEQUANTIZED vectors in the binary: mmap search
    # must see exactly what the parquet path computes from the codes
    rows, path = _build(engine, "mmq", n=600, quantization="sq8")
    g_m, _ = _load_graph(path)
    assert isinstance(g_m, _MmapVamana)
    g_r, _ = _load_graph(path, mmap=False)
    assert np.allclose(
        np.asarray(g_m.vectors[:50]), np.asarray(g_r.vectors[:50]), atol=0
    )
    q = np.asarray([rows[5][1]], dtype=np.float32)
    (lm, dm), = g_m.beam_search_batch(q, 5, 32)
    (lr, dr), = g_r.beam_search_batch(q, 5, 32)
    assert np.array_equal(np.asarray(lm), np.asarray(lr))
    assert np.array_equal(np.asarray(dm), np.asarray(dr))


def test_engine_search_via_mmap_end_to_end(engine):
    rows, path = _build(engine, "mme", n=800)
    # executor workers take the mmap path (default env): self-query top-1
    hits = engine.ann_search("t_mme", "mme", rows[13][1], k=3).collect()
    assert hits[0]["id"] == 13
    assert hits[0]["_distance"] < 1e-6


def test_cosine_graph_has_no_binary_and_still_serves(engine):
    # DANN format is l2|ip only: cosine graphs keep the parquet-only path
    rows, path = _build(engine, "mmc", n=300, metric="cosine")
    assert not os.path.exists(os.path.join(path, "_graph.diskann"))
    g, _ = _load_graph(path)
    assert not isinstance(g, _MmapVamana)
    hits = engine.ann_search("t_mmc", "mmc", rows[7][1], k=1).collect()
    assert hits[0]["id"] == 7


def test_mmap_invalidates_after_vacuum(engine):
    rows, path = _build(engine, "mmv", n=400)
    engine.delete("t_mmv", [5])
    engine.vacuum("mmv")
    idx = engine.get_index("mmv")
    assert idx.meta.num_vectors == 399
    # binary sidecar was rewritten with the rebuilt graph
    g, rid = _load_graph(path)
    assert isinstance(g, _MmapVamana)
    assert 5 not in set(np.asarray(rid).tolist())
    got = [r["row_id"] for r in idx.search(rows[9][1], 1).collect()]
    assert got == [9]


def test_sharded_mmap_sidecars_identical_results(engine):
    # sharded builds write per-shard DANN sidecars (local-remapped) in a
    # distributed post-pass; shard loads mmap-serve with identical results
    from duckdb_annsearch_spark.index.graph import _load_shard

    rng = np.random.RandomState(3)
    rows = [(i, rng.rand(8).astype("float32").tolist()) for i in range(600)]
    df = engine.spark.createDataFrame(rows, "id long, embedding array<float>")
    engine.register_table("t_shm", df, row_id="id")
    engine.streaming_build("shm", "t_shm", "embedding", shards=3)
    path = engine.catalog.data_path("shm")
    sdirs = sorted(
        os.path.join(path, d) for d in os.listdir(path) if d.startswith("shard=")
    )
    assert sdirs
    for sdir in sdirs:
        assert os.path.exists(os.path.join(sdir, "_graph.diskann")), sdir
        assert os.path.exists(os.path.join(sdir, "_row_ids.bin")), sdir

    g_m, rid_m = _load_shard(sdirs[0])
    assert isinstance(g_m, _MmapVamana)
    g_r, rid_r = _load_shard(sdirs[0], mmap=False)
    assert not isinstance(g_r, _MmapVamana)
    assert np.array_equal(np.asarray(rid_m), np.asarray(rid_r))
    qs = rng.rand(8, 8).astype(np.float32)
    for (lm, dm), (lr, dr) in zip(
        g_m.beam_search_batch(qs, 5, 32), g_r.beam_search_batch(qs, 5, 32)
    ):
        assert np.array_equal(np.asarray(lm), np.asarray(lr))
        assert np.array_equal(np.asarray(dm), np.asarray(dr))

    # engine-level fan-out search over the mmap-served shards
    idx = engine.get_index("shm")
    got = [r["row_id"] for r in idx.search(rows[11][1], 1).collect()]
    assert got == [11]


def test_sharded_pq_graph_build_and_serving(engine):
    """Sharded PQ graphs (round 5): per-shard m-byte codes under
    INDEX-GLOBAL codebooks; parquet loads and PQC-trailer mmap loads decode
    to identical vectors and search identically; serving pages u8 codes
    (the 100 TB path — m bytes/row instead of 4*dim)."""
    from duckdb_annsearch_spark.index.dann_format import read_dann
    from duckdb_annsearch_spark.index.graph import _PqView, _load_shard
    from duckdb_annsearch_spark.index.pq import decode_pq

    rng = np.random.RandomState(9)
    n, dim = 800, 16
    rows = [(i, rng.rand(dim).astype("float32").tolist()) for i in range(n)]
    df = engine.spark.createDataFrame(rows, "id long, embedding array<float>")
    engine.register_table("t_spq", df, row_id="id")
    engine.streaming_build(
        "spq", "t_spq", "embedding", shards=3, shard_by="kmeans",
        quantization="pq", pq_m=8,
    )
    meta = engine.catalog.load("spq")
    assert meta.quantized and meta.extra["pq_m"] == 8

    path = engine.catalog.data_path("spq")
    sdirs = sorted(
        os.path.join(path, d) for d in os.listdir(path) if d.startswith("shard=")
    )
    assert sdirs
    # PQC trailer round-trips: f32 block == decode(codes, global codebooks)
    d = read_dann(os.path.join(sdirs[0], "_graph.diskann"))
    assert d["pq"] is not None and d["sq8"] is None
    assert d["pq"]["codes"].shape[1] == 8
    rec = decode_pq(d["pq"]["codes"], np.ascontiguousarray(d["pq"]["codebooks"]))
    assert np.array_equal(rec, d["vectors"])

    # mmap serve pages the u8 codes via _PqView; parquet load decodes the
    # codes column — identical vectors, identical search results
    g_m, rid_m = _load_shard(sdirs[0])
    assert isinstance(g_m, _MmapVamana) and isinstance(g_m.vectors, _PqView)
    g_r, rid_r = _load_shard(sdirs[0], mmap=False)
    assert not isinstance(g_r, _MmapVamana)
    assert np.array_equal(np.asarray(rid_m), np.asarray(rid_r))
    assert np.array_equal(g_m.vectors[:40], np.asarray(g_r.vectors[:40]))
    qs = rng.rand(8, dim).astype(np.float32)
    for (lm, dm), (lr, dr) in zip(
        g_m.beam_search_batch(qs, 5, 32), g_r.beam_search_batch(qs, 5, 32)
    ):
        assert np.array_equal(np.asarray(lm), np.asarray(lr))
        assert np.array_equal(np.asarray(dm), np.asarray(dr))

    # engine-level fan-out: PQ reconstruction is lossy, so check top-10
    # recall against exact brute force rather than exact identity
    import heapq

    x = np.asarray([r[1] for r in rows], dtype=np.float32)
    q = x[17]
    exact = heapq.nsmallest(10, range(n), key=lambda i: float(((x[i] - q) ** 2).sum()))
    got = [r["row_id"] for r in engine.get_index("spq").search(q.tolist(), 10).collect()]
    assert len(set(got) & set(exact)) >= 7  # diskann_streaming.test:44-49 floor

    # vacuum rebuild retrains codebooks on live rows and keeps the pq path
    engine.delete("t_spq", list(range(20)))
    engine.vacuum("spq")
    meta2 = engine.catalog.load("spq")
    assert meta2.quantized and meta2.extra.get("pq_m") == 8
    q2 = x[50]  # a surviving row (0-19 were deleted)
    got2 = [r["row_id"] for r in engine.get_index("spq").search(q2.tolist(), 10).collect()]
    assert 50 in got2 and all(g >= 20 for g in got2)


def test_pq_graph_rejections(engine):
    # driver-built single graphs and non-sharded streaming builds must
    # reject quantization='pq' loudly (sharded-only: per-shard codes need
    # index-global codebooks + the shard serving path)
    rng = np.random.RandomState(2)
    rows = [(i, rng.rand(8).astype("float32").tolist()) for i in range(50)]
    df = engine.spark.createDataFrame(rows, "id long, embedding array<float>")
    engine.register_table("t_pqrej", df, row_id="id")
    with pytest.raises(ValueError, match="sharded"):
        engine.create_index(
            "pqrej", "t_pqrej", "embedding", engine="diskann", quantization="pq"
        )
    with pytest.raises(ValueError, match="shards"):
        engine.streaming_build("pqrej2", "t_pqrej", "embedding", quantization="pq")


def test_search_batch_forwards_nprobe_shards(engine):
    # driver-list search_batch must forward shard-pruning params to the
    # sharded fan-out (a dropped kwarg silently probes every shard)
    rng = np.random.RandomState(5)
    rows = [(i, rng.rand(6).astype("float32").tolist()) for i in range(300)]
    df = engine.spark.createDataFrame(rows, "id long, embedding array<float>")
    engine.register_table("t_npb", df, row_id="id")
    engine.streaming_build("npb", "t_npb", "embedding", shards=3, shard_by="kmeans")
    idx = engine.get_index("npb")
    pruned = idx.search_batch([rows[7][1]], 1, nprobe_shards=1)
    # the centroid-routing branch tags the plan with its __cvec column
    assert "__cvec" in pruned._jdf.queryExecution().analyzed().toString()
    assert [r["row_id"] for r in pruned.collect()] == [7]
    full = idx.search_batch([rows[7][1]], 1)
    assert "__cvec" not in full._jdf.queryExecution().analyzed().toString()
    assert [r["row_id"] for r in full.collect()] == [7]


def test_empty_graph_after_delete_all_vacuum_still_searchable(engine):
    # n==0 artifacts are legal; the mmap path must not choke on the 0-byte
    # row_ids sidecar (np.memmap refuses empty files) — searches fall back
    # to the parquet path and return empty results
    rows, path = _build(engine, "mm0", n=120)
    engine.delete("t_mm0", [i for i, _ in rows])
    engine.vacuum("mm0")
    idx = engine.get_index("mm0")
    assert idx.meta.num_vectors == 0
    assert idx.search(rows[0][1], 3).count() == 0


def test_sharded_opq_graph_build_and_serving(engine):
    """Sharded OPQ graphs (round 5): the index-global rotation composes with
    the per-shard codes — encode R @ x, decode applies R^T — so every load
    path (parquet decode, OPQC-trailer mmap paging) reconstructs identical
    original-space vectors and searches identically."""
    from duckdb_annsearch_spark.index.dann_format import read_dann
    from duckdb_annsearch_spark.index.graph import _PqView, _load_shard
    from duckdb_annsearch_spark.index.pq import decode_pq

    rng = np.random.RandomState(21)
    n, dim = 700, 16
    # ANISOTROPIC data under a fixed non-axis-aligned mix: on isotropic
    # uniform data train_opq converges to R ~ I, which would mask an
    # encode/decode rotation-orientation mismatch (x @ R vs x @ R^T) —
    # here R is far from identity, so a transposed encode wrecks the
    # reconstruction and the fidelity assert below catches it
    scales_ = np.linspace(0.05, 2.0, dim).astype(np.float32)
    mix_q, _ = np.linalg.qr(np.random.RandomState(4).randn(dim, dim))
    base = (rng.rand(n, dim).astype(np.float32) * scales_) @ mix_q.astype(np.float32)
    rows = [(i, base[i].tolist()) for i in range(n)]
    df = engine.spark.createDataFrame(rows, "id long, embedding array<float>")
    engine.register_table("t_sopq", df, row_id="id")
    engine.streaming_build(
        "sopq", "t_sopq", "embedding", shards=3, shard_by="kmeans",
        quantization="pq", pq_m=8, opq=True,
    )
    meta = engine.catalog.load("sopq")
    assert meta.quantized and meta.extra["pq_m"] == 8 and meta.extra.get("opq")

    path = engine.catalog.data_path("sopq")
    sdirs = sorted(
        os.path.join(path, d) for d in os.listdir(path) if d.startswith("shard=")
    )
    assert sdirs
    # OPQC trailer round-trips: f32 block == decode(codes) @ R^T
    d = read_dann(os.path.join(sdirs[0], "_graph.diskann"))
    assert d["pq"] is not None and d["pq"].get("rotation") is not None
    rot = np.ascontiguousarray(d["pq"]["rotation"], dtype=np.float32)
    np.testing.assert_allclose(rot @ rot.T, np.eye(dim), atol=1e-4)
    rec = decode_pq(d["pq"]["codes"], np.ascontiguousarray(d["pq"]["codebooks"]))
    assert np.array_equal(rec @ rot.T, d["vectors"])
    # reconstruction FIDELITY to the true vectors — encode(x @ R) decoded
    # through R^T must land near x; a transposed encode leaves the data
    # doubly rotated and this relative error blows past 1
    import pyarrow.parquet as papq

    from duckdb_annsearch_spark.index import scan as _scan

    t_shard = papq.read_table(sdirs[0]).sort_by("label")
    x_true = _scan._fixed_matrix(t_shard.column("vector").combine_chunks(), dim)
    num = float(((d["vectors"] - x_true) ** 2).sum())
    den = float(((x_true - x_true.mean(axis=0)) ** 2).sum())
    assert num / max(den, 1e-9) < 0.5

    # mmap (OPQC paging) and parquet loads serve identical vectors/results
    g_m, rid_m = _load_shard(sdirs[0])
    assert isinstance(g_m.vectors, _PqView) and g_m.vectors.rotation is not None
    g_r, rid_r = _load_shard(sdirs[0], mmap=False)
    assert np.array_equal(np.asarray(rid_m), np.asarray(rid_r))
    assert np.allclose(g_m.vectors[:40], np.asarray(g_r.vectors[:40]), atol=1e-5)
    qs = rng.rand(6, dim).astype(np.float32)
    for (lm, _dm), (lr, _dr) in zip(
        g_m.beam_search_batch(qs, 5, 32), g_r.beam_search_batch(qs, 5, 32)
    ):
        assert np.array_equal(np.asarray(lm), np.asarray(lr))

    # engine-level fan-out recall floor vs exact brute force
    import heapq

    x = np.asarray([r[1] for r in rows], dtype=np.float32)
    q = x[17]
    exact = heapq.nsmallest(10, range(n), key=lambda i: float(((x[i] - q) ** 2).sum()))
    got = [r["row_id"] for r in engine.get_index("sopq").search(q.tolist(), 10).collect()]
    assert len(set(got) & set(exact)) >= 7

    # opq without pq rejects loudly
    with pytest.raises(ValueError, match="opq"):
        engine.streaming_build(
            "sopq_bad", "t_sopq", "embedding", shards=2, quantization="sq8", opq=True
        )


def test_list_loaders_respect_chunks_and_slices():
    """pyarrow 16.1.0's Table.sort_by/take silently corrupts large
    list<float> children (caught at 20M x 64 — it poisoned recall ground
    truth), so every artifact loader flattens per CHUNK of the unsorted
    read and gathers with a numpy permutation.  Pin the helpers' behavior
    on chunked AND sliced inputs, where offset bugs live."""
    import numpy as np
    import pyarrow as pa

    from duckdb_annsearch_spark.index.graph import (
        _argsorted_labels,
        _split_list_column,
        _vector_matrix,
    )
    from duckdb_annsearch_spark.index.scan import _fixed_matrix

    rows = [[float(i), float(i) + 0.5] for i in range(10)]
    lt = pa.list_(pa.float32())
    chunked = pa.chunked_array(
        [pa.array(rows[:3], type=lt), pa.array(rows[3:7], type=lt),
         pa.array(rows[7:], type=lt)]
    )
    np.testing.assert_allclose(_fixed_matrix(chunked, 2), np.asarray(rows))
    np.testing.assert_allclose(_vector_matrix(chunked), np.asarray(rows))
    # sliced chunk: offsets must be respected
    sliced = pa.array(rows, type=lt).slice(4, 3)
    np.testing.assert_allclose(_fixed_matrix(sliced, 2), np.asarray(rows[4:7]))
    # ragged lists per chunk
    it = pa.list_(pa.int64())
    ragged = pa.chunked_array(
        [pa.array([[1, 2, 3], []], type=it),
         pa.array([[4], [5, 6]], type=it).slice(1, 1)]
    )
    got = _split_list_column(ragged, np.int64)
    assert [g.tolist() for g in got] == [[1, 2, 3], [], [5, 6]]
    # the numpy sort permutation replaces Table.sort_by
    t = pa.table({"label": pa.array([5, 1, 3]), "v": pa.array(rows[:3], type=lt)})
    keys, order = _argsorted_labels(t, "label")
    assert keys.tolist() == [1, 3, 5] and order.tolist() == [1, 2, 0]
