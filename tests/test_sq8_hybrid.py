"""SQ8 quantization (diskann_quantization.test:24-90) and hybrid search
(F9 fixture; RRF math of src/ann_search.cpp:1091-1106)."""

import numpy as np
import pytest

from tests.conftest import make_vectors_df

RRF_K = 60


def test_sq8_quantized_flag_and_top1(engine):
    rng = np.random.RandomState(7)
    rows = [(i, rng.rand(4).astype(np.float32).tolist()) for i in range(50)]
    df = make_vectors_df(engine.spark, rows, dim=4)
    engine.register_table("qvecs", df, row_id="id")
    engine.create_index(
        "sq8idx", "qvecs", engine="faiss", index_type="Flat", quantization="sq8"
    )
    info = {r["name"]: r for r in engine.ann_index_info().collect()}
    assert info["sq8idx"]["quantized"] is True
    # exact-match top-1 survives quantization (diskann_quantization.test)
    for probe_id in (0, 13, 42):
        q = rows[probe_id][1]
        res = engine.ann_search("qvecs", "sq8idx", q, k=1).collect()
        assert res[0]["id"] == probe_id


def test_sq8_distances_approximate_full_precision(engine):
    rng = np.random.RandomState(11)
    rows = [(i, rng.rand(8).astype(np.float32).tolist()) for i in range(100)]
    df = make_vectors_df(engine.spark, rows, dim=8)
    engine.register_table("qvecs", df, row_id="id")
    engine.create_index("full", "qvecs", engine="faiss", index_type="Flat")
    engine.create_index(
        "quant", "qvecs", engine="faiss", index_type="Flat", quantization="sq8"
    )
    q = rows[5][1]
    full = engine.ann_search("qvecs", "full", q, k=10).collect()
    quant = engine.ann_search("qvecs", "quant", q, k=10).collect()
    overlap = len({r["id"] for r in full} & {r["id"] for r in quant})
    assert overlap >= 8
    for fr, qr in zip(full, quant):
        assert qr["_distance"] == pytest.approx(fr["_distance"], abs=0.05)


CHUNKS = [
    (1, "spark query engine fast", [1.0, 0.0, 0.0, 0.0]),
    (2, "duck database analytics engine", [0.0, 1.0, 0.0, 0.0]),
    (3, "vector search index fast", [0.9, 0.1, 0.0, 0.0]),
    (4, "cat pictures and dogs", [0.0, 0.0, 1.0, 0.0]),
    (5, "fast fast fast query", [0.8, 0.2, 0.0, 0.0]),
]


def _setup_hybrid(engine):
    df = engine.spark.createDataFrame(
        [(i, t, v) for i, t, v in CHUNKS], "id int, text string, embedding array<float>"
    )
    engine.register_table("chunks", df, row_id="id")
    engine.create_index("vidx", "chunks", "embedding", engine="diskann")
    return df


def test_hybrid_vector_only_degradation(engine):
    _setup_hybrid(engine)
    out = engine.hybrid_search(
        "chunks", "vidx", "embedding", "id", [1.0, 0.0, 0.0, 0.0], "fast query", k=3
    ).collect()
    # no FTS index -> vector-only (ann_search.cpp:1056)
    assert all(r["_bm25_rank"] == 0 for r in out)
    assert out[0]["id"] == 1  # exact vector match, vector rank 1
    assert out[0]["_rrf_score"] == pytest.approx(0.7 / (RRF_K + 1), abs=1e-6)


def test_hybrid_rrf_fusion(engine):
    _setup_hybrid(engine)
    engine.create_fts_index("fts", "chunks", "id", "text")
    out = engine.hybrid_search(
        "chunks", "vidx", "embedding", "id", [1.0, 0.0, 0.0, 0.0], "fast query", k=5
    ).collect()
    rows = {r["id"]: r for r in out}
    # doc 5 has tf(fast)=3 + tf(query)=1 -> top bm25; doc 1 top vector
    assert rows[5]["_bm25_rank"] == 1
    assert rows[1]["_vector_rank"] == 1
    for r in out:
        expect = 0.0
        if r["_bm25_rank"] > 0:
            expect += 0.3 / (RRF_K + r["_bm25_rank"])
        if r["_vector_rank"] > 0:
            expect += 0.7 / (RRF_K + r["_vector_rank"])
        assert r["_rrf_score"] == pytest.approx(expect, abs=1e-6)
    scores = [r["_rrf_score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_hybrid_doc_only_in_bm25_list(engine):
    _setup_hybrid(engine)
    engine.create_fts_index("fts", "chunks", "id", "text")
    # query text matches doc 4 (cats) which is vector-far; small candidate
    # lists keep it out of the vector list
    out = engine.hybrid_search(
        "chunks", "vidx", "embedding", "id",
        [1.0, 0.0, 0.0, 0.0], "cat pictures", k=5,
        vector_candidates=2, bm25_candidates=2,
    ).collect()
    rows = {r["id"]: r for r in out}
    assert rows[4]["_bm25_rank"] >= 1 and rows[4]["_vector_rank"] == 0


def test_sq8_on_diskann_graph(engine):
    """The reference's SQ8 lives on the DISKANN index
    (diskann_quantization.test:24-90): quantized flag set, top-1 exact-match
    parity, distances approximate full precision."""
    rng = np.random.RandomState(3)
    rows = [(i, rng.rand(4).astype(np.float32).tolist()) for i in range(60)]
    df = make_vectors_df(engine.spark, rows, dim=4)
    engine.register_table("gq", df, row_id="id")
    engine.create_index("gq8", "gq", engine="diskann", quantization="sq8")
    info = {r["name"]: r for r in engine.ann_index_info().collect()}
    assert info["gq8"]["quantized"] is True
    for probe_id in (0, 17, 42):
        q = rows[probe_id][1]
        res = engine.ann_search("gq", "gq8", q, k=1).collect()
        assert res[0]["id"] == probe_id
        # quantization error bounded: ~ (scale/255)^2 * dim
        assert res[0]["_distance"] < 1e-3


def test_sq8_on_streaming_build(engine):
    rng = np.random.RandomState(5)
    rows = [(i, rng.rand(4).astype(np.float32).tolist()) for i in range(120)]
    df = make_vectors_df(engine.spark, rows, dim=4)
    engine.register_table("sq", df, row_id="id")
    engine.streaming_build(
        "sbq8", "sq", sample_size=32, partition_rows=40, quantization="sq8"
    )
    idx = engine.get_index("sbq8")
    assert idx.meta.quantized is True
    res = idx.search(rows[7][1], 1).collect()
    assert res[0]["row_id"] == 7 and res[0]["_distance"] < 1e-3


def test_sq8_on_sharded_build(engine):
    """SQ8 on the out-of-core sharded path (provider.rs:157-230 applies SQ8
    regardless of index size): per-shard u8 codes under index-global
    min/scale, quantized flag set, DANN sidecars carry the SQ8 trailer
    (file_format.rs:84-120), search parity with the full-precision shards."""
    import os

    from duckdb_annsearch_spark.index.dann_format import read_dann

    rng = np.random.RandomState(21)
    n, dim = 400, 8
    rows = [(i, rng.rand(dim).astype(np.float32).tolist()) for i in range(n)]
    df = make_vectors_df(engine.spark, rows, dim=dim)
    engine.register_table("shv", df, row_id="id")
    engine.streaming_build(
        "shq8", "shv", shards=4, shard_by="kmeans", quantization="sq8"
    )
    engine.streaming_build("shfp", "shv", shards=4, shard_by="kmeans")

    info = {r["name"]: r for r in engine.ann_index_info().collect()}
    assert info["shq8"]["quantized"] is True
    idx = engine.get_index("shq8")
    assert idx.meta.extra.get("shards")

    # every shard's parquet has codes and its DANN sidecar an SQ8 trailer
    path = engine.catalog.data_path("shq8")
    for sid in idx.meta.extra["shard_ids"]:
        d = read_dann(os.path.join(path, f"shard={sid}", "_graph.diskann"))
        assert d["sq8"] is not None
        assert d["sq8"]["codes"].shape[1] == dim
        # f32 block stores the dequantized codes — the two serve modes agree
        mins, scales = d["sq8"]["mins"], d["sq8"]["scales"]
        deq = d["sq8"]["codes"].astype(np.float32) / 255.0 * scales + mins
        assert np.array_equal(deq, d["vectors"])

    # exact-match top-1 survives quantization (diskann_quantization.test)
    for probe_id in (3, 111, 222):
        q = rows[probe_id][1]
        res = engine.ann_search("shv", "shq8", q, k=1).collect()
        assert res[0]["id"] == probe_id and res[0]["_distance"] < 1e-3
    # quantized vs full-precision sharded search: top-10 overlap
    q = rows[42][1]
    quant = {r["id"] for r in engine.ann_search("shv", "shq8", q, k=10).collect()}
    full = {r["id"] for r in engine.ann_search("shv", "shfp", q, k=10).collect()}
    assert len(quant & full) >= 8


def test_sharded_sq8_mmap_matches_parquet(engine):
    """Quantized shards mmap-serve FROM the u8 code pages (_Sq8View) with
    results bit-identical to the parquet dequantize load."""
    import os

    from duckdb_annsearch_spark.index.graph import _load_shard, _MmapVamana, _Sq8View

    rng = np.random.RandomState(23)
    n, dim = 300, 8
    rows = [(i, rng.rand(dim).astype(np.float32).tolist()) for i in range(n)]
    df = make_vectors_df(engine.spark, rows, dim=dim)
    engine.register_table("shv2", df, row_id="id")
    engine.streaming_build("shm8", "shv2", shards=3, quantization="sq8")
    idx = engine.get_index("shm8")
    path = engine.catalog.data_path("shm8")
    sid = idx.meta.extra["shard_ids"][0]
    shard_dir = os.path.join(path, f"shard={sid}")

    g_m, rid_m = _load_shard(shard_dir)
    assert isinstance(g_m, _MmapVamana)
    assert isinstance(g_m.vectors, _Sq8View)  # serving off code pages
    g_r, rid_r = _load_shard(shard_dir, mmap=False)
    assert not isinstance(g_r, _MmapVamana)
    assert np.array_equal(np.asarray(rid_m), np.asarray(rid_r))

    qs = rng.rand(8, dim).astype(np.float32)
    res_m = g_m.beam_search_batch(qs, 5, 32)
    res_r = g_r.beam_search_batch(qs, 5, 32)
    for (lm, dm), (lr, dr) in zip(res_m, res_r):
        assert np.array_equal(np.asarray(lm), np.asarray(lr))
        assert np.array_equal(np.asarray(dm), np.asarray(dr))  # bit-identical



def test_sharded_sq8_rewrites_rescore_the_uncut_union(engine, monkeypatch):
    """Every serving path that re-scores a sharded quantized graph's
    candidates exactly asks the index for the uncut per-shard union
    (``merge_k=0``): the engine.sql top-k rewrite and topk_filtered, like
    ann_search(rerank=True)."""
    from pyspark.sql import functions as F

    from duckdb_annsearch_spark.index.base import BaseIndex

    rng = np.random.RandomState(29)
    n, dim = 300, 8
    rows = [(i, rng.rand(dim).astype(np.float32).tolist()) for i in range(n)]
    engine.register_table("shr", make_vectors_df(engine.spark, rows, dim=dim), row_id="id")
    engine.streaming_build("shr8", "shr", shards=3, quantization="sq8")
    seen = []
    search_batch = BaseIndex.search_batch

    def spy(self, queries, k, **kw):
        seen.append(kw.get("merge_k"))
        return search_batch(self, queries, k, **kw)

    monkeypatch.setattr(BaseIndex, "search_batch", spy)
    q = rows[17][1]
    arr = "array(" + ", ".join(f"CAST({x!r} AS FLOAT)" for x in q) + ")"
    decision = {}
    got = engine.sql(
        f"SELECT * FROM (SELECT *, array_distance(embedding, {arr}) AS d "
        "FROM shr) ORDER BY d LIMIT 5",
        explain=decision,
    ).collect()
    assert decision["rewritten"] and seen == [0]
    assert got[0]["id"] == 17
    got = engine.topk_filtered("shr", F.col("id") % 2 == 1, q, 5).collect()
    assert seen == [0, 0]
    assert all(r["id"] % 2 == 1 for r in got) and len(got) == 5

def test_sq8_on_ivfflat(engine):
    """SQ8 inside IVF cells: codes column in the hive partitions, both probe
    shapes dequantize, quantized flag set."""
    rng = np.random.RandomState(9)
    rows = [(i, rng.rand(4).astype(np.float32).tolist()) for i in range(80)]
    df = make_vectors_df(engine.spark, rows, dim=4)
    engine.register_table("ivq", df, row_id="id")
    engine.create_index(
        "ivq8", "ivq", engine="faiss", index_type="IVFFlat",
        ivf_nlist=4, nprobe=4, quantization="sq8",
    )
    idx = engine.get_index("ivq8")
    assert idx.meta.quantized is True
    for probe_id in (0, 33, 79):
        q = rows[probe_id][1]
        # data-parallel path
        res = engine.ann_search("ivq", "ivq8", q, k=1).collect()
        assert res[0]["id"] == probe_id and res[0]["_distance"] < 1e-3
        # query-distributed path
        qdf = engine.spark.createDataFrame([(1, q)], "qid int, v array<float>")
        res2 = engine.ann_search_table(qdf, "ivq", "ivq8", k=1).collect()
        assert res2[0]["id"] == probe_id
