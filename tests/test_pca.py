"""PCA pretransform (FAISS PCAMatrix, factory prefix "PCA<dout>"): reduced
f32 codes + W^T reconstruction through the shared decode path, rerank-exact
serving.  See ``index/quant.py``."""

import numpy as np
import pytest

from tests.conftest import make_vectors_df


def _rand_rows(seed, n, dim):
    rng = np.random.RandomState(seed)
    return [(i, rng.rand(dim).astype(np.float32).tolist()) for i in range(n)]


def _exact_topk(rows, q, k):
    x = np.asarray([v for _, v in rows], dtype=np.float32)
    d = ((x - np.asarray(q, dtype=np.float32)) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(len(rows)), d))
    return [rows[i][0] for i in order[:k]]


def test_train_pca_orthonormal_and_deterministic():
    from duckdb_annsearch_spark.index.quant import train_pca

    rng = np.random.RandomState(7)
    x = rng.randn(500, 12).astype(np.float32)
    mean, w = train_pca(x, 5)
    assert w.shape == (5, 12) and mean.shape == (12,)
    np.testing.assert_allclose(w @ w.T, np.eye(5), atol=1e-5)
    mean2, w2 = train_pca(x, 5)
    assert np.array_equal(w, w2) and np.array_equal(mean, mean2)
    with pytest.raises(ValueError):
        train_pca(x, 13)
    with pytest.raises(ValueError):
        train_pca(x, 0)


def test_pca_decode_is_projection():
    """decode(encode(x)) must equal the orthogonal projection of x onto the
    principal subspace (plus mean) — the best rank-dout reconstruction."""
    from duckdb_annsearch_spark.index import kernels
    from duckdb_annsearch_spark.index.quant import train_pca

    rng = np.random.RandomState(3)
    x = rng.randn(200, 10).astype(np.float32)
    mean, w = train_pca(x, 4)
    y = (x - mean) @ w.T
    bufs = [y[i].astype(np.float32).tobytes() for i in range(len(y))]
    dec = kernels.decode_codes(bufs, {"pca_mean": mean, "pca_w": w})
    proj = (x - mean) @ w.T @ w + mean
    np.testing.assert_allclose(dec, proj, atol=1e-4)
    # reconstruction error never exceeds the original deviation
    assert ((dec - x) ** 2).sum() <= ((x - x.mean(0)) ** 2).sum() + 1e-3


def test_pca_flat_rerank_exact(engine):
    rows = _rand_rows(19, 300, 16)
    engine.register_table(
        "pcav", make_vectors_df(engine.spark, rows, dim=16), row_id="id"
    )
    engine.create_index("pca8", "pcav", engine="faiss", description="PCA8")
    meta = engine.catalog.load("pca8")
    assert meta.quantized is True and meta.extra["quantization"] == "pca"
    art = engine.get_index("pca8").artifact()
    assert len(art.select("codes").first()["codes"]) == 4 * 8
    q = rows[42][1]
    got = [
        r["id"]
        for r in engine.ann_search(
            "pcav", "pca8", q, k=10, oversample=10, rerank=True
        ).collect()
    ]
    assert got == _exact_topk(rows, q, 10)
    # raw (non-reranked) serving still finds most of the true top-10: the
    # subspace keeps the dominant variance
    raw = {r["id"] for r in engine.ann_search("pcav", "pca8", q, k=10).collect()}
    assert len(raw & set(_exact_topk(rows, q, 10))) >= 5


def test_pca_persistence_and_vacuum(engine):
    from duckdb_annsearch_spark.engine import AnnEngine

    rows = _rand_rows(29, 150, 8)
    engine.register_table(
        "pcap", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    engine.create_index("pca4", "pcap", engine="faiss", description="PCA4,Flat")
    q = rows[9][1]
    before = [r["id"] for r in
              engine.ann_search("pcap", "pca4", q, k=5, oversample=10, rerank=True).collect()]
    # restart rebind loads the persisted matrix
    eng2 = AnnEngine(engine.spark, workdir=engine.workdir)
    eng2.register_table(
        "pcap", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    after = [r["id"] for r in
             eng2.ann_search("pcap", "pca4", q, k=5, oversample=10, rerank=True).collect()]
    assert before == after == _exact_topk(rows, q, 5)
    # vacuum retrains and stays PCA
    engine.delete("pcap", [rows[0][0]])
    engine.vacuum("pca4")
    meta = engine.catalog.load("pca4")
    assert meta.extra.get("quantization") == "pca" and meta.extra["pca_dim"] == 4
    got = [r["id"] for r in
           engine.ann_search("pcap", "pca4", q, k=5, oversample=10, rerank=True).collect()]
    assert got == _exact_topk(rows[1:], q, 5)


def test_pca_rejections(engine):
    rows = _rand_rows(5, 30, 4)
    engine.register_table(
        "pcar", make_vectors_df(engine.spark, rows, dim=4), row_id="id"
    )
    with pytest.raises(ValueError):  # pca needs pca_dim
        engine.create_index(
            "r1", "pcar", engine="faiss", index_type="IVFFlat",
            ivf_nlist=2, quantization="pca",
        )
    with pytest.raises(ValueError):  # PCA over IVFPQ: two lossy transforms
        engine.create_index("r2", "pcar", engine="faiss", description="PCA2,IVF2,PQ2")
    with pytest.raises(ValueError):  # dout > dim caught at train time
        engine.create_index("r3", "pcar", engine="faiss", description="PCA9")


def test_pca_ivf_composite(engine):
    """"PCA<dout>,IVF<nlist>,Flat" (new r5): reduced f32 codes inside IVF
    cells, W^T reconstruction at probe, full-probe + rerank == exact."""
    rows = _rand_rows(31, 300, 16)
    engine.register_table(
        "pcai", make_vectors_df(engine.spark, rows, dim=16), row_id="id"
    )
    engine.create_index(
        "pi", "pcai", engine="faiss", description="PCA8,IVF4,Flat", nprobe=4
    )
    meta = engine.catalog.load("pi")
    assert meta.quantized is True
    assert meta.extra["quantization"] == "pca" and meta.extra["pca_dim"] == 8
    art = engine.get_index("pi").artifact()
    assert len(art.select("codes").first()["codes"]) == 4 * 8
    q = rows[42][1]
    got = [
        r["id"]
        for r in engine.ann_search(
            "pcai", "pi", q, k=10, oversample=10, rerank=True, nprobe=4
        ).collect()
    ]
    assert got == _exact_topk(rows, q, 10)
    # partial probe narrows the candidate set but still returns k rows
    part = engine.ann_search("pcai", "pi", q, k=10, nprobe=1).collect()
    assert len(part) == 10
