"""LSH binary-code index (FAISS IndexLSH, factory "LSH[<nbits>]"): hyperplane
sign bits, hamming candidate ranking through the ±1-image GEMM, rerank-exact
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


def test_pm1_gemm_is_hamming():
    """Squared-L2 between the ±1 images must equal exactly 4x the hamming
    distance between the packed codes — the identity the serving path
    relies on."""
    from duckdb_annsearch_spark.index import kernels, quant

    rng = np.random.RandomState(1)
    x = rng.randn(64, 10).astype(np.float32)
    mean, h = quant.train_lsh(x, 10, 24)
    codes = quant.encode_lsh(x, mean, h)
    dec = kernels.decode_codes(codes, {"lsh_mean": mean, "lsh_h": h})
    assert dec.shape == (64, 24) and set(np.unique(dec)) <= {-1.0, 1.0}
    qbits = np.unpackbits(codes, axis=1)[:, :24]
    for i in (0, 7, 31):
        ham = (qbits ^ qbits[i]).sum(axis=1)
        l2 = ((dec - dec[i]) ** 2).sum(axis=1)
        np.testing.assert_array_equal(l2, 4.0 * ham)


def test_lsh_self_query_top1(engine):
    """A dataset row queried against the index must come back first: its
    code image is identical, hamming 0."""
    rows = _rand_rows(13, 200, 16)
    engine.register_table(
        "lshv", make_vectors_df(engine.spark, rows, dim=16), row_id="id"
    )
    engine.create_index("lsh_d", "lshv", engine="faiss", description="LSH")
    meta = engine.catalog.load("lsh_d")
    assert meta.quantized is True and meta.extra["lsh_nbits"] == 16
    art = engine.get_index("lsh_d").artifact()
    assert len(art.select("codes").first()["codes"]) == 2  # ceil(16/8)
    for probe_id in (0, 99, 199):
        q = rows[probe_id][1]
        res = engine.ann_search("lshv", "lsh_d", q, k=1, oversample=5, rerank=True).collect()
        assert res[0]["id"] == probe_id


def test_lsh_wide_codes_rerank_exact(engine):
    """4 bits/dim ("LSH64" on dim 16) + 10x overfetch + exact rerank
    recovers the true top-k on random data."""
    rows = _rand_rows(17, 300, 16)
    engine.register_table(
        "lshw", make_vectors_df(engine.spark, rows, dim=16), row_id="id"
    )
    engine.create_index("lsh64", "lshw", engine="faiss", description="LSH64")
    assert engine.catalog.load("lsh64").extra["lsh_nbits"] == 64
    q = rows[42][1]
    exact = _exact_topk(rows, q, 10)
    got = [
        r["id"]
        for r in engine.ann_search(
            "lshw", "lsh64", q, k=10, oversample=10, rerank=True
        ).collect()
    ]
    assert got == exact
    # raw hamming ranking alone still lands a decent share of the true set
    raw = {r["id"] for r in engine.ann_search("lshw", "lsh64", q, k=10).collect()}
    assert len(raw & set(exact)) >= 3


def test_lsh_restart_and_vacuum(engine):
    from duckdb_annsearch_spark.engine import AnnEngine

    rows = _rand_rows(37, 150, 8)
    engine.register_table(
        "lshp", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    engine.create_index("lshp32", "lshp", engine="faiss", description="LSH32")
    q = rows[5][1]
    before = [r["id"] for r in
              engine.ann_search("lshp", "lshp32", q, k=5, oversample=10, rerank=True).collect()]
    eng2 = AnnEngine(engine.spark, workdir=engine.workdir)
    eng2.register_table(
        "lshp", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    after = [r["id"] for r in
             eng2.ann_search("lshp", "lshp32", q, k=5, oversample=10, rerank=True).collect()]
    assert before == after == _exact_topk(rows, q, 5)
    engine.delete("lshp", [rows[0][0]])
    engine.vacuum("lshp32")
    meta = engine.catalog.load("lshp32")
    assert meta.extra.get("quantization") == "lsh" and meta.extra["lsh_nbits"] == 32
    got = [r["id"] for r in
           engine.ann_search("lshp", "lshp32", q, k=5, oversample=10, rerank=True).collect()]
    assert got == _exact_topk(rows[1:], q, 5)


def test_lsh_rejections(engine):
    rows = _rand_rows(3, 30, 4)
    engine.register_table(
        "lshr", make_vectors_df(engine.spark, rows, dim=4), row_id="id"
    )
    with pytest.raises(ValueError, match="L2"):
        engine.create_index(
            "r1", "lshr", engine="faiss", description="LSH", metric="ip"
        )
    with pytest.raises(ValueError):
        engine.create_index(
            "r2", "lshr", engine="faiss", index_type="IVFFlat",
            ivf_nlist=2, quantization="lsh",
        )
    with pytest.raises(ValueError):
        engine.create_index("r3", "lshr", engine="faiss", description="IVF2,LSH")


def test_lsh_insert_delta_merges_on_hamming_scale(engine):
    """Rows inserted after an LSH build are brute-forced from the delta —
    their distances must land on the SAME 4*hamming scale as the coded main
    hits (raw_vectors transform), or delta rows crowd out every indexed row
    in the merged top-k regardless of actual proximity."""
    rows = _rand_rows(71, 150, 8)
    engine.register_table(
        "lshd", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    engine.create_index("lshd64", "lshd", engine="faiss", description="LSH64")
    q = rows[5][1]
    # insert rows far from q — with the scale bug these dominate the top-k
    rng = np.random.RandomState(72)
    far = [(500 + i, (rng.rand(8).astype(np.float32) + 3.0).tolist()) for i in range(10)]
    engine.insert("lshd", make_vectors_df(engine.spark, far, dim=8))
    live = rows + far
    got = [
        r["id"]
        for r in engine.ann_search(
            "lshd", "lshd64", q, k=5, oversample=10, rerank=True
        ).collect()
    ]
    assert got == _exact_topk(live, q, 5)
    assert not any(g >= 500 for g in got)
    # and an inserted NEAR-duplicate must win through the same merge
    engine.insert("lshd", make_vectors_df(engine.spark, [(600, q)], dim=8))
    got2 = [
        r["id"]
        for r in engine.ann_search(
            "lshd", "lshd64", q, k=2, oversample=10, rerank=True
        ).collect()
    ]
    assert set(got2) == {5, 600}
    # the df-distributed surface (ann_search_table path) merges on the same
    # scale too
    idx = engine.get_index("lshd64")
    qdf = engine.spark.createDataFrame([(0, q)], "query_idx long, query array<float>")
    got3 = [r["row_id"] for r in
            idx.search_batch_df(qdf, 2).orderBy("_distance", "row_id").collect()]
    assert set(got3) == {5, 600}
