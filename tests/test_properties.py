"""Property-based tests (hypothesis) over the numpy core: beam search on a
complete graph is exact, RobustPrune invariants, RunningTopK == argsort,
DANN round-trip, SQ8 error bound.  Pure library code — no Spark jobs, so
hypothesis can run many examples cheaply."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_annsearch_spark.index.dann_format import read_dann, write_dann
from duckdb_annsearch_spark.index.scan import RunningTopK
from duckdb_annsearch_spark.index.vamana import VamanaGraph, _dists, robust_prune

vec_sets = st.integers(min_value=2, max_value=40)
dims = st.integers(min_value=1, max_value=8)
seeds = st.integers(min_value=0, max_value=2**31 - 1)


@given(n=vec_sets, dim=dims, seed=seeds)
@settings(max_examples=40, deadline=None)
def test_beam_search_exact_on_complete_graph(n, dim, seed):
    rng = np.random.RandomState(seed)
    x = rng.rand(n, dim).astype(np.float32)
    nbrs = [np.asarray([j for j in range(n) if j != i], dtype=np.int64) for i in range(n)]
    g = VamanaGraph(x, nbrs, 0, "l2")
    q = rng.rand(dim).astype(np.float32)
    k = min(5, n)
    labels, dists = g.beam_search(q, k, max(k, n))
    truth = np.argsort(_dists("l2", x, q), kind="stable")[:k]
    assert sorted(labels.tolist()) == sorted(truth.tolist())
    assert np.all(np.diff(dists) >= 0)  # ascending


@given(n=st.integers(min_value=2, max_value=60), seed=seeds)
@settings(max_examples=40, deadline=None)
def test_robust_prune_invariants(n, seed):
    rng = np.random.RandomState(seed)
    x = rng.rand(n, 4).astype(np.float32)
    p = int(rng.randint(n))
    cands = np.arange(n, dtype=np.int64)
    d = _dists("l2", x, x[p])
    max_degree = int(rng.randint(1, 16))
    out = robust_prune(p, cands, d, x, 1.2, max_degree, "l2")
    assert len(out) <= max_degree
    assert p not in out
    assert len(set(out.tolist())) == len(out)
    if len(out):
        # first pick is the true nearest non-self candidate
        others = d.copy()
        others[p] = np.inf
        assert out[0] == int(np.argmin(others))


@given(
    n=st.integers(min_value=1, max_value=200),
    k=st.integers(min_value=1, max_value=20),
    batches=st.integers(min_value=1, max_value=5),
    seed=seeds,
)
@settings(max_examples=40, deadline=None)
def test_running_topk_matches_argsort(n, k, batches, seed):
    rng = np.random.RandomState(seed)
    d = rng.rand(n).astype(np.float32)
    rid = rng.permutation(n).astype(np.int64)
    top = RunningTopK(1, k)
    for chunk_d, chunk_r in zip(np.array_split(d, batches), np.array_split(rid, batches)):
        if chunk_d.size:
            top.update(0, chunk_d, chunk_r)
    r, dd = top.result(0)
    order = np.lexsort((rid, d))[: min(k, n)]
    assert r.tolist() == rid[order].tolist()
    assert np.allclose(dd, d[order])


@given(n=st.integers(min_value=0, max_value=30), dim=dims, seed=seeds)
@settings(max_examples=25, deadline=None)
def test_dann_roundtrip_property(n, dim, seed, tmp_path_factory):
    rng = np.random.RandomState(seed)
    x = rng.rand(n, dim).astype(np.float32) if n else np.zeros((0, dim), np.float32)
    nbrs = [
        np.asarray(sorted(set(rng.randint(0, n, size=rng.randint(0, 5)).tolist()) - {i}), dtype=np.int64)
        for i in range(n)
    ]
    p = str(tmp_path_factory.mktemp("dann") / "f.diskann")
    write_dann(p, x, nbrs, [0] if n else [], metric="l2", max_degree=8)
    d = read_dann(p)
    assert d["vectors"].shape == (n, dim)
    assert [list(a) for a in d["neighbors"]] == [list(a) for a in nbrs]


@given(dim=dims, seed=seeds)
@settings(max_examples=30, deadline=None)
def test_sq8_error_bound(dim, seed):
    rng = np.random.RandomState(seed)
    x = (rng.rand(50, dim).astype(np.float32) * 10 - 5).astype(np.float32)
    mins = x.min(axis=0)
    scales = np.maximum(x.max(axis=0) - mins, 1e-12)
    codes = np.clip(np.rint((x - mins) / scales * 255.0), 0, 255).astype(np.uint8)
    deq = codes.astype(np.float32) / 255.0 * scales + mins
    # quantization error per dim <= half a code step
    assert np.all(np.abs(deq - x) <= scales / 255.0 / 2 + 1e-5)


@given(
    n=st.integers(min_value=4, max_value=50),
    m=st.sampled_from([1, 2, 4]),
    dsub=st.integers(min_value=1, max_value=4),
    seed=seeds,
)
@settings(max_examples=30, deadline=None)
def test_pq_adc_identity_and_idempotence(n, m, dsub, seed):
    """PQ invariants: (1) the ADC lookup-table distance equals the
    reconstruction distance for every candidate (disjoint subspaces);
    (2) decode(encode(decode(codes))) == decode(codes) — reconstructions
    are fixed points up to duplicate-centroid ties (with fewer training
    rows than centroids, near-identical centroids are legal and argmin may
    pick either, so code identity is NOT the invariant)."""
    from duckdb_annsearch_spark.index.pq import decode_pq, encode_pq, train_pq

    dim = m * dsub
    rng = np.random.RandomState(seed)
    x = rng.rand(n, dim).astype(np.float32)
    books = train_pq(x, m, iters=5, seed=seed % 1000)
    codes = encode_pq(x, books)
    recon = decode_pq(codes, books)
    q = rng.rand(dim).astype(np.float32)
    lut = np.stack(
        [
            ((books[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
            for j in range(m)
        ]
    )
    adc = lut[np.arange(m)[:, None], codes.T.astype(np.int64)].sum(axis=0)
    rec = ((recon - q) ** 2).sum(axis=1)
    np.testing.assert_allclose(adc, rec, rtol=1e-3, atol=1e-4)
    # tolerance covers the 1e-4 jitter train_pq adds to duplicated init
    # points when n < 256: tied re-encodes may land on a jittered twin
    recon2 = decode_pq(encode_pq(recon, books), books)
    np.testing.assert_allclose(recon2, recon, atol=1e-3)


@given(
    bits=st.sampled_from([4, 6, 8]),
    n=st.integers(min_value=1, max_value=40),
    dim=st.integers(min_value=1, max_value=24),
    seed=seeds,
)
@settings(max_examples=60, deadline=None)
def test_sq_family_pack_roundtrip_error_bound(bits, n, dim, seed):
    """For every sub-byte width: packed-code decode stays within half a
    quantization step per dimension, and code width is ceil(dim*bits/8)."""
    from duckdb_annsearch_spark.index import kernels
    from duckdb_annsearch_spark.index.base import pack_sq_codes

    rng = np.random.RandomState(seed)
    x = rng.randn(n, dim).astype(np.float32) * rng.rand() * 10
    mn, mx = x.min(axis=0), x.max(axis=0)
    sc = np.maximum(mx - mn, 1e-12)
    levels = (1 << bits) - 1
    q = np.clip(np.rint((x - mn) / sc * levels), 0, levels).astype(np.uint8)
    packed = pack_sq_codes(q, bits)
    assert packed.shape == (n, -(-dim * bits // 8))
    dq = {"mins": mn.tolist(), "scales": sc.tolist()}
    if bits != 8:
        dq["bits"] = bits
    dec = kernels.decode_codes(packed, dq)
    assert np.abs(dec - x).max() <= (sc / levels).max() * 0.51


@given(
    n=st.integers(min_value=1, max_value=40),
    dim=st.integers(min_value=1, max_value=16),
    nbits=st.integers(min_value=1, max_value=48),
    seed=seeds,
)
@settings(max_examples=60, deadline=None)
def test_lsh_gemm_hamming_identity(n, dim, nbits, seed):
    """Squared-L2 between decoded ±1 images == 4 * hamming(codes) for every
    (n, dim, nbits) — the identity the LSH serving path rides on; and
    transform_queries of a stored row equals its decoded image."""
    from duckdb_annsearch_spark.index import kernels, lsh

    rng = np.random.RandomState(seed)
    x = rng.randn(n, dim).astype(np.float32)
    mean, h = lsh.train_lsh(x, dim, nbits)
    codes = lsh.encode_lsh(x, mean, h)
    dq = {"lsh_mean": mean, "lsh_h": h}
    dec = kernels.decode_codes(codes, dq)
    bits = np.unpackbits(codes, axis=1)[:, :nbits]
    i = int(rng.randint(n))
    ham = (bits ^ bits[i]).sum(axis=1)
    np.testing.assert_array_equal(((dec - dec[i]) ** 2).sum(axis=1), 4.0 * ham)
    np.testing.assert_array_equal(kernels.transform_queries(x, dq), dec)


@given(
    n=st.integers(min_value=2, max_value=60),
    dim=st.integers(min_value=2, max_value=12),
    seed=seeds,
)
@settings(max_examples=60, deadline=None)
def test_pca_decode_is_best_rank_dout_reconstruction(n, dim, seed):
    """decode(encode(x)) equals the orthogonal projection onto the learned
    subspace, whose error never exceeds the centered data norm; W rows stay
    orthonormal for every sample shape."""
    from duckdb_annsearch_spark.index import kernels
    from duckdb_annsearch_spark.index.pca import train_pca

    rng = np.random.RandomState(seed)
    x = rng.randn(n, dim).astype(np.float32)
    dout = int(rng.randint(1, dim + 1))
    mean, w = train_pca(x, dout)
    np.testing.assert_allclose(w @ w.T, np.eye(dout), atol=1e-4)
    y = (x - mean) @ w.T
    bufs = [y[i].astype(np.float32).tobytes() for i in range(n)]
    dec = kernels.decode_codes(bufs, {"pca_mean": mean, "pca_w": w})
    proj = (x - mean) @ w.T @ w + mean
    np.testing.assert_allclose(dec, proj, atol=1e-3)
    assert ((dec - x) ** 2).sum() <= ((x - x.mean(0)) ** 2).sum() + 1e-2
