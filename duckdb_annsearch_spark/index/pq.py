"""Product quantization (PQ): per-subspace codebooks, 8-bit codes, ADC search.

The reference parses arbitrary FAISS factory strings
(``/root/reference/src/faiss_index.cpp:39-60``); the composites it accepts but
never exercises in its tests (``PQ<m>``, ``IVF<n>,PQ<m>``) are implemented
natively here: ``m`` subspaces of ``dim/m`` each, 256 centroids per subspace
(one u8 code per subspace), trained by per-subspace k-means on a deterministic
stride sample — the same sampling discipline as the reference's IVF
``train_sample`` (``src/faiss_index.cpp:219-258``).

Search computes candidate distances on the PQ *reconstruction*.  This is
value-identical to the classical ADC lookup-table formulation — for L2,
``sum_j ||q_j - c_{j,code_j}||^2 == ||q - reconstruct(codes)||^2`` because the
subspaces are disjoint coordinate blocks — but expressed as the same float32
GEMM probe every other artifact uses, so the whole serving stack (partition
probe, query-distributed probe, IVF cell iteration) is shared with SQ8 rather
than forked.  Memory: ``m`` bytes/vector vs ``4*dim`` raw (e.g. 32x at
dim=64, m=8) — the quantization whose compression actually matters at 100 TB.

This module holds the PQ/OPQ numerics only (code width, Lloyd training,
encode/decode of one matrix); sampling, the distributed encode, the
codebook/rotation sidecars and the descriptor live in ``quant.py`` with
every other quantizer.
"""

from __future__ import annotations

import numpy as np

DEFAULT_PQ_M = 8
PQ_KSUB = 256  # 8-bit codes: one byte per subspace


# Auto-scaling rule for the default code width, measured on uniform 64-d
# vectors (ROADMAP.md "Scale demonstration"): pq_m=16 holds the reference's
# >=0.7 recall@10 floor (test/sql/diskann_streaming.test:44-49) through 10M
# rows but collapses to 0.5 min at 20M — ADC subspace granularity, not
# candidate starvation (the oversample sweep at 20M is flat in oversample);
# pq_m=32 at the identical shard config restores 0.985 mean / 0.9 min with
# probe wall unchanged.  Distance concentration tightens as N grows, so the
# per-subspace quantization noise must shrink to keep neighbor ordering
# resolvable: each (row-count floor -> dim divisor) tier doubles bytes/vector.
PQ_AUTO_TIERS = ((10_000_000, 2), (2_000_000, 4), (0, 8))


def pq_m_auto(dim: int, n: int) -> int:
    """Scale-aware default subspace count: dim//2 at >=10M rows, dim//4 at
    >=2M, max(8, dim//8) below — snapped down to the largest divisor of dim
    (codes must split the vector into equal blocks), never below 1."""
    target = DEFAULT_PQ_M
    for floor, div in PQ_AUTO_TIERS:
        if n >= floor:
            target = max(DEFAULT_PQ_M, dim // div)
            break
    for m in range(min(target, dim), 0, -1):
        if dim % m == 0:
            return m
    return 1


def pq_m_for(dim: int, m: int | None, n: int | None = None) -> int:
    """Validated subspace count: dim must split evenly into m blocks.
    When the caller does not pin ``pq_m``, the default scales with the
    indexed row count ``n`` (see ``pq_m_auto``); an explicit ``pq_m`` is
    validated strictly and never adjusted."""
    if m is None:
        return pq_m_auto(dim, 0 if n is None else int(n))
    m = int(m)
    if m <= 0 or dim % m != 0:
        raise ValueError(
            f"pq_m={m} must be a positive divisor of the vector dimension {dim}"
        )
    return m


def train_pq(
    sample: np.ndarray,
    m: int,
    iters: int = 15,
    seed: int = 0,
    init: np.ndarray | None = None,
) -> np.ndarray:
    """(m, 256, dim//m) float32 codebooks — per-subspace Lloyd k-means,
    deterministic (fixed seed, fixed iteration count, empty clusters keep
    their previous centroid).

    The centroid update is dsub bincounts per iteration (round 9) — the
    per-cluster masked-mean loop was 256 x iters x m Python-level numpy
    calls of driver CPU, the critical path of concurrent PQ/OPQ builds.
    ``init`` warm-starts from existing codebooks (skips the seeded random
    init) — OPQ alternations re-train from the previous alternation's
    books the way FAISS's OPQMatrix does, so each needs only a few Lloyd
    steps instead of a full from-scratch train."""
    n, dim = sample.shape
    dsub = dim // m
    rng = np.random.RandomState(seed)
    if n == 0:
        # zero indexable rows (empty table / vacuum after delete-all):
        # zero codebooks — nothing to encode, inserts ride the
        # full-precision delta until a vacuum retrains
        return np.zeros((m, PQ_KSUB, dsub), dtype=np.float32)
    books = np.empty((m, PQ_KSUB, dsub), dtype=np.float32)
    for j in range(m):
        xs = np.ascontiguousarray(sample[:, j * dsub : (j + 1) * dsub])
        if init is not None:
            cents = np.ascontiguousarray(init[j], dtype=np.float32).copy()
        elif n >= PQ_KSUB:
            cents = xs[rng.choice(n, size=PQ_KSUB, replace=False)].copy()
        else:
            cents = xs[rng.choice(n, size=PQ_KSUB, replace=True)].copy()
            cents += rng.randn(PQ_KSUB, dsub).astype(np.float32) * 1e-4
        xs64 = xs.astype(np.float64)
        for _ in range(iters):
            # argmin_k ||x - c_k||^2 == argmin_k (||c_k||^2 - 2 c_k.x)
            cx = xs @ cents.T  # (n, ksub) GEMM
            cc = np.einsum("kd,kd->k", cents, cents)
            assign = np.argmin(cc[None, :] - 2.0 * cx, axis=1)
            counts = np.bincount(assign, minlength=PQ_KSUB)
            sums = np.empty((PQ_KSUB, dsub), dtype=np.float64)
            for d in range(dsub):
                sums[:, d] = np.bincount(
                    assign, weights=xs64[:, d], minlength=PQ_KSUB
                )
            new = cents.copy()  # empty clusters keep their previous centroid
            ne = counts > 0
            new[ne] = (sums[ne] / counts[ne, None]).astype(np.float32)
            if np.allclose(new, cents, atol=1e-7):
                cents = new
                break
            cents = new
        books[j] = cents
    return books


def train_opq(
    sample: np.ndarray, m: int, iters: int = 8, seed: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """(rotation (dim, dim), codebooks (m, 256, dim//m)) — OPQ: learn an
    orthogonal rotation minimizing PQ reconstruction error by alternating
    (1) PQ training in the rotated space with (2) the orthogonal Procrustes
    solve ``R = U V^T`` of ``svd(S^T S_hat)`` (Ge et al., "Optimized
    Product Quantization", CVPR 2013 — the method behind FAISS's
    ``OPQMatrix`` pretransform)."""
    n, dim = sample.shape
    r = np.eye(dim, dtype=np.float32)
    if n == 0:
        return r, train_pq(sample, m, seed=seed)
    books = None
    for _ in range(iters):
        rotated = sample @ r
        # first alternation trains in full; later ones warm-start from the
        # previous books and take a few Lloyd steps (the rotation moves
        # slowly, so the previous codebooks are a near-converged init —
        # FAISS OPQMatrix trains its alternations the same way)
        books = train_pq(
            rotated, m, seed=seed,
            iters=4 if books is not None else 15, init=books,
        )
        recon = decode_pq(encode_pq(rotated, books), books)
        u, _s, vt = np.linalg.svd(sample.T.astype(np.float64) @ recon.astype(np.float64))
        r_new = (u @ vt).astype(np.float32)
        if np.allclose(r_new, r, atol=1e-6):
            r = r_new
            break
        r = r_new
    # final codebook train for the FINAL rotation — inside the loop the
    # books always lag the rotation update by one alternation, so
    # returning them as-is would deploy codebooks fitted to the previous
    # rotated distribution (FAISS OPQMatrix likewise re-trains after the
    # last rotation update)
    books = train_pq(sample @ r, m, seed=seed, init=books)
    return r, books


def encode_pq(x: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, m) uint8 codes: per-subspace nearest centroid — one (n, ksub)
    GEMM per subspace (||c||^2 - 2 c.x identity; the +||x||^2 constant
    cannot move the argmin)."""
    n, dim = x.shape
    m, _ksub, dsub = books.shape
    codes = np.empty((n, m), dtype=np.uint8)
    if n == 0:
        return codes
    for j in range(m):
        xs = np.ascontiguousarray(
            x[:, j * dsub : (j + 1) * dsub], dtype=np.float32
        )
        bj = np.ascontiguousarray(books[j], dtype=np.float32)
        cx = xs @ bj.T
        cc = np.einsum("kd,kd->k", bj, bj)
        codes[:, j] = np.argmin(cc[None, :] - 2.0 * cx, axis=1).astype(np.uint8)
    return codes


def decode_pq(codes: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(n, dim) float32 reconstruction: concatenated per-subspace centroids."""
    n, m = codes.shape
    _m, _ksub, dsub = books.shape
    out = np.empty((n, m * dsub), dtype=np.float32)
    for j in range(m):
        out[:, j * dsub : (j + 1) * dsub] = books[j][codes[:, j]]
    return out
