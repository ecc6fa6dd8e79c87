"""Numpy distance kernels, the partition-parallel batch top-k probe, and
the per-query top-k pieces every index probe shares: the query check
(``valid_queries``), the hit frame (``hits_frame``) and the reduce-side
merge (``topk_per_query``).

These are the Spark mapping of the reference's SIMD/GPU batch distance layer
(``/root/reference/rust_lib/src/distance.rs``, lock-step batch search in
``rust_lib/src/provider.rs:243-440``): inside each Arrow batch we amortize
distance work across all queries with one float32 GEMM — the same idea as the
reference's batched Metal/SIMD dispatch, but per Spark partition, so the work
distributes across executors.

Semantics (lower = better, identical to ``functions.distance.metric_distance``):
  l2     -> squared euclidean
  ip     -> negated dot product
  cosine -> 1 - cosine similarity
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# np.einsum's python wrapper re-parses the subscript string per call (~2 µs —
# half the single-query small-n budget, BASELINE.md n=64,d=128). The C entry
# point skips that; fixed patterns like "ij,ij->i" need nothing else. numpy 2
# moved the symbol under _core; fall back to the public wrapper if absent.
try:
    from numpy.core.multiarray import c_einsum as _c_einsum
except Exception:  # pragma: no cover - numpy version dependent
    try:
        from numpy._core.multiarray import c_einsum as _c_einsum
    except Exception:
        _c_einsum = np.einsum


# Candidate squared-norms cache for the L2 identity: ||x||^2 per row is a
# property of the candidate BLOCK, which repeats across successive queries
# in every serving pattern (a resident worker probing its cached shard, the
# micro bench's fixed grid) — FAISS likewise stores precomputed norms next
# to its vectors. Guarded by a weakref: a hit requires the weakref to still
# resolve to the SAME array object, so id() reuse after gc can never serve
# stale values; a death callback evicts the entry the moment the source
# array is collected, so derived arrays never outlive their block. Bounded
# at 16 entries as a backstop.
#
# CONTRACT: identity-keyed means identity-implies-contents — callers must
# NOT mutate a query or candidate array in place between calls (pass a
# fresh array per distinct value, as every internal probe loop does); an
# in-place writer would be served operands computed from the old contents.
_XNORM_CACHE: dict[int, tuple] = {}


def _ident_cache_get(cache: dict, arr: np.ndarray):
    ent = cache.get(id(arr))
    if ent is not None:
        ref, v = ent
        if ref() is arr:
            return v
    return None


def _ident_cache_put(cache: dict, arr: np.ndarray, value) -> None:
    import weakref

    key = id(arr)
    try:
        ref = weakref.ref(arr, lambda _r, _c=cache, _k=key: _c.pop(_k, None))
    except TypeError:
        return  # non-weakref-able input; just skip caching
    if len(cache) >= 16:
        for k in list(cache)[:8]:  # drop oldest half (insertion order)
            cache.pop(k, None)
    cache[key] = (ref, value)


def _x_sqnorms(x: np.ndarray) -> np.ndarray:
    xx = _ident_cache_get(_XNORM_CACHE, x)
    if xx is None:
        xx = _c_einsum("ij,ij->i", x, x)
        _ident_cache_put(_XNORM_CACHE, x, xx)
    return xx


# Augmented-candidate cache for SMALL blocks (n*d <= ~24k, <=96 KiB each):
# XA = [x | ||x||^2 | 1] reduces a whole single-query L2 to ONE GEMV —
# d = XA @ [-2q, 1, ||q||^2] — because at n=64,d=128 the kernel is pure
# numpy dispatch overhead, not FLOPs (README.md micro-grid floor). Same
# weakref discipline as _XNORM_CACHE.
_XAUG_CACHE: dict[int, tuple] = {}
_SMALL_BLOCK = 24576


def _x_augmented(x: np.ndarray) -> np.ndarray:
    xa = _ident_cache_get(_XAUG_CACHE, x)
    if xa is not None:
        return xa
    n, d = x.shape
    xa = np.empty((n, d + 2), dtype=np.float32)
    xa[:, :d] = x
    xa[:, d] = _c_einsum("ij,ij->i", x, x)
    xa[:, d + 1] = 1.0
    _ident_cache_put(_XAUG_CACHE, x, xa)
    return xa


# Query-side twin: probe loops pass the SAME query matrix object for every
# Arrow batch of a task (probe_partitions closes over qarr), so the
# [-2q, 1, ||q||^2] operand is built once per task, not once per batch.
_QAUG_CACHE: dict[int, tuple] = {}


def _q_augmented(q: np.ndarray) -> np.ndarray:
    qa = _ident_cache_get(_QAUG_CACHE, q)
    if qa is not None:
        return qa
    qv = q[0]
    dim = qv.shape[0]
    qa = np.empty(dim + 2, dtype=np.float32)
    np.multiply(qv, np.float32(-2.0), out=qa[:dim])
    qa[dim] = 1.0
    qa[dim + 1] = qv @ qv
    _ident_cache_put(_QAUG_CACHE, q, qa)
    return qa


def pairwise_distances(queries: np.ndarray, cands: np.ndarray, metric: str) -> np.ndarray:
    """(nq, n) float32 distance matrix; one GEMM for the whole batch.

    L2 always uses the norms identity ``||x||^2 - 2 x.q + ||q||^2`` (one
    formula at every size, clamped at 0), with the candidate norms served
    from :func:`_x_sqnorms` — on repeated candidate blocks a single query
    costs one GEMV plus three vector ops.  nq==1 takes GEMV fast paths:
    the full GEMM identity's extra numpy dispatches (~1 µs each) dominate
    at single-query sizes (BASELINE.md micro grid).

    Numerical note: the identity cancels catastrophically in f32 when
    ``||x||^2`` dwarfs the true distance (coordinates ~1e2 at high dim ->
    absolute error up to ~1e-1 between near-duplicates). This is the same
    trade FAISS ships for its L2 path; embedding-scale data (unit-ish
    norms) is unaffected, and exact duplicates still clamp to 0. Callers
    needing full f32 fidelity on large-magnitude data should pre-normalize
    or re-rank the top candidates with an exact expression (the engine's
    oracle-facing queries recompute output distances in f64)."""
    # contiguity fast-skip: ascontiguousarray costs ~0.15 µs per operand
    # even when it's a no-op — real money at the µs-class single-query
    # sizes (BASELINE micro grid n=64).  Guarded by isinstance so
    # list/tuple inputs keep working (they have no .dtype/.flags).
    q = (
        queries
        if isinstance(queries, np.ndarray)
        and queries.dtype == np.float32
        and queries.flags.c_contiguous
        else np.ascontiguousarray(queries, dtype=np.float32)
    )
    x = (
        cands
        if isinstance(cands, np.ndarray)
        and cands.dtype == np.float32
        and cands.flags.c_contiguous
        else np.ascontiguousarray(cands, dtype=np.float32)
    )
    if metric == "l2" and q.shape[0] == 1:  # squared L2, single query
        qv = q[0]
        if x.size <= _SMALL_BLOCK:
            # ONE GEMV: [x | ||x||^2 | 1] @ [-2q, 1, ||q||^2], both
            # operands identity-cached across the task's batches.  At
            # narrow dims the C einsum's plain loop beats the BLAS matmul
            # entry (~2.4 vs ~3.8 us at 64x130 — dispatch, not FLOPs)
            xa, qa = _x_augmented(x), _q_augmented(q)
            if xa.shape[1] <= 256:
                d = _c_einsum("ij,j->i", xa, qa)
            else:
                d = xa @ qa
        else:
            d = x @ (qv * np.float32(-2.0))  # -2 folded into the GEMV operand
            d += _x_sqnorms(x)
            d += qv @ qv
        np.maximum(d, 0.0, d)  # positional out: skips ufunc kwarg parse
        return d[None, :]
    if metric == "ip":
        if q.shape[0] == 1:
            return -(x @ q[0])[None, :]
        return -(q @ x.T)
    if metric == "cosine":
        qn = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-30)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)
        if q.shape[0] == 1:
            return (1.0 - xn @ qn[0])[None, :].astype(np.float32, copy=False)
        return (1.0 - qn @ xn.T).astype(np.float32)
    # squared L2 via ||q||^2 - 2 q.x + ||x||^2 (one GEMM), clamped at 0;
    # cached/einsum candidate norms avoid the (n, d) x*x temporary.
    # IN-PLACE on the GEMM output: the naive broadcast expression
    # allocates three fresh (nq, n) temporaries, and at batch-serving
    # sizes (256 x 1M) first-touch page faults on those made the combine
    # ~20x the GEMM itself (measured round 8: 16.4 s combine vs 0.15 s
    # GEMM; in-place 0.75 s total, bit-identical)
    d = q @ x.T
    d *= np.float32(-2.0)
    d += (q * q).sum(axis=1, dtype=np.float32, keepdims=True)
    d += _x_sqnorms(x)[None, :]
    np.maximum(d, 0.0, d)
    return d


def local_topk(dist_row: np.ndarray, k: int, ids: np.ndarray | None = None) -> np.ndarray:
    """Indices of the k smallest entries, ascending by (value, id).

    ``ids`` defaults to position. Ties that straddle the k boundary are
    resolved by the smallest id — plain ``argpartition`` keeps an arbitrary
    subset of boundary ties, which breaks the engine's documented
    "ties by row_id" determinism across partitionings (duplicate vectors
    are the common trigger)."""
    n = dist_row.shape[0]
    if ids is None:
        ids = np.arange(n)
    if k >= n:
        return np.lexsort((ids, dist_row))
    part = np.argpartition(dist_row, k - 1)
    kth = dist_row[part[k - 1]]
    if np.count_nonzero(dist_row == kth) == 1:
        # no boundary ties (the overwhelmingly common float case): the
        # partition prefix IS the exact top-k — skips two full scans
        sel = part[:k]
        return sel[np.lexsort((ids[sel], dist_row[sel]))]
    below = np.flatnonzero(dist_row < kth)
    ties = np.flatnonzero(dist_row == kth)
    need = k - below.size
    if need < ties.size:
        ties = ties[np.argsort(ids[ties], kind="stable")[:need]]
    sel = np.concatenate([below, ties])
    return sel[np.lexsort((ids[sel], dist_row[sel]))]


def stack_vectors(series: pd.Series, dim: int) -> np.ndarray:
    """pandas Series of list/ndarray -> (n, dim) float32; bad rows -> zeros.

    NULL / wrong-dim vectors become the zero vector — the reference leaves its
    gather buffer zeroed for those rows (``src/ann_search.cpp:860-865``).
    """
    out = np.zeros((len(series), dim), dtype=np.float32)
    for i, v in enumerate(series):
        if v is not None:
            a = np.asarray(v, dtype=np.float32)
            if a.shape == (dim,):
                out[i] = a
    return out


def decode_codes(bufs, dq: dict) -> np.ndarray:
    """(n, dim) float32 from a sequence of code byte-strings, or from an
    already-stacked ``(n, m)`` uint8 matrix (callers that parsed the
    buffers for another purpose pass it straight in — no double parse).

    One decoder for every quantization: the scalar family
    (``{'mins','scales'[, 'bits': 4|6]}`` — per-dim affine,
    ``rust_lib/src/provider.rs:161-210``; sub-byte codes MSB-first packed),
    fp16 (``{'fp16': True}`` — raw float16 widened), PQ
    (``{'codebooks': (m,256,dsub)}`` — per-subspace centroid gather), PCA
    and LSH.  Every probe path then runs the same GEMM on the
    reconstruction.  The encode side lives in ``quant.encode``, the inverse
    of this function for every descriptor."""
    codes = _stack_codes(bufs)
    if "codebooks" in dq:
        from duckdb_annsearch_spark.index.pq import decode_pq

        x = decode_pq(codes, np.asarray(dq["codebooks"], dtype=np.float32))
        rot = dq.get("rotation")
        if rot is not None:
            # OPQ: codes live in the rotated space; R^T maps the
            # reconstruction back so every probe stays original-space
            x = x @ np.asarray(rot, dtype=np.float32).T
        return x
    if dq.get("fp16"):
        return np.ascontiguousarray(codes).view(np.float16).astype(np.float32)
    if "pca_w" in dq:
        # PCA pretransform: codes are reduced f32 coords; W^T maps back so
        # the probe stays original-space (same shape as the OPQ rotation)
        w = np.asarray(dq["pca_w"], dtype=np.float32)  # (dout, d)
        mean = np.asarray(dq["pca_mean"], dtype=np.float32)
        y = np.ascontiguousarray(codes).view(np.float32).reshape(len(codes), w.shape[0])
        return y @ w + mean
    if "lsh_h" in dq:
        # LSH sign bits -> ±1 image: squared-L2 between ±1 images is
        # 4*hamming, so the ordinary GEMM ranks by hamming distance; the
        # query side maps through transform_queries (shape mismatch fails
        # loudly if a probe path forgets)
        nbits = np.asarray(dq["lsh_h"]).shape[0]
        u = np.unpackbits(codes, axis=1)[:, :nbits]
        return (u.astype(np.float32) * 2.0) - 1.0
    mins = np.asarray(dq["mins"], dtype=np.float32)
    scales = np.asarray(dq["scales"], dtype=np.float32)
    bits = int(dq.get("bits", 8))
    if bits != 8:
        dim = mins.shape[0]
        u = np.unpackbits(codes, axis=1)[:, : dim * bits]
        weights = (1 << np.arange(bits - 1, -1, -1)).astype(np.float32)
        q = u.reshape(len(codes), dim, bits).astype(np.float32) @ weights
        return q / float((1 << bits) - 1) * scales + mins
    return codes.astype(np.float32) / 255.0 * scales + mins


# ADC pays one (m, ksub) lookup table per query, then n*m table gathers;
# decode+GEMM pays one (n, dim) f32 reconstruction, then BLAS.  Measured
# at n=500k, dim=64, m=16: decode ~340 ms, GEMM ~1.8 ms/query amortized,
# ADC ~54 ms/query — ADC wins below ~8 queries per block and loses after
# (the decoded block amortizes).  Probe sites route on this threshold.
ADC_MAX_NQ = 8


def supports_adc(dq: dict | None, metric: str) -> bool:
    """True when a block can be ADC-scored straight from its PQ codes:
    a codebook descriptor (PQ / OPQ / residual-IVFPQ — rotation and a
    per-cell centroid fold into the query side) on an L2 or IP metric.
    ``raw_vectors`` frames (full-precision delta tails) have no codes."""
    return (
        dq is not None
        and "codebooks" in dq
        and not dq.get("raw_vectors")
        and metric in ("l2", "ip")
    )


def _stack_codes(codes) -> np.ndarray:
    """(n, m) uint8 code matrix from byte buffers (already-stacked arrays
    pass through) — the ONE buffer-parsing site for ADC/decode callers."""
    if isinstance(codes, np.ndarray):
        return codes
    return np.stack([np.frombuffer(b, dtype=np.uint8) for b in codes])


def adc_tables(
    qarr: np.ndarray,
    dq: dict,
    metric: str,
    centroid: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray | None]:
    """``(lut (nq, m, ksub) f32, ip_const (nq,) or None)`` — the per-query
    ADC lookup tables.  Depends only on (queries, descriptor, metric,
    centroid): callers scoring MANY blocks against one query set build
    this once and pass it to :func:`adc_distances` via ``tables=``
    (rebuilding per ~8k-row Arrow batch roughly doubles per-batch ADC
    cost).  Small by construction: nq<=ADC_MAX_NQ x m x 256 floats.

    Exact identities keep every descriptor in the family correct:

    - OPQ rotation R (decode is ``y @ R.T``): ``||q - yR^T|| = ||qR - y||``
      for orthogonal R, so the query rotates instead of the codes.
    - residual coding to a cell centroid c (decode adds c back):
      L2 folds it as ``q - c``; IP contributes the scalar ``-(q . c)``
      returned as ``ip_const``."""
    books = np.asarray(dq["codebooks"], dtype=np.float32)
    m, ksub, dsub = books.shape
    q = np.ascontiguousarray(qarr, dtype=np.float32)
    nq = q.shape[0]
    rot = dq.get("rotation")
    const = None
    if metric == "l2":
        qeff = q - centroid if centroid is not None else q
        if rot is not None:
            qeff = qeff @ np.asarray(rot, dtype=np.float32)
        qs = qeff.reshape(nq, m, dsub)
        c2 = np.einsum("skd,skd->sk", books, books)
        q2 = np.einsum("nsd,nsd->ns", qs, qs)
        lut = q2[:, :, None] + c2[None] - 2.0 * np.einsum(
            "nsd,skd->nsk", qs, books
        )
    else:  # ip: -(q . (yR^T + c)) = -((qR) . y) - (q . c)
        qeff = q @ np.asarray(rot, dtype=np.float32) if rot is not None else q
        qs = qeff.reshape(nq, m, dsub)
        lut = -np.einsum("nsd,skd->nsk", qs, books)
        if centroid is not None:
            const = (q @ np.asarray(centroid, dtype=np.float32)).astype(
                np.float32
            )
    return lut.astype(np.float32, copy=False), const


def adc_distances(
    qarr: np.ndarray,
    codes,
    dq: dict,
    metric: str,
    centroid: np.ndarray | None = None,
    tables: tuple[np.ndarray, np.ndarray | None] | None = None,
) -> np.ndarray:
    """(nq, n) asymmetric-distance PQ scoring (the FAISS ADC recipe,
    e.g. faiss IndexPQ search): per-query lookup tables
    ``lut[s, c] = d(q_s, codebook[s][c])`` then a gather-sum over the raw
    ``(n, m)`` uint8 codes — the ``(n, dim)`` float32 reconstruction is
    never materialized (16x less memory traffic at m=16, dim=64) and the
    per-candidate cost is m table adds instead of dim FMA.  Pass a
    precomputed :func:`adc_tables` result via ``tables=`` when scoring
    multiple blocks.

    Matches ``pairwise_distances`` semantics: squared L2 clamped at 0,
    IP negated.  The gather-sum accumulates in f64 then rounds once to
    f32: probe sites route ADC vs decode+GEMM by batch size
    (``ADC_MAX_NQ``), and f32 accumulation here would rank near-tie
    candidates differently depending on how many queries share a batch —
    order-independent f64 sums pin ADC results across batch compositions
    (code distances are re-ranked exactly anyway; this is a determinism
    guarantee, not an accuracy one)."""
    lut, const = (
        tables if tables is not None else adc_tables(qarr, dq, metric, centroid)
    )
    c_mat = _stack_codes(codes)
    nq, n = lut.shape[0], c_mat.shape[0]
    m = lut.shape[1]
    out = np.empty((nq, n), dtype=np.float32)
    cols = [np.ascontiguousarray(c_mat[:, s]) for s in range(m)]
    for i in range(nq):
        # m 1-D gathers accumulated in place: ~2x faster than the 2-D
        # fancy-index form (no (n, m) temp, no reduction pass)
        acc = lut[i, 0][cols[0]].astype(np.float64, copy=False)
        for s in range(1, m):
            acc += lut[i, s][cols[s]]
        out[i] = acc.astype(np.float32)
    if const is not None:
        out -= const[:, None]
    if metric == "l2":
        np.maximum(out, 0.0, out=out)
    return out


def needs_query_transform(dq: dict | None) -> bool:
    """True when the dequant descriptor's decode does NOT return to the
    original vector space, so queries (and any full-precision rows merged
    into the same top-k, e.g. an insert-delta tail) must pass through
    ``transform_queries`` to share the codes' distance scale.  Today that
    is exactly the LSH ±1 image; a future code-space quantization extends
    this predicate and ``transform_queries`` together, in this module."""
    return dq is not None and "lsh_h" in dq


def materialize_block(dq: dict | None, raw_fn, codes_fn) -> np.ndarray:
    """One dispatch for every probe surface: full-precision rows under a
    code-space quantization map through the query transform (same scale as
    the stored codes), coded rows decode, plain rows pass through.
    ``raw_fn``/``codes_fn`` are thunks because each site extracts its
    column differently (pandas Series vs arrow column) and only one side
    exists per frame."""
    if dq is None:
        return raw_fn()
    if dq.get("raw_vectors"):
        return transform_queries(raw_fn(), dq)
    return decode_codes(codes_fn(), dq)


def transform_queries(qarr: np.ndarray, dq: dict | None) -> np.ndarray:
    """Map queries into the space the decoded candidates live in.  Identity
    for every quantization except LSH (the one code whose decode cannot
    return to the original space): queries become their ±1 sign image under
    the same hyperplanes, making the GEMM a hamming ranking."""
    if dq is None or "lsh_h" not in dq:
        return qarr
    h = np.asarray(dq["lsh_h"], dtype=np.float32)
    mean = np.asarray(dq["lsh_mean"], dtype=np.float32)
    bits = ((qarr - mean) @ h.T) >= 0.0
    return (bits.astype(np.float32) * 2.0) - 1.0


def probe_partitions(
    artifact: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int,
    metric: str,
    dim: int,
    vector_col: str = "vector",
    row_id_col: str = "row_id",
    dequantize: dict | None = None,
    deleted: np.ndarray | None = None,
    with_vectors: bool = False,
) -> DataFrame:
    """Distributed batch brute-force top-k.

    Map side: per Arrow batch, drop the rows whose id is in ``deleted``
    (the tombstoned row_ids — the reference's over-fetch + filter,
    ``src/diskann_index.cpp:558-592``, done where the rows are read, so no
    anti-join job), then one GEMM for all queries and a local top-k per
    query (bounded memory: ``nq*k`` rows out per batch).  Reduce side:
    :func:`topk_per_query` — only ``nq * k * n_partitions`` rows shuffle,
    never the data.  Returns (query_idx, row_id, _distance) with exactly the
    global top-k per query over the live rows, ties broken by row_id, and
    with ``with_vectors`` (unquantized rows only) each hit's ``vector``.
    """
    dele = deleted if deleted is not None and deleted.size else None
    qarr = np.asarray([q for _, q in queries], dtype=np.float32)
    qarr = transform_queries(qarr, dequantize)
    qidx = np.asarray([i for i, _ in queries], dtype=np.int32)
    dq = dequantize  # {'mins': [...], 'scales': [...]} for SQ8 artifacts

    use_adc = supports_adc(dq, metric) and qarr.shape[0] <= ADC_MAX_NQ
    # LUT built ONCE driver-side (it depends only on the fixed query set +
    # descriptor) and shipped in the closure — tiny (nq x m x 256 f32)
    adc_tabs = adc_tables(qarr, dq, metric) if use_adc else None

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if dele is not None:
                pdf = pdf[~np.isin(pdf[row_id_col].to_numpy(), dele)]
            if len(pdf) == 0:
                continue
            if use_adc:
                d = adc_distances(
                    qarr, pdf[vector_col], dq, metric, tables=adc_tabs
                )
            else:
                x = materialize_block(
                    dq,
                    lambda: stack_vectors(pdf[vector_col], dim),
                    lambda: pdf[vector_col],
                )
                d = pairwise_distances(qarr, x, metric)
            rid = pdf[row_id_col].to_numpy()
            pieces = []
            for qi in range(d.shape[0]):
                sel = local_topk(d[qi], k, ids=rid)
                pieces.append(
                    (qidx[qi], rid[sel], d[qi, sel], *([x[sel]] if with_vectors else []))
                )
            yield hits_frame("query_idx", np.int32, pieces, with_vectors)

    partial = artifact.select(row_id_col, vector_col).mapInPandas(
        probe, probe_schema("query_idx int", with_vectors)
    )
    return topk_per_query(partial, k, nq=len(queries))


def valid_queries(
    pdf: pd.DataFrame, query_col: str, idx_col: str, dim: int
) -> tuple[np.ndarray, np.ndarray]:
    """``(orig_idx int64[n], qmat float32[n, dim])`` of the rows whose query
    is non-NULL with exactly ``dim`` entries — the one query check of every
    query-distributed probe.  Other rows produce no hits
    (``test/sql/edge_cases.test`` semantics)."""
    q = pdf[query_col]
    keep = [i for i, v in enumerate(q) if v is not None and len(v) == dim]
    qmat = np.asarray([q.iloc[i] for i in keep], dtype=np.float32)
    return pdf[idx_col].to_numpy()[keep].astype(np.int64), qmat.reshape(len(keep), dim)


def probe_schema(idx_field: str, with_vectors: bool = False) -> str:
    """The DDL schema of a probe's hit frame: ``idx_field`` (name and
    type), ``row_id``, ``_distance`` and, for a covered probe, ``vector``."""
    return f"{idx_field}, row_id long, _distance float" + (
        ", vector array<float>" if with_vectors else ""
    )


def hits_frame(
    idx_col: str, idx_dtype, pieces: list[tuple], with_vectors: bool = False
) -> pd.DataFrame:
    """The typed ``(idx_col, row_id int64, _distance float32)`` hit frame
    from ``(query index, row_ids, distances)`` pieces, one per query, in
    order.  ``with_vectors`` adds the ``vector`` column from each piece's
    fourth element, the hits' ``(n, dim)`` float32 rows.  No pieces gives
    the typed empty frame."""
    out = pd.DataFrame(
        {
            idx_col: np.repeat(
                np.asarray([p[0] for p in pieces], dtype=idx_dtype),
                [len(p[1]) for p in pieces],
            ),
            "row_id": np.concatenate([p[1] for p in pieces] or [[]]).astype(np.int64),
            "_distance": np.concatenate([p[2] for p in pieces] or [[]]).astype(
                np.float32
            ),
        }
    )
    if with_vectors:
        out["vector"] = [v for p in pieces for v in p[3]]
    return out


def topk_per_query(
    hits: DataFrame,
    k: int,
    idx_col: str = "query_idx",
    row_col: str = "row_id",
    nq: int | None = None,
) -> DataFrame:
    """Exact global top-k per query from partial top-ks, ties by
    ``row_col`` — the one reduce side of every index search.

    Only ``nq * k * n_partitions`` candidate rows reach this shuffle — the
    merge of the reference's per-chunk result lists
    (``src/ann_search.cpp:560-685``).  A caller that knows it holds one
    query (``nq == 1``) gets the same k rows from one limit-sort
    (``TakeOrderedAndProject``: no per-query ``Exchange`` and window) — the
    same order and tie-break, so the two keep the same rows, a ``row_col``
    repeated among the hits included."""
    order = [F.col("_distance").asc(), F.col(row_col).asc()]
    if nq == 1:
        return hits.orderBy(*order).limit(k)
    w = Window.partitionBy(idx_col).orderBy(*order)
    return (
        hits.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
