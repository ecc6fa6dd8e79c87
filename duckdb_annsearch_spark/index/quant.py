"""The quantizer path every index build shares: validate → train → encode →
save sidecars → load the descriptor back.

The descriptor is the dict ``kernels.decode_codes`` reads, one shape per
quantization (FAISS factory strings ``SQ4``/``SQ6``/``SQ8``/``SQfp16``,
``PQ<m>``/``OPQ<m>``, ``PCA<dout>`` and ``LSH``, which
``src/faiss_index.cpp:39-60`` forwards to ``index_factory``):

- scalar: ``{'mins', 'scales'[, 'bits': 4|6]}`` — per-dimension affine u8
  levels, sub-byte codes MSB-first packed
  (``rust_lib/src/provider.rs:157-230``);
- fp16: ``{'fp16': True}`` — the vector narrowed to float16;
- PQ: ``{'codebooks'[, 'rotation'][, 'residual_centroids']}`` — OPQ codes
  encode ``x @ R``, IVFPQ codes the residual to the row's coarse centroid;
- PCA: ``{'pca_mean', 'pca_w'}`` — reduced f32 coordinates ``W (x - mean)``;
- LSH: ``{'lsh_mean', 'lsh_h'}`` — hyperplane sign bits, packed.

``encode`` is the inverse of ``decode_codes``.  Scalar stats live in the
index metadata; every other quantizer's arrays live beside the artifact in
``_``-prefixed files, which Spark and pyarrow dataset discovery ignore.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from duckdb_annsearch_spark.index import kernels, pq

SQ_BITS = {"sq4": 4, "sq6": 6, "sq8": 8}
TRAIN_SAMPLE = 25_000
CODEBOOK_FILE = "_pq_codebooks.npy"
ROTATION_FILE = "_opq_rotation.npy"
PCA_FILE = "_pca_matrix.npz"
LSH_FILE = "_lsh_planes.npz"
LSH_SEED = 0x15A5D5

# quantization -> the builds that encode it.  "diskann" is create_index's
# graph before its row-count routing picks "graph" (the driver-built single
# graph; also an unsharded streaming_build) or "sharded"
# (streaming_build(shards=N)).  SQ8 is the one single-graph quantizer
# (reference parity: provider.rs quantizes SQ8 only); PQ on a graph needs
# index-global codebooks over per-shard codes.
_BUILDS = {
    "sq4": ("flat", "ivfflat"),
    "sq6": ("flat", "ivfflat"),
    "sq8": ("flat", "ivfflat", "hnsw", "diskann", "graph", "sharded"),
    "fp16": ("flat", "ivfflat"),
    "pq": ("flat", "ivfflat", "diskann", "sharded"),
    "pca": ("flat", "ivfflat"),
    "lsh": ("flat",),
}
_WHERE = {
    "pq": "Flat/IVFFlat indexes and sharded graphs (streaming_build(shards=N), "
    "or create_index above the driver-build row cap); HNSW quantizes with "
    "'sq8', as does every single graph",
    "pca": "Flat and IVF indexes (factory 'PCA<dout>[,Flat]' / "
    "'PCA<dout>,IVF<nlist>,Flat'); deeper chains are not",
    "lsh": "Flat indexes (factory 'LSH[<nbits>]'); deeper chains are not",
}
_OPQ_BUILDS = ("flat", "ivfflat", "sharded")


def validate(params: dict, build: str, metric: str) -> str | None:
    """Normalize ``params['quantization']`` in place and check it against
    the build — an enum, not a hint: an unknown value silently building an
    UNquantized index would be a 4-32x memory surprise at serving time."""
    q = str(params.get("quantization") or "").lower() or None
    if q is not None:
        params["quantization"] = q
        if q not in _BUILDS:
            raise ValueError(
                f"unknown quantization {q!r} ({' | '.join(_BUILDS)})"
            )
        if build not in _BUILDS[q]:
            where = _WHERE.get(
                q, "Flat/IVFFlat indexes; graph indexes quantize with 'sq8' "
                "(or 'pq' when sharded)",
            )
            raise ValueError(f"quantization={q!r} is supported on {where}")
        if q == "pca" and "pca_dim" not in params:
            raise ValueError(
                "quantization='pca' needs pca_dim=<output dim> "
                "(the factory form 'PCA<dout>' carries it)"
            )
        if q == "lsh" and metric != "l2":
            raise ValueError(
                "LSH hamming ranking approximates L2 only; build the "
                "index with metric='l2'"
            )
    if params.get("opq") and (q != "pq" or build not in _OPQ_BUILDS):
        raise ValueError(
            "opq requires quantization='pq' on a Flat or IVFFlat index or a "
            "sharded graph (the rotation composes with the PQ codes)"
        )
    return q


# ---- trainers -------------------------------------------------------------


def fit_sq(x: np.ndarray, dim: int, bits: int = 8) -> dict:
    """Scalar descriptor from an (n, dim) matrix: per-dimension min and
    range, floored at 1e-12 so a constant dimension still decodes.  Zero
    rows (CREATE INDEX on an empty table, vacuum after delete-all) give
    identity stats; inserts ride the full-precision delta until a vacuum
    recomputes them."""
    if len(x):
        mins, maxs = x.min(axis=0), x.max(axis=0)
    else:
        mins, maxs = np.zeros(dim), np.ones(dim)
    mins = np.asarray(mins).astype(np.float32)
    scales = np.maximum(np.asarray(maxs).astype(np.float32) - mins, 1e-12)
    dq = {"mins": mins.tolist(), "scales": scales.astype(np.float32).tolist()}
    if bits != 8:
        dq["bits"] = bits
    return dq


def _fit_sq_df(artifact: DataFrame, dim: int, bits: int) -> dict:
    """:func:`fit_sq` over a distributed artifact: per-partition numpy
    extremes, one collect.  The extremes of the union of every partition's
    (min, max) rows are the global extremes."""

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mins = np.full(dim, np.inf, dtype=np.float64)
        maxs = np.full(dim, -np.inf, dtype=np.float64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = kernels.stack_vectors(pdf["vector"], dim)
            mins = np.minimum(mins, x.min(axis=0))
            maxs = np.maximum(maxs, x.max(axis=0))
            seen = True
        if seen:
            yield pd.DataFrame({"mins": [mins.tolist()], "maxs": [maxs.tolist()]})

    parts = artifact.select("vector").mapInPandas(
        partial, "mins array<double>, maxs array<double>"
    ).collect()
    ext = [p[c] for p in parts for c in ("mins", "maxs")]
    return fit_sq(np.asarray(ext, dtype=np.float64).reshape(-1, dim), dim, bits)


def stride_sample(
    artifact: DataFrame,
    dim: int,
    n: int | None = None,
    centroids: np.ndarray | None = None,
    sample_size: int = TRAIN_SAMPLE,
) -> np.ndarray:
    """(n, dim) float32 training sample, deterministic: every ``stride``-th
    label (the reference's stride sampling, ``src/faiss_index.cpp:237-247``),
    at most ``sample_size`` rows collected.  Pass ``n`` when the caller
    already counted the artifact (skips a recount job).  With
    ``centroids`` the sample is of RESIDUALS ``x - centroid[cluster_id]`` —
    FAISS IVFPQ trains its codebooks on coarse residuals, the distribution
    the codes must cover."""
    if n is None:
        n = artifact.count()
    # ceil keeps the filter itself to <= sample_size matches; the ordered
    # limit is a belt-and-braces cap that stays deterministic if labels
    # are sparse (post-delete vacuums renumber, but defend anyway)
    stride = max(1, -(-n // max(1, sample_size)))
    cols = ["label", "vector"] + (["cluster_id"] if centroids is not None else [])
    rows = (
        artifact.where((artifact.label % stride) == 0)
        .select(*cols)
        .orderBy("label")
        .limit(sample_size)
        .collect()
    )
    x = np.asarray([r["vector"] for r in rows], dtype=np.float32).reshape(-1, dim)
    if centroids is None:
        return x
    return x - centroids[np.asarray([r["cluster_id"] for r in rows], dtype=np.int64)]


def train_pca(sample: np.ndarray, dout: int) -> tuple[np.ndarray, np.ndarray]:
    """(mean (d,), W (dout, d)) from an (n, d) f32 sample (FAISS
    ``PCAMatrix``).  W rows are the top-``dout`` right singular vectors of
    the centered sample — orthonormal, so the decode ``W^T y + mean`` is
    the orthogonal projection onto the subspace and ranking on it is an
    approximation the rerank recipe makes exact.  Signs are fixed
    (largest-|coef| positive per row) for determinism across LAPACK
    builds."""
    x = np.asarray(sample, dtype=np.float64)
    d = x.shape[1]
    if not (0 < dout <= d):
        raise ValueError(f"PCA output dim must be in [1, {d}], got {dout}")
    mean = x.mean(axis=0) if len(x) else np.zeros(d)
    if len(x) < 2:
        # degenerate sample: identity-truncation basis keeps the pipeline
        # alive (empty-table CREATE INDEX; vacuum re-trains on real rows)
        w = np.eye(d)[:dout]
        return mean.astype(np.float32), w.astype(np.float32)
    # full matrices when the sample is rank-deficient (n-1 < dout): the
    # complete right-singular basis pads the principal rows with an
    # orthonormal completion, so W always has dout orthonormal rows
    _, _, vt = np.linalg.svd(x - mean, full_matrices=len(x) < d + 1)
    w = vt[:dout]
    sign = np.sign(w[np.arange(dout), np.abs(w).argmax(axis=1)])
    sign[sign == 0] = 1.0
    w = w * sign[:, None]
    return mean.astype(np.float32), w.astype(np.float32)


def lsh_planes(dim: int, nbits: int) -> np.ndarray:
    """(nbits, dim) float32 Gaussian hyperplane normals from a fixed seed
    (also persisted: restart safety does not depend on RandomState)."""
    if nbits <= 0:
        raise ValueError(f"LSH nbits must be positive, got {nbits}")
    rng = np.random.RandomState((LSH_SEED ^ (dim * 1315423911 + nbits)) & 0xFFFFFFFF)
    return rng.randn(nbits, dim).astype(np.float32)


def train_lsh(sample: np.ndarray, dim: int, nbits: int) -> tuple[np.ndarray, np.ndarray]:
    """(mean (d,), H (nbits, d)) for FAISS ``IndexLSH`` sign codes:
    centering the data before the sign test balances the bit distribution
    (IndexLSH train_thresholds equivalent, one threshold per plane folded
    into the mean)."""
    x = np.asarray(sample, dtype=np.float64)
    mean = x.mean(axis=0) if len(x) else np.zeros(dim)
    return mean.astype(np.float32), lsh_planes(dim, nbits)


def train(
    meta,
    art: DataFrame,
    n: int | None = None,
    stats_from: DataFrame | None = None,
    centroids: np.ndarray | None = None,
) -> dict:
    """Run ``meta``'s quantizer training on ``art`` and return its
    descriptor.  Scalar stats come from ``stats_from`` when given (IVF reads
    them from the cached labelled rows, not the cell assignment); ``n``
    shares a row count the caller already paid for PQ sizing; with
    ``centroids`` PQ trains on (and encodes) coarse residuals.  The eager
    jobs run under one job label; the Lloyd loops of PQ/OPQ run in one
    Spark task, off the driver GIL (index/remote.py)."""
    from duckdb_annsearch_spark.index.remote import run_remote
    from duckdb_annsearch_spark.session import job_label

    p, dim, q = meta.params, meta.dim, meta.params["quantization"]
    spark = art.sparkSession
    with job_label(spark.sparkContext, f"{meta.name}: quantize {q}"):
        if q == "fp16":
            return {"fp16": True}
        if q in SQ_BITS:
            src = art if stats_from is None else stats_from
            return _fit_sq_df(src, dim, SQ_BITS[q])
        if q == "pq":
            n = art.count() if n is None else n
            m = pq.pq_m_for(dim, p.get("pq_m"), n=n)
            sample = stride_sample(art, dim, n=n, centroids=centroids)
            if p.get("opq"):
                rot, books = run_remote(spark, pq.train_opq, sample, m)
                dq = {"codebooks": books, "rotation": rot}
            else:
                dq = {"codebooks": run_remote(spark, pq.train_pq, sample, m)}
            if centroids is not None:
                dq["residual_centroids"] = centroids
            return dq
        sample = stride_sample(art, dim)
        if q == "pca":
            mean, w = train_pca(sample, int(p["pca_dim"]))
            return {"pca_mean": mean, "pca_w": w}
        mean, h = train_lsh(sample, dim, int(p.get("lsh_nbits", dim)))
        return {"lsh_mean": mean, "lsh_h": h}


# ---- encode ---------------------------------------------------------------


def pack_sq_codes(q: np.ndarray, bits: int) -> np.ndarray:
    """(n, dim) uint8 level indices -> (n, ceil(dim*bits/8)) packed bytes.
    8-bit passes through; 4/6-bit pack MSB-first via np.packbits (trailing
    pad bits zero), the symmetric inverse of the unpack in
    ``kernels.decode_codes``."""
    if bits == 8:
        return q
    n, dim = q.shape
    b = ((q[:, :, None] >> np.arange(bits - 1, -1, -1, dtype=np.uint8)) & 1).astype(
        np.uint8
    )
    return np.packbits(b.reshape(n, dim * bits), axis=1)


def encode_lsh(x: np.ndarray, mean: np.ndarray, h: np.ndarray) -> np.ndarray:
    """(n, d) f32 -> (n, ceil(nbits/8)) packed sign bits."""
    return np.packbits(((x - mean) @ h.T) >= 0.0, axis=1)


def encode(x: np.ndarray, dq: dict, cells: np.ndarray | None = None) -> np.ndarray:
    """(n, dim) float32 -> (n, code bytes) uint8 under descriptor ``dq``:
    the inverse of ``kernels.decode_codes``.  ``cells`` are the rows'
    cluster ids (residual-PQ descriptors only)."""
    f32 = lambda key: np.asarray(dq[key], dtype=np.float32)  # noqa: E731
    if "codebooks" in dq:
        if "residual_centroids" in dq:
            x = x - f32("residual_centroids")[cells]
        if "rotation" in dq:
            x = x @ f32("rotation")
        return pq.encode_pq(x, f32("codebooks"))
    if dq.get("fp16"):
        return x.astype(np.float16).view(np.uint8)
    if "pca_w" in dq:
        return ((x - f32("pca_mean")) @ f32("pca_w").T).view(np.uint8)
    if "lsh_h" in dq:
        return encode_lsh(x, f32("lsh_mean"), f32("lsh_h"))
    bits = int(dq.get("bits", 8))
    levels = float((1 << bits) - 1)
    q = np.clip(np.rint((x - f32("mins")) / f32("scales") * levels), 0, levels)
    return pack_sq_codes(q.astype(np.uint8), bits)


def add_codes(artifact: DataFrame, dim: int, dq: dict) -> DataFrame:
    """The artifact plus a ``codes`` binary column, encoded map-side (the
    descriptor ships in the task closure — tens of KiB at most)."""
    residual = "residual_centroids" in dq

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = kernels.stack_vectors(pdf["vector"], dim)
            c = encode(x, dq, pdf["cluster_id"].to_numpy() if residual else None)
            pdf = pdf.copy()
            pdf["codes"] = [c[i].tobytes() for i in range(c.shape[0])]
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in artifact.schema.fields)
    return artifact.mapInPandas(run, schema + ", codes binary")


def quantize(
    meta,
    art: DataFrame,
    stats_from: DataFrame | None = None,
    centroids: np.ndarray | None = None,
) -> tuple[DataFrame, dict | None]:
    """(coded artifact, descriptor) for ``meta``'s quantization; ``(art,
    None)`` when it has none.  The sampled quantizers read the artifact
    twice (count + sample collect, then the encode under the write), so
    one label assignment is pinned first — otherwise each read re-runs
    everything upstream (IVF's cluster-assign GEMM included)."""
    if not meta.params.get("quantization"):
        return art, None
    if meta.params["quantization"] in ("pq", "pca", "lsh"):
        art = art.localCheckpoint(eager=False)
    dq = train(meta, art, stats_from=stats_from, centroids=centroids)
    return add_codes(art, meta.dim, dq), dq


# ---- describe / save / load -----------------------------------------------


def describe(dq: dict) -> dict:
    """The metadata keys that name ``dq``'s codes (index ``extra`` and the
    graph ``_graph_meta.json`` carry the same keys)."""
    if "codebooks" in dq:
        d = {"quantization": "pq", "pq_m": int(np.shape(dq["codebooks"])[0])}
        if "rotation" in dq:
            d["opq"] = True
        if "residual_centroids" in dq:
            d["pq_residual"] = True
        return d
    if dq.get("fp16"):
        return {"quantization": "fp16"}
    if "pca_w" in dq:
        return {"quantization": "pca", "pca_dim": int(np.shape(dq["pca_w"])[0])}
    if "lsh_h" in dq:
        return {"quantization": "lsh", "lsh_nbits": int(np.shape(dq["lsh_h"])[0])}
    return {
        "quantization": f"sq{int(dq.get('bits', 8))}",
        "sq8_mins": np.asarray(dq["mins"], dtype=np.float32).tolist(),
        "sq8_scales": np.asarray(dq["scales"], dtype=np.float32).tolist(),
    }


def save(path: str, meta, dq: dict | None) -> dict:
    """Record ``dq`` on ``meta`` (``quantized`` + the described keys) and
    write its sidecar arrays into the artifact directory ``path`` (after
    the artifact write: an overwrite clears the directory).  Returns the
    described keys; ``{}`` and nothing written for an unquantized build."""
    if dq is None:
        return {}
    d = describe(dq)
    meta.quantized = True
    meta.extra.update(d)
    f32 = lambda key: np.asarray(dq[key], dtype=np.float32)  # noqa: E731
    if "codebooks" in dq:
        np.save(os.path.join(path, CODEBOOK_FILE), f32("codebooks"))
        if "rotation" in dq:
            np.save(os.path.join(path, ROTATION_FILE), f32("rotation"))
    elif "pca_w" in dq:
        np.savez(os.path.join(path, PCA_FILE), mean=f32("pca_mean"), w=f32("pca_w"))
    elif "lsh_h" in dq:
        np.savez(os.path.join(path, LSH_FILE), mean=f32("lsh_mean"), h=f32("lsh_h"))
    return d


def load(path: str, desc: dict) -> dict | None:
    """The descriptor named by ``desc`` (index ``extra`` or a graph's
    ``_graph_meta.json``), sidecar arrays read from ``path``.  None when
    ``desc`` names no quantization."""
    q = desc.get("quantization")
    if q is None:
        return None
    if q == "pq":
        dq = {"codebooks": np.load(os.path.join(path, CODEBOOK_FILE))}
        if desc.get("opq"):
            dq["rotation"] = np.load(os.path.join(path, ROTATION_FILE))
        return dq
    if q == "fp16":
        return {"fp16": True}
    if q == "pca":
        z = np.load(os.path.join(path, PCA_FILE))
        return {"pca_mean": z["mean"], "pca_w": z["w"]}
    if q == "lsh":
        z = np.load(os.path.join(path, LSH_FILE))
        return {"lsh_mean": z["mean"], "lsh_h": z["h"]}
    dq = {"mins": desc["sq8_mins"], "scales": desc["sq8_scales"]}
    if SQ_BITS[q] != 8:
        dq["bits"] = SQ_BITS[q]
    return dq
