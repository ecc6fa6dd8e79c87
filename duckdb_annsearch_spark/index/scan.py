"""Executor-side artifact scanning for query-distributed probes.

When the *query set* is the big side (``ann_search_table`` over a large
query table), each executor task owns a slice of queries and streams the
index artifact through pyarrow — batch-at-a-time, bounded memory — running
one float32 GEMM per (query-batch x artifact-batch).  This is the transpose
of ``kernels.probe_partitions`` (artifact-parallel, queries broadcast); the
engine picks per call-site.  Mirrors the reference's chunked in-out scan
loop (``/root/reference/src/ann_search.cpp:560-685``) with Arrow record
batches standing in for DataChunks.

``probe_path_df`` is the one query-distributed exact probe: Flat's table
search and every index's insert-delta tail both run it.  The query check
(``kernels.valid_queries``) and the hit frame (``kernels.hits_frame``) are
shared with the IVF and graph probes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

from duckdb_annsearch_spark.index import kernels

DEFAULT_BATCH_ROWS = 8192


def iter_vector_batches(
    path: str,
    dim: int,
    vector_col: str = "vector",
    dequantize: dict | None = None,
    batch_rows: int = DEFAULT_BATCH_ROWS,
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Yield ``(row_ids int64[n], X float32[n, dim])`` batches from a parquet
    artifact directory.  SQ8 artifacts pass
    ``dequantize={'mins', 'scales'}`` and read only the codes column
    (column pruning keeps quantized scans at 1/4 the bytes)."""
    import pyarrow.dataset as ds

    data = ds.dataset(path, format="parquet")
    cols = ["row_id", vector_col]
    for batch in data.to_batches(columns=cols, batch_size=batch_rows):
        if batch.num_rows == 0:
            continue
        rid = batch.column("row_id").to_numpy(zero_copy_only=False).astype(np.int64)
        col = batch.column(vector_col)
        x = kernels.materialize_block(
            dequantize,
            lambda: _fixed_matrix(col, dim),
            lambda: [b.as_py() for b in col],
        )
        yield rid, x


def _fixed_matrix(col, dim: int) -> np.ndarray:
    """Arrow list column (Array or ChunkedArray) -> (n, dim) float32;
    null/ragged rows become zero vectors (the reference zeroes its gather
    buffer for bad rows).  Flattens per CHUNK: combine_chunks shares the
    pyarrow-16 large-list corruption hazard with sort_by (see
    graph._argsorted_labels), while per-chunk flatten of an as-read table
    is verified clean."""
    try:
        chunks = col.chunks if hasattr(col, "chunks") else [col]
        parts = []
        ok = not col.null_count
        for ch in chunks:
            flat = ch.flatten().to_numpy(zero_copy_only=False)
            if flat.shape[0] != len(ch) * dim:
                ok = False
                break
            parts.append(flat.reshape(len(ch), dim))
        if ok:
            if not parts:
                return np.zeros((0, dim), dtype=np.float32)
            return np.ascontiguousarray(
                np.concatenate(parts).astype(np.float32)
            )
    except Exception:
        pass
    out = np.zeros((len(col), dim), dtype=np.float32)
    for i, v in enumerate(col.to_pylist()):
        if v is not None:
            a = np.asarray(v, dtype=np.float32)
            if a.shape == (dim,):
                out[i] = a
    return out


def probe_path_df(
    queries_df,
    path: str,
    k: int,
    dim: int,
    metric: str,
    vector_col: str = "vector",
    dequantize: dict | None = None,
    deleted: np.ndarray | None = None,
    query_col: str = "query",
    idx_col: str = "query_idx",
    with_vectors: bool = False,
):
    """Query-distributed exact probe of a parquet vector directory: each task
    streams the files through pyarrow for its slice of queries (one GEMM per
    batch pair).  Serves Flat's table search (the artifact, codes column on
    quantized indexes) and every index's insert-delta tail.  Returns
    ``(idx_col long, row_id long, _distance float)``, plus each hit's
    ``vector`` with ``with_vectors`` (unquantized rows only)."""
    import pandas as pd

    dele = deleted if deleted is not None and deleted.size else None
    # no ADC route here deliberately: the query-distributed probes carry
    # LARGE per-task query slices, where decode+GEMM is the right regime

    def probe(batches):
        # concatenate the task's Arrow batches FIRST: the artifact is
        # streamed once per task, not once per incoming query batch
        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        orig_idx, qarr = kernels.valid_queries(
            pd.concat(pdfs, ignore_index=True), query_col, idx_col, dim
        )
        if not len(orig_idx):
            return
        qarr = kernels.transform_queries(qarr, dequantize)
        top = RunningTopK(len(orig_idx), k, dim if with_vectors else None)
        for rid, x in iter_vector_batches(path, dim, vector_col, dequantize):
            if dele is not None:
                keep = ~np.isin(rid, dele)
                rid, x = rid[keep], x[keep]
            if rid.size:
                top.update_batch(kernels.pairwise_distances(qarr, x, metric), rid, x)
        yield kernels.hits_frame(
            idx_col,
            np.int64,
            [(i, *top.result(qi)) for qi, i in enumerate(orig_idx)],
            with_vectors,
        )

    return queries_df.select(idx_col, query_col).mapInPandas(
        probe, kernels.probe_schema(f"{idx_col} long", with_vectors)
    )


class RunningTopK:
    """Streaming per-query top-k merge across artifact batches; with a
    ``dim`` it also keeps each kept hit's vector."""

    def __init__(self, nq: int, k: int, dim: int | None = None):
        self.k = k
        self.d = [np.empty(0, dtype=np.float32) for _ in range(nq)]
        self.r = [np.empty(0, dtype=np.int64) for _ in range(nq)]
        self.v = None if dim is None else [
            np.empty((0, dim), dtype=np.float32) for _ in range(nq)
        ]

    def update(
        self, qi: int, dists: np.ndarray, rids: np.ndarray, x: np.ndarray | None = None
    ) -> None:
        from duckdb_annsearch_spark.index.kernels import local_topk

        k, n0 = self.k, self.d[qi].size
        d = np.concatenate([self.d[qi], dists.astype(np.float32)])
        r = np.concatenate([self.r[qi], rids])
        # boundary-tie-exact selection sorted by (distance, row_id) — plain
        # argpartition keeps an arbitrary subset of ties at the k boundary
        sel = local_topk(d, k, ids=r)
        self.d[qi], self.r[qi] = d[sel], r[sel]
        if self.v is not None:
            # kept hits gathered from the old top-k and the new block, not
            # from their concatenation (a copy of the block per query)
            old = sel < n0
            v = np.empty((sel.size, self.v[qi].shape[1]), dtype=np.float32)
            v[old] = self.v[qi][sel[old]]
            v[~old] = x[sel[~old] - n0]
            self.v[qi] = v

    def update_batch(
        self, d_matrix: np.ndarray, rids: np.ndarray, x: np.ndarray | None = None
    ) -> None:
        for qi in range(d_matrix.shape[0]):
            self.update(qi, d_matrix[qi], rids, x)

    def result(self, qi: int) -> tuple[np.ndarray, ...]:
        """``(row_ids, distances)``, plus the vectors when kept."""
        if self.v is None:
            return self.r[qi], self.d[qi]
        return self.r[qi], self.d[qi], self.v[qi]
