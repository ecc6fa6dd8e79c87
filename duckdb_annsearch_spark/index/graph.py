"""DISKANN-equivalent graph index over Spark.

Artifact: parquet ``(label int, row_id long, vector array<float>,
neighbors array<int>)`` + entry point in the catalog metadata — the
DataFrame rendering of the DANN v2 layout (flat vector block + fixed-width
adjacency + entry points, ``/root/reference/rust_lib/src/file_format.rs:3-18``).

Build: driver-side numpy Vamana for moderate N (the reference also builds
in-RAM, single-threaded — ``src/diskann_index.cpp:202-300``); the
out-of-core path (pilot sample + streamed inserts,
``rust_lib/src/streaming_build.rs:42-122``) is exposed as
``streaming_build`` and builds the pilot on a sample then inserts the
remainder per partition.

Search: executor-cached graph + greedy beam search with
``L = max(k, search_complexity or build_complexity)``; batch queries run as
``mapInPandas`` over the query set so probes distribute across the cluster.
Tombstone compensation: over-fetch ``k + num_deleted`` then filter
(``src/diskann_index.cpp:558-592``).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_annsearch_spark.catalog import Catalog, IndexMeta
from duckdb_annsearch_spark.index import cache as index_cache
from duckdb_annsearch_spark.index import kernels, quant
from duckdb_annsearch_spark.index.base import BaseIndex, with_labels
from duckdb_annsearch_spark.index.vamana import (
    DEFAULT_ALPHA,
    DEFAULT_BUILD_COMPLEXITY,
    DEFAULT_MAX_DEGREE,
    NO_NEIGHBOR,
    VamanaGraph,
    build_vamana,
    pad_neighbors,
)


def _argsorted_labels(t, key: str) -> tuple[np.ndarray, np.ndarray]:
    """``(sorted_keys, order)`` numpy sort permutation for a just-read
    table.  NEVER ``Table.sort_by`` on artifact tables: pyarrow 16.1.0's
    sort/take silently corrupts large ``list<float>`` children — verified
    at 20M x 64-d, where post-sort ELEMENT ACCESS returns other rows'
    values across multi-hundred-MB regions (it poisoned two rounds of 20M
    recall certification before being caught).  Loaders extract columns
    from the UNSORTED read and gather with this permutation instead."""
    keys = t.column(key).to_numpy(zero_copy_only=False).astype(np.int64)
    order = np.argsort(keys, kind="stable")
    return keys[order], order


def _split_list_column(col, dtype) -> list[np.ndarray]:
    """Arrow list column -> list of numpy arrays via per-CHUNK flatten +
    length offsets — `to_pylist()` would materialize every element as a
    Python object (multi-GB transients on big graphs), and combine_chunks
    is avoided for the same pyarrow-16 large-list hazard as sort_by
    (per-chunk flatten of an as-read table is verified clean)."""
    chunks = col.chunks if hasattr(col, "chunks") else [col]
    out: list[np.ndarray] = []
    for ch in chunks:
        flat = ch.flatten().to_numpy(zero_copy_only=False).astype(dtype)
        lens = np.nan_to_num(
            ch.value_lengths().to_numpy(zero_copy_only=False)
        ).astype(np.int64)
        offs = np.empty(len(lens) + 1, dtype=np.int64)
        offs[0] = 0
        np.cumsum(lens, out=offs[1:])
        out.extend(flat[offs[i] : offs[i + 1]] for i in range(len(lens)))
    return out


def _vector_matrix(col) -> np.ndarray:
    """Arrow list<float> column -> (n, dim) float32 via per-chunk
    flatten+reshape (see ``_split_list_column`` for why not combined)."""
    from duckdb_annsearch_spark.index import scan

    if len(col) == 0:
        return np.zeros((0, 0), dtype=np.float32)
    dim = len(col[0].as_py() or [])
    return scan._fixed_matrix(col, dim)


class _CodeView:
    """Decode-on-access view over an (n, code bytes) u8 block (typically an
    np.memmap): ``view[ids]`` reads only the touched code pages — 4x (SQ8)
    to 32x (PQ) fewer bytes than the f32 block — and decodes them through
    ``kernels.decode_codes``, the decoder every other serving path uses.
    Supports the only access patterns beam search uses: ``.shape`` and
    integer/slice/fancy ``__getitem__``."""

    def __init__(self, codes, dq: dict, dim: int):
        self.codes = codes
        self.dq = dq
        self.shape = (codes.shape[0], dim)
        self.dtype = np.float32

    def __getitem__(self, idx):
        c = np.asarray(self.codes[idx], dtype=np.uint8)
        x = kernels.decode_codes(c.reshape(-1, c.shape[-1]), self.dq)
        return x[0] if c.ndim == 1 else x

    def __len__(self):
        return self.shape[0]


class _Sq8View(_CodeView):
    """Pages of a DANN SQ8 trailer."""


class _PqView(_CodeView):
    """Pages of a DANN PQC/OPQC trailer."""

    @property
    def rotation(self):
        return self.dq.get("rotation")


class _MmapVamana(VamanaGraph):
    """VamanaGraph over np.memmap views — no ascontiguousarray copy, so the
    vector block and adjacency stay on disk and page in on demand. Search
    code paths are inherited unchanged: fancy indexing on a memmap reads
    only the touched pages, and the DANN u32 0xFFFFFFFF padding viewed as
    int32 is exactly NO_NEIGHBOR (-1)."""

    def __init__(self, vectors, neighbors, entry_point, metric, row_ids):
        self.vectors = vectors
        self.neighbors = neighbors
        self.entry_point = int(entry_point)
        self.metric = metric
        self.row_ids = row_ids


def _mmap_graph(path: str) -> tuple[VamanaGraph, np.ndarray]:
    """Serve a graph straight off its DANN v2 binary via np.memmap — the
    Spark rendering of the reference's mmap'd disk provider
    (``rust_lib/src/disk_provider.rs:182-332``): a worker never holds the
    whole graph in RAM, only the pages its searches touch (beam search on
    a well-linked Vamana graph visits O(L * degree * hops) nodes)."""
    import os

    from duckdb_annsearch_spark.index.dann_format import HEADER_SIZE, parse_header

    fn = os.path.join(path, "_graph.diskann")
    with open(fn, "rb") as f:
        head = f.read(HEADER_SIZE)
    h = parse_header(head)  # validates magic + version before any slicing
    n, dim, max_degree, n_eps = h["n"], h["dim"], h["max_degree"], h["n_entry_points"]
    off = HEADER_SIZE
    eps = np.fromfile(fn, dtype="<u4", count=n_eps, offset=off)
    off += n_eps * 4
    vectors = np.memmap(fn, dtype="<f4", mode="r", offset=off, shape=(n, dim))
    off += n * dim * 4
    # u32 adjacency viewed as little-endian int32: 0xFFFFFFFF pad == -1
    adj = np.memmap(fn, dtype="<i4", mode="r", offset=off, shape=(n, max_degree))
    off += n * max_degree * 4
    # Quantization trailer (engine extension past the reference's v2
    # layout): when present, serve the vector block from the memmapped u8
    # codes instead of the f32 block — 4x (SQ8) / up to 32x (PQ) fewer
    # pages touched per hop, identical f32 values (the f32 block stores
    # the decoded codes, written by the same formula)
    qview = _read_sq8_trailer(fn, off, n, dim) or _read_pq_trailer(fn, off, n, dim)
    if qview is not None:
        vectors = qview
    row_ids = np.memmap(
        os.path.join(path, "_row_ids.bin"), dtype="<i8", mode="r", shape=(n,)
    )
    metric = h["metric"]
    ep = int(eps[0]) if n_eps else 0
    g = _MmapVamana(vectors, adj, ep, metric, row_ids)
    return g, row_ids


def _read_sq8_trailer(fn: str, off: int, n: int, dim: int) -> "_Sq8View | None":
    """Parse the optional DANN SQ8 trailing section starting at ``off``;
    returns a dequantizing view over memmapped codes, or None when absent
    or malformed (caller keeps the f32 block — same values either way)."""
    import struct

    try:
        size = os.path.getsize(fn)
        if size < off + 16:
            return None
        with open(fn, "rb") as f:
            f.seek(off)
            head = f.read(16)
        if head[:4] != b"SQ8\x00":
            return None
        sdim = struct.unpack("<I", head[4:8])[0]
        qlen = struct.unpack("<Q", head[8:16])[0]
        if sdim != dim or qlen != n * dim or size < off + 16 + sdim * 8 + qlen:
            return None
        mins = np.fromfile(fn, dtype="<f4", count=sdim, offset=off + 16)
        scales = np.fromfile(fn, dtype="<f4", count=sdim, offset=off + 16 + sdim * 4)
        codes = np.memmap(
            fn, dtype=np.uint8, mode="r", offset=off + 16 + sdim * 8, shape=(n, dim)
        )
        return _Sq8View(codes, {"mins": mins, "scales": scales}, dim)
    except Exception:
        return None


def _read_pq_trailer(fn: str, off: int, n: int, dim: int) -> "_PqView | None":
    """Parse the optional PQC/OPQC trailing section starting at ``off``;
    returns a decoding view over memmapped codes, or None when absent or
    malformed (caller keeps the f32 block — same values either way).
    "OPQC" carries a dim*dim rotation between the header and the codebooks
    (decode applies R^T); "PQC\\0" is the rotation-free layout."""
    import struct

    try:
        size = os.path.getsize(fn)
        if size < off + 24:
            return None
        with open(fn, "rb") as f:
            f.seek(off)
            head = f.read(24)
        if head[:4] == b"PQC\x00":
            rot_bytes = 0
        elif head[:4] == b"OPQC":
            rot_bytes = dim * dim * 4
        else:
            return None
        m, ksub, dsub = struct.unpack("<III", head[4:16])
        qlen = struct.unpack("<Q", head[16:24])[0]
        books_bytes = m * ksub * dsub * 4
        need = off + 24 + rot_bytes + books_bytes + qlen
        if m * dsub != dim or qlen != n * m or size < need:
            return None
        dq = {}
        boff = off + 24
        if rot_bytes:
            dq["rotation"] = np.fromfile(
                fn, dtype="<f4", count=dim * dim, offset=boff
            ).reshape(dim, dim)
            boff += rot_bytes
        books = np.fromfile(fn, dtype="<f4", count=m * ksub * dsub, offset=boff)
        dq["codebooks"] = books.reshape(m, ksub, dsub)
        codes = np.memmap(
            fn, dtype=np.uint8, mode="r", offset=boff + books_bytes, shape=(n, m)
        )
        return _PqView(codes, dq, dim)
    except Exception:
        return None


def _graph_side(path: str) -> tuple[dict, dict | None]:
    """(the artifact's ``_graph_meta.json``, the codes' descriptor it names
    — ``quant.load``; None when unquantized)."""
    fn = os.path.join(path, "_graph_meta.json")
    if not os.path.exists(fn):
        return {}, None
    with open(fn) as f:
        side = json.load(f)
    return side, quant.load(path, side)


def _label_vectors(t, order, dq: dict | None) -> tuple[np.ndarray | None, np.ndarray]:
    """(codes, vectors) of a just-read table in label order.  A quantized
    artifact's vectors are its codes decoded by ``kernels.decode_codes`` —
    one decoder, so the parquet, mmap-view and Spark probe paths stay
    bit-identical; codes is None otherwise (and on zero rows)."""
    if not len(order):
        return None, np.zeros((0, 0), dtype=np.float32)
    if dq is None or "codes" not in t.column_names:
        return None, _vector_matrix(t.column("vector"))[order]
    codes_un = t.column("codes").to_pylist()
    codes = np.stack([np.frombuffer(codes_un[j], dtype=np.uint8) for j in order])
    return codes, kernels.decode_codes(codes, dq)


def _dann_trailer(dq: dict | None, codes: np.ndarray | None) -> dict:
    """``write_dann`` keyword for a coded block: the SQ8 or PQC trailer."""
    if codes is None:
        return {}
    return {"pq" if "codebooks" in dq else "sq8": {**dq, "codes": codes}}


def _load_graph(path: str, mmap: bool = True) -> tuple[VamanaGraph, np.ndarray]:
    """Load a graph artifact (pyarrow, no Spark needed — runs in executor
    python workers).  When the artifact carries its DANN v2 binary sidecar
    (driver-built graphs write one), the graph is mmap-served instead of
    materialized — identical values (quantized artifacts store dequantized
    vectors in the binary), bounded worker RAM at any graph size.
    ``mmap=False`` forces the in-RAM parquet load.
    Quantized parquet artifacts (codes + the descriptor named in
    ``_graph_meta.json``) are decoded on load, so searches see the same
    approximated values the reference computes on the fly
    (``rust_lib/src/provider.rs:161-210``)."""
    import pyarrow.parquet as pq

    if mmap:
        binf = os.path.join(path, "_graph.diskann")
        ridf = os.path.join(path, "_row_ids.bin")
        # n==0 artifacts (legal: delete-all + vacuum) have a 0-byte row_ids
        # file, and np.memmap refuses empty files — serve those (and any
        # unreadable sidecar) through the parquet path instead of crashing
        if (
            os.path.exists(binf)
            and os.path.exists(ridf)
            and os.path.getsize(ridf) > 0
        ):
            return _mmap_graph(path)

    t = pq.read_table(path)  # UNSORTED read + numpy gather (_argsorted_labels)
    _, order = _argsorted_labels(t, "label")
    side, dq = _graph_side(path)
    _, vectors = _label_vectors(t, order, dq)
    nbs = _split_list_column(t.column("neighbors"), np.int64)
    neighbors = [nbs[j][nbs[j] != NO_NEIGHBOR] for j in order]
    row_ids = t.column("row_id").to_numpy(zero_copy_only=False).astype(np.int64)[
        order
    ]
    # entry point + metric: sidecar json (Spark-written multi-file artifacts
    # from streaming_build) or parquet footer metadata (driver-written)
    if side:
        ep, metric = int(side["entry_point"]), side["metric"]
    else:
        meta = t.schema.metadata or {}
        ep = int(meta.get(b"entry_point", b"0"))
        metric = meta.get(b"metric", b"l2").decode()
    return VamanaGraph(vectors, neighbors, ep, metric, row_ids), row_ids


def write_shard_binary(shard_dir: str, metric: str, max_degree: int, build_L: int) -> None:
    """Write a shard's mmap sidecars (_graph.diskann + _row_ids.bin) from
    its parquet: vectors/adjacency in sorted-global-label order with
    neighbors REMAPPED to local indices, so the mmap load needs zero remap
    work. Runs inside executor tasks in the sharded-build post-pass —
    assumes the artifact dir is plain-file writable (local mode / shared
    fs); callers treat failures as 'no sidecar' and the loader falls back
    to the parquet path.

    Quantized shards (the parent sidecar names the quantization, the
    shard parquet carries a ``codes`` column) write the f32 block DECODED
    plus the matching quantization trailer (SQ8 or PQC — engine extensions
    past the reference's v2 layout), so both mmap serve modes see exactly
    the values the parquet load path decodes."""
    import pyarrow.parquet as pq

    from duckdb_annsearch_spark.index.dann_format import write_dann

    _, dq = _graph_side(os.path.dirname(shard_dir))
    t = pq.read_table(shard_dir)  # UNSORTED read + numpy gather (_argsorted_labels)
    glabels, order = _argsorted_labels(t, "label")
    codes, vectors = _label_vectors(t, order, dq)
    row_ids = t.column("row_id").to_numpy(zero_copy_only=False).astype(np.int64)[
        order
    ]
    nbs_un = _split_list_column(t.column("neighbors"), np.int64)
    neighbors = []
    for nb in (nbs_un[j] for j in order):
        idx = np.searchsorted(glabels, nb)
        # searchsorted silently clamps out-of-shard labels to a wrong local
        # index; this sidecar is PERSISTENT, so a bad remap would bake the
        # corruption in (the parquet loader merely recomputes per load).
        # Verify membership and bail — the caller's try/except treats the
        # failure as 'no sidecar' and serving falls back to parquet.
        if idx.size and (
            (idx >= len(glabels)).any() or not np.array_equal(glabels[idx], nb)
        ):
            raise ValueError(
                f"shard {shard_dir}: neighbor label(s) outside shard label set"
            )
        neighbors.append(idx)
    entry_global = (
        int(t.column("entry").to_pylist()[int(order[0])]) if len(glabels) else 0
    )
    ep_local = int(np.searchsorted(glabels, entry_global))
    write_dann(
        os.path.join(shard_dir, "_graph.diskann"),
        vectors,
        neighbors,
        [ep_local],
        metric=metric,
        max_degree=max_degree,
        build_complexity=build_L,
        **_dann_trailer(dq, codes),
    )
    row_ids.astype("<i8").tofile(os.path.join(shard_dir, "_row_ids.bin"))


def _load_shard(shard_dir: str, mmap: bool = True) -> tuple[VamanaGraph, np.ndarray]:
    """Load one shard subgraph: labels are GLOBAL (non-dense within the
    shard), so remap neighbors/entry to local positions via searchsorted
    over the shard's sorted label set.  When the shard carries its mmap
    sidecars (sharded-build post-pass, already local-remapped), it is
    mmap-served exactly like single graphs — same ``mmap`` switch."""
    import pyarrow.parquet as pq

    if mmap:
        binf = os.path.join(shard_dir, "_graph.diskann")
        ridf = os.path.join(shard_dir, "_row_ids.bin")
        if (
            os.path.exists(binf)
            and os.path.exists(ridf)
            and os.path.getsize(ridf) > 0  # 0-byte = empty shard; parquet path
        ):
            return _mmap_graph(shard_dir)

    side, dq = _graph_side(os.path.dirname(shard_dir))
    # a quantized shard reads ONLY the codes (4-32x less IO than the f32
    # vector column — parquet column pruning) and decodes them with the
    # index-global stats/codebooks, matching the reference's on-the-fly
    # dequantization (rust_lib/src/provider.rs:161-210)
    t = pq.read_table(
        shard_dir,
        columns=None if dq is None else ["label", "row_id", "neighbors", "entry", "codes"],
    )  # UNSORTED read + numpy gather (_argsorted_labels)
    glabels, order = _argsorted_labels(t, "label")
    _, vectors = _label_vectors(t, order, dq)
    row_ids = t.column("row_id").to_numpy(zero_copy_only=False).astype(np.int64)[
        order
    ]
    nbs_un = _split_list_column(t.column("neighbors"), np.int64)
    neighbors = [np.searchsorted(glabels, nbs_un[j]) for j in order]
    entry_global = (
        int(t.column("entry").to_pylist()[int(order[0])]) if len(glabels) else 0
    )
    ep = int(np.searchsorted(glabels, entry_global))
    return VamanaGraph(vectors, neighbors, ep, side.get("metric", "l2"), row_ids), row_ids


def _beam_hits(
    g, row_ids, pdf, query_col, idx_col, dim, k, L, deleted, with_vectors=False
) -> pd.DataFrame:
    """Top-k hit frame of ``pdf``'s valid queries on one (sub)graph: one
    lock-step beam search over-fetching by the tombstone count, tombstone
    filter, cut to k — the map side of both graph probes.  ``with_vectors``
    adds each hit's vector from the graph's own (unquantized) block."""
    orig_idx, qmat = kernels.valid_queries(pdf, query_col, idx_col, dim)
    overfetch = k + deleted.size
    results = g.beam_search_batch(qmat, overfetch, max(L, overfetch)) if len(qmat) else []
    pieces = []
    for i, (labels, dists) in zip(orig_idx, results):
        if deleted.size:
            keep = ~np.isin(row_ids[labels], deleted)
            labels, dists = labels[keep], dists[keep]
        labels = labels[:k]
        pieces.append(
            (i, row_ids[labels], dists[:k],
             *([np.asarray(g.vectors[labels], dtype=np.float32)] if with_vectors else []))
        )
    return kernels.hits_frame(idx_col, np.int64, pieces, with_vectors)


class GraphIndex(BaseIndex):
    TYPE = "diskann"

    @classmethod
    def build(
        cls,
        catalog: Catalog,
        meta: IndexMeta,
        df: DataFrame,
        row_id_col: str,
        vector_col: str,
    ) -> "GraphIndex":
        p = meta.params
        quant.validate(p, "graph", meta.metric)
        max_degree = int(p.get("max_degree", p.get("hnsw_m", DEFAULT_MAX_DEGREE)))
        build_L = int(p.get("build_complexity", DEFAULT_BUILD_COMPLEXITY))
        alpha = float(p.get("alpha", DEFAULT_ALPHA))
        art = with_labels(df, row_id_col, vector_col)
        rows = art.orderBy("label").collect()
        # (0, dim), not (0,), on an empty relation: the SQ8 encode
        # broadcasts against per-dimension stats
        vectors = np.asarray(
            [r["vector"] for r in rows], dtype=np.float32
        ).reshape(len(rows), meta.dim)
        row_ids = np.asarray([r["row_id"] for r in rows], dtype=np.int64)
        # build in ONE Spark task, not on the driver: the insert rounds
        # hold the driver GIL and serialize concurrent DDL (index/remote.py)
        from duckdb_annsearch_spark.index.remote import run_remote
        from duckdb_annsearch_spark.index.vamana import build_pruned_adjacency

        nbrs, entry = run_remote(
            catalog.spark, build_pruned_adjacency,
            vectors, meta.metric, max_degree, build_L, alpha,
        )
        g = VamanaGraph(vectors, nbrs, entry, meta.metric)
        # SQ8, the one single-graph quantizer (quant.validate): per-dim
        # min/scale + u8 codes (diskann_quantization.test:24-90), full
        # precision kept alongside (provider.rs:25-31)
        dq = quant.fit_sq(vectors, meta.dim) if p.get("quantization") else None
        cls._write_artifact(catalog, meta, g, row_ids, max_degree, dq)
        meta.extra["entry_point"] = g.entry_point
        meta.num_vectors = int(vectors.shape[0])
        catalog.save(meta)
        return cls(catalog, meta)

    @staticmethod
    def _write_artifact(
        catalog: Catalog,
        meta: IndexMeta,
        g: VamanaGraph,
        row_ids: np.ndarray,
        max_degree: int,
        dq: dict | None = None,
    ) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = g.vectors.shape[0]
        if n:
            # prune (occlusion order), never truncate (recency order): the
            # build's 1.3x backedge slack must not be dropped arbitrarily
            from duckdb_annsearch_spark.index.vamana import prune_to_degree

            prune_to_degree(
                g, max_degree, float(meta.params.get("alpha", 1.2))
            )
        padded = pad_neighbors(list(g.neighbors), max_degree) if n else np.zeros((0, max_degree))
        cols = {
            "label": pa.array(np.arange(n, dtype=np.int32)),
            "row_id": pa.array(row_ids.astype(np.int64)),
            "vector": pa.array(
                [g.vectors[i] for i in range(n)], type=pa.list_(pa.float32())
            ),
            "neighbors": pa.array(
                [[int(x) for x in padded[i] if x != NO_NEIGHBOR] for i in range(n)],
                type=pa.list_(pa.int32()),
            ),
        }
        codes = None if dq is None else quant.encode(g.vectors, dq)
        if codes is not None:
            cols["codes"] = pa.array(
                [codes[i].tobytes() for i in range(n)], type=pa.binary()
            )
        table = pa.table(cols).replace_schema_metadata(
            {"entry_point": str(g.entry_point), "metric": meta.metric}
        )
        path = catalog.data_path(meta.name)
        os.makedirs(path, exist_ok=True)
        # single-file artifact; at cluster scale this becomes partitioned
        # subgraph files (see streaming_build)
        for f in os.listdir(path):
            os.remove(os.path.join(path, f))
        pq.write_table(table, os.path.join(path, "graph.parquet"))
        side = {"entry_point": g.entry_point, "metric": meta.metric}
        side.update(quant.save(path, meta, dq))
        with open(os.path.join(path, "_graph_meta.json"), "w") as f:
            json.dump(side, f)

        # DANN v2 binary + row_id sidecar: the mmap serving path
        # (_mmap_graph) pages vectors/adjacency straight off this file
        # instead of materializing the graph per worker — the reference
        # serves .diskann the same way (rust_lib/src/disk_provider.rs:182-332).
        # Quantized indexes store the DECODED values so mmap search sees
        # exactly what the parquet load path computes from the codes.
        if meta.metric in ("l2", "ip"):
            from duckdb_annsearch_spark.index import dann_format

            dann_format.write_dann(
                os.path.join(path, "_graph.diskann"),
                g.vectors if codes is None else kernels.decode_codes(codes, dq),
                [padded[i][padded[i] != NO_NEIGHBOR] for i in range(n)],
                [g.entry_point] if n else [0],
                metric=meta.metric,
                max_degree=max_degree,
                build_complexity=int(
                    meta.params.get("build_complexity", DEFAULT_BUILD_COMPLEXITY)
                ),
                **_dann_trailer(dq, codes),
            )
            row_ids.astype("<i8").tofile(os.path.join(path, "_row_ids.bin"))

    def artifact(self) -> DataFrame:
        return self.catalog.read_parquet(self.catalog.data_path(self.meta.name))

    # ---- search ----
    def _beam(self) -> int:
        return int(self.meta.params.get("build_complexity", DEFAULT_BUILD_COMPLEXITY))

    def _search_batch_df_impl(
        self,
        queries_df: DataFrame,
        k: int,
        query_col: str = "query",
        idx_col: str = "query_idx",
        search_complexity: int | None = None,
        with_vectors: bool = False,
        nq: int | None = None,
        **kw,
    ) -> DataFrame:
        """Query-distributed beam search: the graph loads once per python
        worker (process-level cache) and each task probes for its own slice
        of queries.  Sharded artifacts fan out (query x shard) and merge;
        ``nq``, the query count when the caller knows it, lets one query
        merge with a limit-sort (``kernels.topk_per_query``)."""
        if self.meta.extra.get("shards"):
            return self._sharded_search_df(
                queries_df, k, query_col, idx_col, search_complexity,
                nprobe_shards=kw.get("nprobe_shards"),
                merge_k=kw.get("merge_k"),
                with_vectors=with_vectors,
                nq=nq,
            )
        L = max(k, int(search_complexity or self._beam()))
        deleted = self._deleted_rowid_array()
        path = self.catalog.data_path(self.meta.name)
        dim = self.meta.dim

        def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            g, row_ids = index_cache.get_or_load(path, _load_graph)
            # concatenate the task's Arrow batches: one lock-step batch
            # search amortizes frontier/distance work across ALL the task's
            # queries (R2 parity — rust_lib/src/provider.rs:243-440)
            pdfs = [b for b in batches if len(b)]
            if pdfs:
                pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
                yield _beam_hits(
                    g, row_ids, pdf, query_col, idx_col, dim, k, L, deleted,
                    with_vectors,
                )

        return queries_df.select(idx_col, query_col).mapInPandas(
            probe, kernels.probe_schema(f"{idx_col} long", with_vectors)
        )

    def _sharded_search_df(
        self,
        queries_df: DataFrame,
        k: int,
        query_col: str,
        idx_col: str,
        search_complexity: int | None,
        nprobe_shards: int | None = None,
        merge_k: int | None = None,
        with_vectors: bool = False,
        nq: int | None = None,
    ) -> DataFrame:
        """Shard fan-out: every (query, shard) pair probes that shard's
        subgraph (each task holds ONE shard in memory — graphs larger than
        any single worker's RAM stay searchable), then a per-query window
        merges the per-shard top-ks, or one limit-sort when ``nq == 1``.
        Shuffle volume is nq * shards * k candidate rows (with their
        vectors only on a covered probe).

        With kmeans-clustered shards, ``nprobe_shards`` prunes the fan-out
        to each query's closest shards by centroid (SPANN-style routing) —
        work drops from all-shards to nprobe_shards/shards of the data.

        ``merge_k=0`` skips the global top-k cut and returns the UNION of
        per-shard candidates (still nq * shards * k rows — bounded).  The
        rerank recipe needs this on quantized artifacts: cutting the union
        to k by CODE distance before the exact re-score throws away true
        neighbors whose code rank straddles k — measured at 20M x 64
        uniform (the concentration worst case), the global code cut alone
        capped recall@10 at 0.78-0.81 while the per-shard beams had found
        every true neighbor; reranking the uncut union restores it."""
        from duckdb_annsearch_spark.functions.distance import metric_distance

        shard_ids = self.meta.extra.get("shard_ids") or list(
            range(int(self.meta.extra["shards"]))
        )
        L = max(k, int(search_complexity or self._beam()))
        deleted = self._deleted_rowid_array()
        path = self.catalog.data_path(self.meta.name)
        dim = self.meta.dim

        centroids = self.meta.extra.get("shard_centroids")
        if nprobe_shards and centroids is not None:
            cdf = self.spark.createDataFrame(
                [(int(s), [float(x) for x in centroids[int(s)]]) for s in shard_ids],
                "shard int, __cvec array<float>",
            )
            fan = queries_df.select(idx_col, query_col).crossJoin(F.broadcast(cdf))
            cd = metric_distance(F.col(query_col), F.col("__cvec"), self.meta.metric)
            from pyspark.sql import Window

            w = Window.partitionBy(idx_col).orderBy(cd.asc(), F.col("shard").asc())
            fan = (
                fan.withColumn("__rk", F.row_number().over(w))
                .where(F.col("__rk") <= int(nprobe_shards))
                .drop("__rk", "__cvec")
            )
        else:
            shards_df = self.spark.createDataFrame(
                [(int(s),) for s in shard_ids], "shard int"
            )
            fan = queries_df.select(idx_col, query_col).crossJoin(shards_df)

        def probe_shard(grp: pd.DataFrame) -> pd.DataFrame:
            # one call = one shard's queries: the only graph this call loads
            # is its own shard; the worker-level LRU cache bounds how many
            # shards one long-lived python worker retains across calls
            sid = int(grp["shard"].iloc[0])
            g, row_ids = index_cache.get_or_load(
                f"{path}/shard={sid}", _load_shard
            )
            # one lock-step batch per (shard, task): all of this shard's
            # queries advance together (R2 — provider.rs:243-440)
            return _beam_hits(
                g, row_ids, grp, query_col, idx_col, dim, k, L, deleted,
                with_vectors,
            )

        # groupBy per shard (NOT repartition(n, "shard"): hash partitioning
        # collides shards into shared tasks and leaves others empty) — each
        # group call touches exactly one shard's graph
        partial = fan.groupBy("shard").applyInPandas(
            probe_shard, kernels.probe_schema(f"{idx_col} long", with_vectors)
        )
        if merge_k == 0:  # rerank recipe: exact re-score sees every candidate
            return partial
        return kernels.topk_per_query(partial, k, idx_col=idx_col, nq=nq)

    def _search_batch_impl(
        self,
        queries: list[Sequence[float]],
        k: int,
        search_complexity: int | None = None,
        **kw,
    ) -> DataFrame:
        # .tolist() (not raw np.float32 arrays): Arrow-less sessions verify
        # row-by-row and reject numpy scalars inside object columns; widening
        # f32 -> Python float is exact, so numeric behavior is unchanged
        qpdf = pd.DataFrame(
            {
                "query_idx": [int(i) for i in range(len(queries))],
                "query": [np.asarray(q, dtype=np.float32).tolist() for q in queries],
            }
        )
        qdf = self.spark.createDataFrame(qpdf)
        if len(queries) > 1:
            # spread the beam searches; a 1-row relation is one partition
            # already, and repartitioning it only adds a shuffle
            qdf = qdf.repartition(min(len(queries), 32))
        return (
            self._search_batch_df_impl(
                qdf, k, "query", "query_idx",
                search_complexity=search_complexity, nq=len(queries), **kw,
            )
            .withColumn("query_idx", F.col("query_idx").cast("int"))
        )

