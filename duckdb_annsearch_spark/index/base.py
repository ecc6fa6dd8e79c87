"""Shared index machinery: artifact IO, tombstone compensation, SQ8.

Artifact layout (all index types): parquet rows
``(label INT, row_id LONG, vector ARRAY<FLOAT> [, codes BINARY, neighbors
ARRAY<INT>, cluster_id INT])``.  ``label`` is the dense internal id —
the reference's label<->rowid bijection
(``/root/reference/src/include/diskann_index.hpp:144-149``).

SQ8 (``quantization='sq8'``): per-dimension min/scale, u8 codes, dequantize
``(code/255)*scale + min`` — ``/root/reference/rust_lib/src/provider.rs:157-230``.
Full-precision vectors are kept alongside codes (the reference keeps both,
``provider.rs:25-31``); parquet column pruning means a quantized search reads
only the codes column.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duckdb_annsearch_spark.catalog import Catalog, IndexMeta
from duckdb_annsearch_spark.index import kernels
from duckdb_annsearch_spark.session import estimated_bytes


def with_labels(df: DataFrame, row_id_col: str, vector_col: str) -> DataFrame:
    """(label, row_id, vector) with a dense, deterministic label ordering.

    Labels are assigned by row_id order — deterministic across runs, unlike
    ``monotonically_increasing_id`` which depends on partition layout.

    Distributed two-phase numbering: range-partition + sort by row_id, number
    within each partition, then add per-partition offsets (tiny driver-side
    cumsum).  A single global ``row_number`` window would funnel the whole
    table through one partition — a non-starter at 100 TB.
    """
    base = df.select(
        F.col(row_id_col).cast("long").alias("row_id"),
        F.col(vector_col).cast("array<float>").alias("vector"),
    ).where(F.col("vector").isNotNull())
    # NULL vectors are not indexable (the reference's FLOAT[N] rows always
    # have N floats); indexing them would zero-fill and pollute top-k
    # explicit partition count: AQE must not re-coalesce between the count
    # job and the numbering job, or the offsets would disagree.
    # The count is derived from the optimizer's size estimate (~64 MB per
    # range partition, capped at defaultParallelism) rather than pinned to
    # defaultParallelism: the label<->row_id map is invariant to n_parts,
    # a real-scale input still gets the full core count, and a small input
    # skips 32-task sampling/shuffle/count rounds per index build (r9 —
    # every build paid them regardless of size).  Estimate errors only
    # move task sizing, never results.
    cores = max(1, df.sparkSession.sparkContext.defaultParallelism)
    est_bytes = estimated_bytes(df)
    # 16 MB of ESTIMATED bytes per range partition: for parquet scans the
    # optimizer estimate is the on-disk (compressed+encoded) size, commonly
    # ~4x below in-memory row size — a 64 MB divisor could funnel a
    # genuinely large input into 1-2 partitions (ADVICE r9).  Estimate
    # errors only move task sizing, never results; no estimate -> cores.
    n_parts = (
        cores if est_bytes is None
        else max(1, min(cores, -(-est_bytes // (16 << 20))))
    )
    srt = (
        base.repartitionByRange(n_parts, "row_id")
        .sortWithinPartitions("row_id")
        .withColumn("__part", F.spark_partition_id())
        # freeze ONE physical partitioning: repartitionByRange samples its
        # range boundaries per execution, so without this barrier the counts
        # collect below and the consumer's final job could see *different*
        # partition layouts (nondeterministic source, task retry, AQE
        # re-plan) and silently corrupt the label<->row_id bijection that
        # every index build depends on. localCheckpoint materializes the
        # blocks once (memory+disk) and truncates lineage, so both actions
        # read the same rows in the same partitions. Lazy: the counts
        # collect below is the materializing action; the numbering job
        # then reads the same checkpointed blocks.
        .localCheckpoint(eager=False)
    )
    if n_parts == 1:
        # single range partition: every offset is 0, so the per-partition
        # count job (and the driver cumsum) is pure overhead — number
        # directly (empty input yields an empty result through the same
        # window, no special case needed)
        w = Window.partitionBy("__part").orderBy(F.col("row_id").asc())
        return srt.select(
            (F.row_number().over(w) - 1).cast("int").alias("label"),
            "row_id",
            "vector",
        )
    counts = {
        r["__part"]: r["cnt"]
        for r in srt.groupBy("__part").agg(F.count("*").alias("cnt")).collect()
    }
    if not counts:
        # zero indexable rows (legal: delete-all + vacuum rebuilds over an
        # empty relation) — an empty create_map() below would not analyze
        return srt.select(
            F.lit(None).cast("int").alias("label"), "row_id", "vector"
        ).where(F.lit(False))
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    # rows within a range partition all sort before the next partition's, so
    # rn-1+offset is a dense global ordering by row_id
    off_map = F.create_map(
        *[F.lit(x) for p in sorted(counts) for x in (p, offsets[p])]
    )
    w = Window.partitionBy("__part").orderBy(F.col("row_id").asc())
    return srt.select(
        (F.row_number().over(w) - 1 + off_map[F.col("__part")])
        .cast("int")
        .alias("label"),
        "row_id",
        "vector",
    )


def compute_sq8_stats(artifact: DataFrame, dim: int) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, scales) via partial per-partition numpy reduce."""

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
    if not parts:
        # zero indexable rows (legal: CREATE INDEX on an empty table, or
        # vacuum after delete-all) — identity stats; inserts land in the
        # full-precision delta and a later vacuum recomputes real stats
        return [0.0] * dim, [1.0] * dim
    mins = np.min([p["mins"] for p in parts], axis=0).astype(np.float32)
    maxs = np.max([p["maxs"] for p in parts], axis=0).astype(np.float32)
    scales = np.maximum(maxs - mins, 1e-12).astype(np.float32)
    return mins.tolist(), scales.tolist()


# scalar-quantizer family (FAISS ScalarQuantizer QT_4bit/QT_6bit/QT_8bit —
# factory strings "SQ4"/"SQ6"/"SQ8", src/faiss_index.cpp:39-60 forwards them
# to index_factory); "fp16" is QT_fp16 ("SQfp16"): raw float16 codes, no
# affine stats.  SQ8 stays the only member on the graph paths (reference
# provider.rs parity); the others serve the Flat/IVF artifacts.
SQ_BITS = {"sq4": 4, "sq6": 6, "sq8": 8}
SQ_QUANTS = ("sq4", "sq6", "sq8", "fp16")


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


def add_sq_codes(
    artifact: DataFrame,
    dim: int,
    mins: list[float],
    scales: list[float],
    bits: int = 8,
) -> DataFrame:
    mn = np.asarray(mins, dtype=np.float32)
    sc = np.asarray(scales, dtype=np.float32)
    levels = float((1 << bits) - 1)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = kernels.stack_vectors(pdf["vector"], dim)
            q = np.clip(np.rint((x - mn) / sc * levels), 0, levels).astype(np.uint8)
            q = pack_sq_codes(q, bits)
            pdf = pdf.copy()
            pdf["codes"] = [q[i].tobytes() for i in range(q.shape[0])]
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in artifact.schema.fields)
    return artifact.mapInPandas(encode, schema + ", codes binary")


def add_sq8_codes(artifact: DataFrame, dim: int, mins: list[float], scales: list[float]) -> DataFrame:
    return add_sq_codes(artifact, dim, mins, scales, bits=8)


def add_fp16_codes(artifact: DataFrame, dim: int) -> DataFrame:
    """QT_fp16: codes are the vector itself narrowed to float16 (2 bytes/dim,
    no training stats); decode widens back to f32."""

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            x = kernels.stack_vectors(pdf["vector"], dim).astype(np.float16)
            pdf = pdf.copy()
            pdf["codes"] = [x[i].tobytes() for i in range(x.shape[0])]
            yield pdf

    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in artifact.schema.fields)
    return artifact.mapInPandas(encode, schema + ", codes binary")


def topk_per_query(hits: DataFrame, k: int, idx_col: str = "query_idx") -> DataFrame:
    """Exact global top-k per query from per-partition partial top-ks.

    Only ``nq * k * n_partitions`` candidate rows reach this shuffle — the
    reduce side of the reference's per-query result list."""
    w = Window.partitionBy(idx_col).orderBy(
        F.col("_distance").asc(), F.col("row_id").asc()
    )
    return (
        hits.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


class BaseIndex:
    def __init__(self, catalog: Catalog, meta: IndexMeta):
        self.catalog = catalog
        self.meta = meta
        self.spark = catalog.spark

    # ---- artifact access ----
    def artifact(self) -> DataFrame:
        return self.spark.read.parquet(self.catalog.data_path(self.meta.name))

    def live_artifact(self) -> DataFrame:
        """Artifact minus tombstoned rows (reference over-fetch+filter,
        ``src/diskann_index.cpp:558-592``, expressed as an anti-join)."""
        art = self.artifact()
        if self.meta.num_deleted > 0:
            tomb = self.catalog.tombstones(self.meta.name)
            art = art.join(F.broadcast(tomb), on="row_id", how="left_anti")
        return art

    def refresh(self) -> None:
        self.meta = self.catalog.load(self.meta.name)

    def live_rows(self) -> DataFrame:
        """All live (row_id, vector) rows: artifact ∪ delta, minus
        tombstones — the input for vacuum/merge rebuilds."""
        rows = self.artifact().select("row_id", "vector")
        d = self.catalog.delta(self.meta.name)
        if d is not None:
            rows = rows.unionByName(d.select("row_id", "vector"))
        if self.meta.num_deleted > 0:
            tomb = self.catalog.tombstones(self.meta.name)
            rows = rows.join(F.broadcast(tomb), on="row_id", how="left_anti")
        return rows

    # ---- search surface ----
    # Subclasses implement _search_batch_impl / _search_batch_df_impl; the
    # public methods add append-delta compensation: rows inserted since the
    # last build live in a side parquet and are brute-force searched and
    # merged into the top-k — the reference's "index delta = unindexed tail"
    # semantics for ``BoundIndex::Append`` (src/diskann_index.cpp:316-361).
    def search(self, query: Sequence[float], k: int, **kw) -> DataFrame:
        """(row_id, _distance) of the k nearest, ascending."""
        return self.search_batch([list(query)], k, **kw).drop("query_idx")

    def search_batch(self, queries: list[Sequence[float]], k: int, **kw) -> DataFrame:
        hits = self._search_batch_impl(queries, k, **kw)
        d = self.catalog.delta(self.meta.name)
        if d is None:
            return hits
        if self.meta.num_deleted > 0:
            tomb = self.catalog.tombstones(self.meta.name)
            d = d.join(F.broadcast(tomb), on="row_id", how="left_anti")
        extra = kernels.probe_partitions(
            d,
            [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
            k,
            self.meta.metric,
            self.meta.dim,
            dequantize=self._delta_dequant_args(),
        )
        combined = hits.unionByName(extra)
        if kw.get("merge_k") == 0:
            # rerank recipe (see GraphIndex._sharded_search_df): the exact
            # re-score must see every candidate — a code-distance cut here
            # would reintroduce the loss the caller opted out of
            return combined
        return topk_per_query(combined, k)

    def search_batch_df(
        self,
        queries_df: DataFrame,
        k: int,
        query_col: str = "query",
        idx_col: str = "query_idx",
        **kw,
    ) -> DataFrame:
        """Distributed-batch search over a *DataFrame* of queries.

        ``queries_df`` must carry ``(idx_col BIGINT, query_col ARRAY<FLOAT>)``.
        Returns ``(idx_col, row_id, _distance)`` — exact top-k per query.
        Unlike ``search_batch`` (queries in driver memory, data-parallel probe)
        this keeps the query set distributed: each executor task probes the
        artifact for its slice of queries, so the operator scales with BOTH
        the base table and the query table — the Spark rendering of the
        reference's streaming in-out protocol (``src/ann_search.cpp:390-691``).
        Wrong-dimension / null query vectors produce no output rows
        (``test/sql/edge_cases.test`` semantics).
        """
        hits = self._search_batch_df_impl(queries_df, k, query_col, idx_col, **kw)
        if self.catalog.delta(self.meta.name) is None:
            return hits
        from duckdb_annsearch_spark.index import scan

        extra = scan.probe_path_df(
            queries_df,
            self.catalog.delta_path(self.meta.name),
            k,
            self.meta.dim,
            self.meta.metric,
            dequantize=self._delta_dequant_args(),
            deleted=self._deleted_rowid_array(),
            query_col=query_col,
            idx_col=idx_col,
        )
        combined = hits.unionByName(extra)
        if kw.get("merge_k") == 0:  # rerank recipe: no code-distance cut
            return combined
        return topk_per_query(combined, k, idx_col=idx_col)

    def _search_batch_impl(
        self, queries: list[Sequence[float]], k: int, **kw
    ) -> DataFrame:
        raise NotImplementedError

    def _search_batch_df_impl(
        self, queries_df: DataFrame, k: int, query_col: str, idx_col: str, **kw
    ) -> DataFrame:
        raise NotImplementedError

    def _deleted_rowid_array(self) -> "np.ndarray":
        """Tombstoned row_ids as a (small, broadcastable) numpy array —
        the closure-side rendering of over-fetch + filter compensation."""
        if self.meta.num_deleted <= 0:
            return np.empty(0, dtype=np.int64)
        rows = self.catalog.tombstones(self.meta.name).collect()
        return np.asarray([r["row_id"] for r in rows], dtype=np.int64)

    def _delta_dequant_args(self) -> dict | None:
        """Dequant dict for probing the FULL-PRECISION delta tail.  None for
        every quantization whose decode stays original-space (SQ/PQ/PCA —
        true-L2 delta distances merge cleanly with reconstruction-space main
        distances); for code-space quantizations (today: LSH, whose main
        hits are on the 4*hamming scale) the delta rows must pass through
        the same query transform (``raw_vectors`` mode in the probe
        kernels) or inserted rows would crowd out every indexed row in the
        merged top-k.  Gated on the descriptor's own
        ``kernels.needs_query_transform`` predicate — not the quantization
        name — so a future code-space code extends one module, not this
        call site."""
        if not self.meta.quantized:
            return None
        dq = self._dequant_args()
        if not kernels.needs_query_transform(dq):
            return None
        dq = dict(dq)
        dq["raw_vectors"] = True
        return dq

    def _dequant_args(self) -> dict | None:
        if not self.meta.quantized:
            return None
        if self.meta.extra.get("quantization") == "pq":
            books = getattr(self, "_pq_codebooks", None)
            if books is None:
                from duckdb_annsearch_spark.index import pq

                books = pq.load_codebooks(self.catalog.data_path(self.meta.name))
                self._pq_codebooks = books
            dq = {"codebooks": books}
            if self.meta.extra.get("opq"):
                rot = getattr(self, "_opq_rotation", None)
                if rot is None:
                    from duckdb_annsearch_spark.index import pq

                    rot = pq.load_rotation(self.catalog.data_path(self.meta.name))
                    self._opq_rotation = rot
                dq["rotation"] = rot
            return dq
        quant = self.meta.extra.get("quantization", "sq8")
        if quant == "fp16":
            return {"fp16": True}
        if quant == "pca":
            mats = getattr(self, "_pca_mats", None)
            if mats is None:
                from duckdb_annsearch_spark.index import pca

                mats = pca.load_pca(self.catalog.data_path(self.meta.name))
                self._pca_mats = mats
            return {"pca_mean": mats[0], "pca_w": mats[1]}
        if quant == "lsh":
            mats = getattr(self, "_lsh_mats", None)
            if mats is None:
                from duckdb_annsearch_spark.index import lsh

                mats = lsh.load_lsh(self.catalog.data_path(self.meta.name))
                self._lsh_mats = mats
            return {"lsh_mean": mats[0], "lsh_h": mats[1]}
        dq = {
            "mins": self.meta.extra["sq8_mins"],
            "scales": self.meta.extra["sq8_scales"],
        }
        if quant in SQ_BITS and SQ_BITS[quant] != 8:
            dq["bits"] = SQ_BITS[quant]
        return dq
