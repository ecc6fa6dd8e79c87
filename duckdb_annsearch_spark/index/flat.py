"""FAISS ``Flat`` equivalent: no index structure, exact brute force.

The reference's Flat index stores raw vectors and searches exhaustively
(``/root/reference/src/faiss_index.cpp:39-60`` — factory string "Flat" /
"IDMap,Flat").  Here the "index" is the vectors artifact itself; search is
the distributed GEMM probe (`kernels.probe_partitions`) — exact results,
map-side bounded top-k, no full shuffle — and, for a distributed query
table, the query-distributed scan (`scan.probe_path_df`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from duckdb_annsearch_spark.catalog import Catalog, IndexMeta
from duckdb_annsearch_spark.index import kernels, scan
from duckdb_annsearch_spark.index.base import (
    SQ_BITS,
    SQ_QUANTS,
    BaseIndex,
    add_fp16_codes,
    add_sq_codes,
    compute_sq8_stats,
    with_labels,
)


class FlatIndex(BaseIndex):
    TYPE = "flat"

    @classmethod
    def build(
        cls,
        catalog: Catalog,
        meta: IndexMeta,
        df: DataFrame,
        row_id_col: str,
        vector_col: str,
    ) -> "FlatIndex":
        art = with_labels(df, row_id_col, vector_col)
        quant = meta.params.get("quantization")
        books = None
        if quant in SQ_QUANTS:
            if quant == "fp16":
                art = add_fp16_codes(art, meta.dim)
            else:
                mins, scales = compute_sq8_stats(art, meta.dim)
                art = add_sq_codes(art, meta.dim, mins, scales, bits=SQ_BITS[quant])
                meta.extra["sq8_mins"] = mins
                meta.extra["sq8_scales"] = scales
            meta.quantized = True
            meta.extra["quantization"] = quant
        lsh_mats = None
        if quant == "lsh":
            from duckdb_annsearch_spark.index import lsh, pq

            nbits = int(meta.params.get("lsh_nbits", meta.dim))
            art = art.localCheckpoint(eager=False)  # pin labels: sample + encode read twice
            mean, h = lsh.train_lsh(pq.stride_sample(art, meta.dim), meta.dim, nbits)
            art = lsh.add_lsh_codes(art, meta.dim, mean, h)
            lsh_mats = (mean, h)
            meta.quantized = True
            meta.extra["quantization"] = "lsh"
            meta.extra["lsh_nbits"] = nbits
        pca_mats = None
        if quant == "pca":
            from duckdb_annsearch_spark.index import pca, pq

            dout = int(meta.params["pca_dim"])
            art = art.localCheckpoint(eager=False)  # pin labels: sample + encode read twice
            mean, w = pca.train_pca(pq.stride_sample(art, meta.dim), dout)
            art = pca.add_pca_codes(art, meta.dim, mean, w)
            pca_mats = (mean, w)
            meta.quantized = True
            meta.extra["quantization"] = "pca"
            meta.extra["pca_dim"] = dout
        rotation = None
        if quant == "pq":
            from duckdb_annsearch_spark.index import pq

            # the training sample collects twice (stats + encode read the
            # artifact separately) — pin one label assignment first
            art = art.localCheckpoint(eager=False)
            n_rows = art.count()
            m = pq.pq_m_for(meta.dim, meta.params.get("pq_m"), n=n_rows)
            sample = pq.stride_sample(art, meta.dim, n=n_rows)
            from duckdb_annsearch_spark.index.remote import run_remote

            # train in ONE Spark task, not on the driver (index/remote.py)
            if meta.params.get("opq"):
                rotation, books = run_remote(None, pq.train_opq, sample, m)
                meta.extra["opq"] = True
            else:
                books = run_remote(None, pq.train_pq, sample, m)
            art = pq.add_pq_codes(art, meta.dim, books, rotation=rotation)
            meta.quantized = True
            meta.extra["quantization"] = "pq"
            meta.extra["pq_m"] = m
        art.write.mode("overwrite").parquet(catalog.data_path(meta.name))
        if books is not None:
            from duckdb_annsearch_spark.index import pq

            pq.write_codebooks(catalog.data_path(meta.name), books)
            if rotation is not None:
                pq.write_rotation(catalog.data_path(meta.name), rotation)
        if pca_mats is not None:
            from duckdb_annsearch_spark.index import pca

            pca.write_pca(catalog.data_path(meta.name), *pca_mats)
        if lsh_mats is not None:
            from duckdb_annsearch_spark.index import lsh

            lsh.write_lsh(catalog.data_path(meta.name), *lsh_mats)
        idx = cls(catalog, meta)
        meta.num_vectors = idx.artifact().count()
        catalog.save(meta)
        return idx

    def _search_batch_impl(self, queries: list[Sequence[float]], k: int, **kw) -> DataFrame:
        dq = self._dequant_args()
        return kernels.probe_partitions(
            self.live_artifact(),
            [(i, list(q)) for i, q in enumerate(queries)],
            k,
            self.meta.metric,
            self.meta.dim,
            vector_col="codes" if dq else "vector",
            dequantize=dq,
        )

    def _search_batch_df_impl(
        self,
        queries_df: DataFrame,
        k: int,
        query_col: str = "query",
        idx_col: str = "query_idx",
        **kw,
    ) -> DataFrame:
        """Query-distributed exact search: the artifact is one parquet
        vector directory, so this is :func:`scan.probe_path_df` over it
        (codes column + dequantize on quantized artifacts, tombstones
        filtered in the scan)."""
        dq = self._dequant_args()
        return scan.probe_path_df(
            queries_df,
            self.catalog.data_path(self.meta.name),
            k,
            self.meta.dim,
            self.meta.metric,
            vector_col="codes" if dq else "vector",
            dequantize=dq,
            deleted=self._deleted_rowid_array(),
            query_col=query_col,
            idx_col=idx_col,
        )
