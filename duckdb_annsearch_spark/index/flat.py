"""FAISS ``Flat`` equivalent: no index structure, exact brute force.

The reference's Flat index stores raw vectors and searches exhaustively
(``/root/reference/src/faiss_index.cpp:39-60`` — factory string "Flat" /
"IDMap,Flat").  Here the "index" is the vectors artifact itself; search is
the distributed GEMM probe (`kernels.probe_partitions`) — exact results,
map-side bounded top-k, no full shuffle — and, for a distributed query
table, the query-distributed scan (`scan.probe_path_df`).  A quantized Flat
artifact is the same table plus a ``codes`` column: ``quant.quantize``
trains and encodes it, every probe decodes through ``kernels.decode_codes``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from duckdb_annsearch_spark.catalog import Catalog, IndexMeta
from duckdb_annsearch_spark.index import kernels, quant, scan
from duckdb_annsearch_spark.index.base import BaseIndex, with_labels


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
        path = catalog.data_path(meta.name)
        art, dq = quant.quantize(meta, with_labels(df, row_id_col, vector_col))
        meta.num_vectors = catalog.write_parquet(art, path, mode="overwrite")
        quant.save(path, meta, dq)
        catalog.save(meta)
        return cls(catalog, meta)

    def _search_batch_impl(
        self, queries: list[Sequence[float]], k: int, with_vectors: bool = False, **kw
    ) -> DataFrame:
        dq = self._dequant_args()
        return kernels.probe_partitions(
            self.artifact(),
            [(i, list(q)) for i, q in enumerate(queries)],
            k,
            self.meta.metric,
            self.meta.dim,
            vector_col="codes" if dq else "vector",
            dequantize=dq,
            deleted=self._deleted_rowid_array(),
            with_vectors=with_vectors,
        )

    def _search_batch_df_impl(
        self,
        queries_df: DataFrame,
        k: int,
        query_col: str = "query",
        idx_col: str = "query_idx",
        with_vectors: bool = False,
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
            with_vectors=with_vectors,
        )
