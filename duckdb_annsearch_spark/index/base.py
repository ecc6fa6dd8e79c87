"""Shared index machinery: artifact IO, labelling, tombstone and delta
compensation, and the per-instance load of the codes' descriptor.

Artifact layout (all index types): parquet rows
``(label INT, row_id LONG, vector ARRAY<FLOAT> [, codes BINARY, neighbors
ARRAY<INT>, cluster_id INT])``.  ``label`` is the dense internal id —
the reference's label<->rowid bijection
(``/root/reference/src/include/diskann_index.hpp:144-149``).

Quantized artifacts add a ``codes BINARY`` column; how every quantizer
trains, encodes and persists its codes lives in ``quant.py``.
Full-precision vectors are kept alongside codes (the reference keeps both,
``provider.rs:25-31``); parquet column pruning means a quantized search reads
only the codes column.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duckdb_annsearch_spark.catalog import Catalog, IndexMeta
from duckdb_annsearch_spark.index import kernels, quant
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


class BaseIndex:
    def __init__(self, catalog: Catalog, meta: IndexMeta):
        self.catalog = catalog
        self.meta = meta
        self.spark = catalog.spark

    # ---- artifact access ----
    def artifact(self) -> DataFrame:
        return self.catalog.read_parquet(self.catalog.data_path(self.meta.name))

    def refresh(self) -> None:
        self.meta = self.catalog.load(self.meta.name)
        self.__dict__.pop("_dq", None)
        self.__dict__.pop("_deleted", None)

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
    #
    # ``with_vectors=True`` makes a covered probe: every hit also carries
    # its raw ``vector`` from the artifact or delta row the probe read, so
    # a caller can build the row without reading the table.  Unquantized
    # indexes only: a quantized probe reads the codes, not the vectors.
    def search(self, query: Sequence[float], k: int, **kw) -> DataFrame:
        """(row_id, _distance) of the k nearest, ascending."""
        return self.search_batch([list(query)], k, **kw).drop("query_idx")

    def search_batch(
        self, queries: list[Sequence[float]], k: int, with_vectors: bool = False, **kw
    ) -> DataFrame:
        self._check_covered(with_vectors)
        hits = self._search_batch_impl(queries, k, with_vectors=with_vectors, **kw)
        d = self.catalog.delta(self.meta.name)
        if d is None:
            return hits
        extra = kernels.probe_partitions(
            d,
            [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
            k,
            self.meta.metric,
            self.meta.dim,
            dequantize=self._delta_dequant_args(),
            deleted=self._deleted_rowid_array(),
            with_vectors=with_vectors,
        )
        combined = hits.unionByName(extra)
        if kw.get("merge_k") == 0:
            # rerank recipe (see GraphIndex._sharded_search_df): the exact
            # re-score must see every candidate — a code-distance cut here
            # would reintroduce the loss the caller opted out of
            return combined
        return kernels.topk_per_query(combined, k, nq=len(queries))

    def search_batch_df(
        self,
        queries_df: DataFrame,
        k: int,
        query_col: str = "query",
        idx_col: str = "query_idx",
        with_vectors: bool = False,
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
        self._check_covered(with_vectors)
        hits = self._search_batch_df_impl(
            queries_df, k, query_col, idx_col, with_vectors=with_vectors, **kw
        )
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
            with_vectors=with_vectors,
        )
        combined = hits.unionByName(extra)
        if kw.get("merge_k") == 0:  # rerank recipe: no code-distance cut
            return combined
        return kernels.topk_per_query(combined, k, idx_col=idx_col)

    def _search_batch_impl(
        self, queries: list[Sequence[float]], k: int, with_vectors: bool = False, **kw
    ) -> DataFrame:
        raise NotImplementedError

    def _search_batch_df_impl(
        self,
        queries_df: DataFrame,
        k: int,
        query_col: str,
        idx_col: str,
        with_vectors: bool = False,
        **kw,
    ) -> DataFrame:
        raise NotImplementedError

    def _check_covered(self, with_vectors: bool) -> None:
        if with_vectors and self.meta.quantized:
            raise ValueError(
                f"index {self.meta.name!r} is quantized: its probe reads "
                "codes, so its hits cannot carry the raw vectors"
            )

    def _deleted_rowid_array(self) -> "np.ndarray":
        """Tombstoned row_ids as a numpy array, read on the driver through
        pyarrow (no Spark job).  The one tombstone compensation of every
        serving probe — ``kernels.probe_partitions`` (Flat, the delta
        tail), the IVF cell probes, ``scan.probe_path_df`` and the graph
        beams all drop these ids inside their closures: the reference's
        over-fetch + filter (``src/diskann_index.cpp:558-592``) without an
        anti-join job.  Read once per index object, so the artifact probe
        and the delta probe of one search share it."""
        if "_deleted" not in self.__dict__:
            self._deleted = (
                self.catalog.tombstone_ids(self.meta.name)
                if self.meta.num_deleted > 0
                else np.empty(0, dtype=np.int64)
            )
        return self._deleted

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
        dq = self._dequant_args()
        if not kernels.needs_query_transform(dq):
            return None
        return {**dq, "raw_vectors": True}

    def _dequant_args(self) -> dict | None:
        """The codes' descriptor (``quant.load`` of ``meta.extra``), read
        once per instance; None on an unquantized index."""
        if "_dq" not in self.__dict__:
            self._dq = quant.load(
                self.catalog.data_path(self.meta.name), self.meta.extra
            )
        return self._dq
