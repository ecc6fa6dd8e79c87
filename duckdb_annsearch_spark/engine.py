"""AnnEngine — the session object exposing the reference's function surface.

Maps the reference's SQL surface (``/root/reference/src/ann_extension.cpp:31-56``:
``ann_search``, ``ann_search_batch``, ``ann_search_table``,
``vector_distances``, ``hybrid_search``, ``ann_list``, ``ann_index_info``,
``diskann_index_scan``, ``faiss_index_scan``, ``diskann_streaming_build`` plus
CREATE/DROP INDEX, DELETE tombstones, VACUUM, index merge) onto DataFrames.

Scale stance: every search returns a DataFrame; the only driver-side
materialization anywhere is O(k) results, centroids, or a training sample —
never the data.
"""

from __future__ import annotations

import functools
import os
import tempfile
import time
from collections.abc import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_annsearch_spark.catalog import ROW_ID, Catalog, IndexMeta
from duckdb_annsearch_spark.functions.distance import metric_distance
from duckdb_annsearch_spark.index import quant
from duckdb_annsearch_spark.index.flat import FlatIndex
from duckdb_annsearch_spark.index.graph import GraphIndex
from duckdb_annsearch_spark.index.ivf import IvfFlatIndex
from duckdb_annsearch_spark.index.kernels import topk_per_query
from duckdb_annsearch_spark.operators.distances import detect_vector_column, vector_distances
from duckdb_annsearch_spark.operators.topk import topk_brute_force

# optimizer cost gates (src/ann_optimizer.cpp:459-472)
MIN_TABLE_SIZE_FOR_INDEX = 50
MAX_K_FRACTION_FLAT = 0.10
MAX_K_FRACTION_GRAPH = 0.30
# filtered-workload overfetch: "3x + 100" (README.md:164, src/ann_extension.cpp:57-60)
DEFAULT_OVERFETCH_MULTIPLIER = 3
OVERFETCH_BONUS = 100
# create_index(engine='diskann') collects every vector to the driver (parity
# with the reference's in-RAM Vamana build); above this many rows it
# auto-routes to the out-of-core streaming builder instead. Override per call
# with driver_build_max_rows=N (None disables routing).
DRIVER_BUILD_MAX_ROWS = 100_000
# auto-routed sharded builds aim for ~this many rows per shard subgraph
SHARD_TARGET_ROWS = 50_000
# ann_search(local=True) loads the artifact's (row_id, vector) columns into a
# driver-cached numpy snapshot; refuse above this many bytes (n*dim*4) — at
# that size the distributed path is the right tool
LOCAL_SERVE_MAX_BYTES = 512 << 20

_INDEX_CLASSES = {
    "flat": FlatIndex,
    "ivfflat": IvfFlatIndex,
    "diskann": GraphIndex,
    "hnsw": GraphIndex,  # HNSW maps onto the same graph machinery (SURVEY §2.1 D2)
}


def _parse_faiss_factory(desc: str) -> tuple[str, dict]:
    """Map FAISS factory strings onto our index types + params: the subset
    the reference constructs (``src/faiss_index.cpp:39-60``: "Flat"/
    "IDMap,Flat", "HNSW<M>", "IVF<nlist>,Flat") plus the quantized
    composites its parser accepts but its tests never exercise — the
    scalar family "SQ4"/"SQ6"/"SQ8"/"SQfp16" (QT_4bit/6bit/8bit/fp16),
    "PQ<m>", "OPQ<m>,PQ<m>", "IVF<nlist>,SQ<x>", "IVF<nlist>,PQ<m>",
    "OPQ<m>,IVF<nlist>,PQ<m>" — mapped to the native SQ/PQ/OPQ
    machinery.  A trailing ",RFlat" (faiss IndexRefineFlat: re-rank the
    candidates exactly against the stored full-precision vectors) maps to
    the engine's rerank serving default — ``ann_search`` then over-fetches
    ``refine_k_factor``x from the codes and re-scores exactly.  "LSH[n]"
    (hamming sign codes) and "PCA<dout>[,Flat]" (reduced-dim pretransform)
    map to their native machinery on a flat store.  Anything else (deeper
    LSH/PCA chains, non-Flat refiners) is rejected loudly rather than
    silently downgraded."""
    import re

    d = desc.strip().replace("IDMap,", "")
    refine = False
    m = re.search(r",RFlat$", d, re.IGNORECASE)
    if m:
        refine = True
        d = d[: m.start()]
    dtype, dparams = _parse_faiss_factory_base(d, desc)
    if refine:
        dparams = dict(dparams)
        dparams["refine"] = True
    return dtype, dparams


def _parse_faiss_factory_base(d: str, desc: str) -> tuple[str, dict]:
    import re

    if d.lower() == "flat":
        return "Flat", {}
    m = re.fullmatch(r"SQ(4|6|8|fp16)", d, re.IGNORECASE)
    if m:
        t = m.group(1).lower()
        return "Flat", {"quantization": "fp16" if t == "fp16" else f"sq{t}"}
    m = re.fullmatch(r"LSH(\d+)?", d, re.IGNORECASE)
    if m:
        # faiss IndexLSH: hyperplane sign bits, hamming candidate ranking
        # (index/quant.py); bare "LSH" = d bits like index_factory
        p = {"quantization": "lsh"}
        if m.group(1):
            p["lsh_nbits"] = int(m.group(1))
        return "Flat", p
    m = re.fullmatch(r"PCA(\d+)(,Flat)?", d, re.IGNORECASE)
    if m:
        # PCAMatrix pretransform onto a flat store: codes are reduced f32
        # coords, decode reconstructs via W^T (index/quant.py); deeper PCA
        # chains (PCA over IVF/PQ) stay loudly rejected below
        return "Flat", {"quantization": "pca", "pca_dim": int(m.group(1))}
    m = re.fullmatch(r"PQ(\d+)", d, re.IGNORECASE)
    if m:
        return "Flat", {"quantization": "pq", "pq_m": int(m.group(1))}
    m = re.fullmatch(r"OPQ(\d+),PQ(\d+)", d, re.IGNORECASE)
    if m:
        if int(m.group(1)) != int(m.group(2)):
            raise ValueError(f"OPQ block count must match PQ subspaces in {desc!r}")
        return "Flat", {"quantization": "pq", "pq_m": int(m.group(2)), "opq": True}
    m = re.fullmatch(r"HNSW(\d+)?", d, re.IGNORECASE)
    if m:
        return "HNSW", {"hnsw_m": int(m.group(1))} if m.group(1) else {}
    m = re.fullmatch(r"IVF(\d+),Flat", d, re.IGNORECASE)
    if m:
        return "IVFFlat", {"ivf_nlist": int(m.group(1))}
    m = re.fullmatch(r"PCA(\d+),IVF(\d+),Flat", d, re.IGNORECASE)
    if m:
        # PCA pretransform over an IVF coarse partitioning (the common
        # high-dim FAISS recipe); PCA over IVFPQ stays loudly rejected —
        # composing two lossy code transforms is a different artifact
        return "IVFFlat", {
            "ivf_nlist": int(m.group(2)),
            "quantization": "pca",
            "pca_dim": int(m.group(1)),
        }
    m = re.fullmatch(r"IVF(\d+),SQ(4|6|8|fp16)", d, re.IGNORECASE)
    if m:
        t = m.group(2).lower()
        return "IVFFlat", {
            "ivf_nlist": int(m.group(1)),
            "quantization": "fp16" if t == "fp16" else f"sq{t}",
        }
    m = re.fullmatch(r"IVF(\d+),PQ(\d+)", d, re.IGNORECASE)
    if m:
        return "IVFFlat", {
            "ivf_nlist": int(m.group(1)),
            "quantization": "pq",
            "pq_m": int(m.group(2)),
        }
    m = re.fullmatch(r"OPQ(\d+),IVF(\d+),PQ(\d+)", d, re.IGNORECASE)
    if m:
        if int(m.group(1)) != int(m.group(3)):
            raise ValueError(f"OPQ block count must match PQ subspaces in {desc!r}")
        return "IVFFlat", {
            "ivf_nlist": int(m.group(2)),
            "quantization": "pq",
            "pq_m": int(m.group(3)),
            "opq": True,
        }
    raise ValueError(f"unsupported FAISS factory description {desc!r}")


def _normalize_metric(metric: str) -> str:
    m = metric.lower()
    if m in ("l2", "euclidean"):
        return "l2"
    if m in ("ip", "inner_product", "innerproduct"):
        return "ip"
    if m in ("cosine", "cos"):
        return "cosine"
    raise ValueError(f"Unsupported metric: {metric} (expected L2, IP, or cosine)")


# the most driver-list ids a view hides with literal NOT IN filters
# before it takes the delete join (RegisteredTable.rebind).  Measured on a
# 200,000 x 32 table (local[4]): at 1,000 ids a search over the filtered
# view is as fast as over the join and runs one job fewer; from 4,000 the
# join is faster, and at 100,000 the literal list (parsed on every rebind,
# shipped in every task) makes the search about 4x slower.
_LITERAL_DELETE_MAX_IDS = 1_000
# helper columns of the registered view's delete join
_PART, _DEL_ID, _DEL_UPTO = "__ann_part", "__ann_del_id", "__ann_del_upto"


class RegisteredTable:
    def __init__(self, name: str, df: DataFrame, row_id: str):
        self.name = name
        self.row_id = row_id
        # the registered frame, then one frame per insert; ``df`` is their
        # union minus the deleted rows (``rebind``), the relation every
        # search reads
        self.parts = [df]
        self.df = df
        # a delete hides the rows of the parts that exist when it runs:
        # driver-list ids map to that part count, DataFrame deletes carry
        # it as a column
        self.deleted_ids: dict[int, int] = {}
        self.deleted_frames: list[DataFrame] = []
        # when this registration replaced an earlier one of the same name
        # in this engine (0.0: it did not); an index created before then
        # may hold rows the view no longer has (``AnnEngine._foreign_rows``)
        self.replaced_at = 0.0
        # column -> validated vector dimension (r10): every create_index /
        # streaming_build on one table paid its own probe job + full
        # dim-consistency scan — a 20-index warm-up re-validated the same
        # column ~18 times.  Cleared on insert/delete (df is rebound there),
        # so the cache never outlives the relation it validated.  The lock
        # serializes the first probe: concurrent builds (the warm-up shape)
        # would otherwise all miss the cold cache at once and re-run the
        # very jobs the cache exists to dedupe.
        import threading

        self.dim_cache: dict[str, int] = {}
        self.dim_lock = threading.Lock()

    def delete(self, row_ids: Sequence[int] | DataFrame) -> None:
        upto = len(self.parts)
        if isinstance(row_ids, DataFrame):
            self.deleted_frames.append(
                row_ids.select(
                    F.col(row_ids.columns[0]).cast("long").alias(_DEL_ID),
                    F.lit(upto).alias(_DEL_UPTO),
                )
            )
        else:
            self.deleted_ids.update(dict.fromkeys(map(int, row_ids), upto))
        self.rebind()

    def rebind(self) -> None:
        """``df`` = the union of ``parts`` minus the deleted rows.  A
        deleted id hides only the rows of the parts that existed when it
        was deleted, so a row inserted later with that id is visible, as
        in the reference's table.

        Up to ``_LITERAL_DELETE_MAX_IDS`` driver-list ids, each part is
        filtered by a literal ``NOT IN`` of the ids that hide it — an
        ``InSet``, which runs no job.  Past that count, or once a
        DataFrame delete (of unknown size) is part of the union, the rows
        take ONE join against every deleted id, however many inserts and
        deletes came before; driver-list ids go into it as one pandas
        frame (Arrow batches into a local relation)."""
        parts = self.parts
        dels = list(self.deleted_frames)
        if self.deleted_ids:
            n = len(self.deleted_ids)
            ids = np.fromiter(self.deleted_ids, np.int64, n)
            upto = np.fromiter(self.deleted_ids.values(), np.int32, n)
            if not dels and n <= _LITERAL_DELETE_MAX_IDS:
                key = f"`{self.row_id}`"
                # one SQL string, not Column.isin: one py4j call for the
                # whole list, which the optimizer turns into an InSet
                parts = [
                    p.where(
                        f"{key} IS NULL OR {key} NOT IN "
                        f"({','.join(map(str, ids[upto > i]))})"
                    )
                    if (upto > i).any()
                    else p
                    for i, p in enumerate(parts)
                ]
            else:
                dels.append(
                    parts[0].sparkSession.createDataFrame(
                        pd.DataFrame({_DEL_ID: ids, _DEL_UPTO: upto}),
                        f"{_DEL_ID} long, {_DEL_UPTO} int",
                    )
                )
        if not dels:
            df = functools.reduce(DataFrame.unionByName, parts)
        else:
            rows = functools.reduce(
                DataFrame.unionByName,
                [p.withColumn(_PART, F.lit(i)) for i, p in enumerate(parts)],
            )
            union = functools.reduce(DataFrame.unionByName, dels)
            if not self.deleted_frames:
                union = F.broadcast(union)
            hidden = (F.col(self.row_id) == F.col(_DEL_ID)) & (
                F.col(_PART) < F.col(_DEL_UPTO)
            )
            # an outer join + null filter, not "left_anti": the optimizer
            # pushes an anti-join into every part of the union, folds the
            # part's tag into its build side, and so broadcasts one
            # filtered copy of the ids per part instead of one for all
            df = (
                rows.join(union, hidden, "left")
                .where(F.col(_DEL_ID).isNull())
                .drop(_PART, _DEL_ID, _DEL_UPTO)
            )
        self.df = df
        self.dim_cache.clear()  # df rebound: a later probe must see it


class AnnEngine:
    def __init__(self, spark: SparkSession, workdir: str | None = None):
        self.spark = spark
        self.workdir = workdir or os.path.join(tempfile.gettempdir(), "ann_engine")
        self.catalog = Catalog(spark, os.path.join(self.workdir, "_ann_catalog"))
        self._tables: dict[str, RegisteredTable] = {}
        # ann_search(local=True) snapshots: name -> (dir signature, ids, x)
        self._local_snapshots: dict[str, tuple] = {}
        # (table, table) -> (frame, frame, same rows?) for _same_rows
        self._same_rows_seen: dict[tuple[str, str], tuple] = {}
        # Arrow-accelerated createDataFrame/toPandas: the engine works without
        # it (all driver-side frames carry plain-Python values), but host
        # sessions often omit the conf and the non-Arrow path is both slower
        # and stricter — set it defensively for any session the engine serves
        try:
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        except Exception:
            pass  # conf may be immutable on some managed sessions
        # driver/vanilla sessions ship Spark's default 200 shuffle
        # partitions; AQE-coalescing works from that number, so on small
        # clusters it burns planning/coalesce work and on local mode it
        # means 200-way tiny exchanges before coalesce.  Derive the same
        # core-based default the engine session uses — but ONLY when the
        # host never set the key (an explicit host setting wins, whatever
        # it is, 200 included; ``getAll`` lists only explicitly set keys).
        try:
            if "spark.sql.shuffle.partitions" not in spark.conf.getAll:
                cores = max(1, spark.sparkContext.defaultParallelism)
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(max(cores, 8))
                )
        except Exception:
            pass
        from duckdb_annsearch_spark.shipping import ensure_shipped

        ensure_shipped(spark)

    # ------------------------------------------------------------------ tables
    def register_table(self, name: str, df: DataFrame | str, row_id: str | None = None) -> DataFrame:
        """Register a base relation. ``row_id`` names a stable unique BIGINT
        key column — the engine's substitute for DuckDB's physical rowid
        (SURVEY §1.1). Without one, a row_id is materialized (stable only for
        deterministic single-source reads)."""
        if isinstance(df, str):
            from duckdb_annsearch_spark.vecio import read_table_auto

            df = read_table_auto(self.spark, df)
        if row_id is None:
            df = df.withColumn(ROW_ID, F.monotonically_increasing_id())
            row_id = ROW_ID
        t = RegisteredTable(name, df, row_id)
        if name in self._tables:
            t.replaced_at = time.time()
        self._tables[name] = t
        return df

    def table(self, name: str) -> RegisteredTable:
        if name not in self._tables:
            raise KeyError(f"table {name!r} is not registered with the engine")
        return self._tables[name]

    def _validated_dim(self, t: RegisteredTable, column: str, expect=None) -> int:
        """The column's vector dimension, with the one-consistent-dimension
        check enforced (the reference's FLOAT[N] type guarantees this
        statically; Spark arrays don't, and a mismatched row would
        otherwise be silently indexed as the zero vector —
        kernels.stack_vectors zero-fills bad rows).

        Cached per RegisteredTable+column (r10): the probe job + the
        consistency scan are properties of the RELATION, not of the index —
        a multi-index warm-up on one table paid both ~18x.  insert/delete
        clear the cache (they rebind ``t.df``).  ``expect`` pins the
        dimension from caller metadata instead of the probe; a cached
        validation at a DIFFERENT dim means mismatched rows exist."""
        with t.dim_lock:
            cached = t.dim_cache.get(column)
            if cached is not None:
                if expect is not None and int(expect) != cached:
                    raise ValueError(
                        f"ANN index column must be FLOAT[{int(expect)}]: "
                        f"{t.name}.{column} has rows with a different dimension"
                    )
                return cached
            if expect is None:
                probe = (
                    t.df.where(F.col(column).isNotNull())
                    .select(F.size(F.col(column)).alias("d"))
                    .first()
                )
                if probe is None:
                    raise ValueError(
                        f"cannot infer dimension: {t.name}.{column} has no rows"
                    )
                dim = int(probe["d"])
            else:
                dim = int(expect)
            bad = (
                t.df.where(
                    F.col(column).isNotNull() & (F.size(F.col(column)) != dim)
                )
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"ANN index column must be FLOAT[{dim}]: {t.name}.{column} "
                    f"has rows with a different dimension"
                )
            t.dim_cache[column] = dim
            return dim

    # ------------------------------------------------------------- index DDL
    def create_index(
        self,
        name: str,
        table: str,
        column: str | None = None,
        engine: str = "diskann",
        index_type: str | None = None,
        metric: str = "l2",
        if_not_exists: bool = False,
        **params,
    ):
        """CREATE INDEX ... USING DISKANN/FAISS (col) WITH (...).

        Validates the column is a float array ("must be FLOAT[N]",
        ``src/diskann_index.cpp:82-84``) with one consistent dimension.
        """
        if self.catalog.exists(name):
            if if_not_exists:
                return self.get_index(name)
            raise ValueError(f"Index with name {name!r} already exists")
        t = self.table(table)
        column = column or detect_vector_column(t.df)
        # covering payload columns (True = every non-key, non-vector column)
        # are a sidecar concern, not an index param — pop before validation,
        # and validate NOW: a typo'd column name must fail before a
        # potentially hours-long build, not after it
        covering = params.pop("covering", None)
        if covering:
            self._validate_covering(t, column, covering)
        field = dict((f.name, f.dataType) for f in t.df.schema.fields).get(column)
        if field is None:
            raise ValueError(f"column {column!r} not found on table {table!r}")
        if not (
            isinstance(field, T.ArrayType)
            and isinstance(field.elementType, (T.FloatType, T.DoubleType))
        ):
            raise ValueError("ANN index column must be FLOAT[N] (array<float>)")

        engine = engine.lower()
        if engine == "diskann":
            itype = "diskann"
        elif engine == "faiss":
            # mode=cpu|gpu|auto and legacy gpu= flag are accepted and
            # recorded; execution is always the distributed-CPU path
            # (src/faiss_index.cpp:108-153, test/sql/faiss_gpu.test:8-147)
            mode = str(params.get("mode", "cpu")).lower()
            if mode not in ("cpu", "gpu", "auto"):
                raise ValueError(f"unknown FAISS mode {mode!r} (cpu | gpu | auto)")
            params["mode"] = mode
            desc = params.pop("description", None)
            if desc:
                dtype, dparams = _parse_faiss_factory(desc)
                index_type = index_type or dtype
                for dk, dv in dparams.items():
                    params.setdefault(dk, dv)
            itype = (index_type or params.get("type") or "Flat").lower()
            if itype not in ("flat", "ivfflat", "hnsw"):
                raise ValueError(f"unknown FAISS index type {index_type!r}")
        else:
            raise ValueError(f"unknown index engine {engine!r} (diskann | faiss)")
        params.pop("type", None)

        # PQ on "diskann" is accepted here and settled by the row-count
        # routing below: sharded builds encode it, GraphIndex.build rejects it
        quant.validate(params, itype, _normalize_metric(metric))

        # dimension: from metadata or a one-row probe (Spark arrays are not
        # fixed-size; the engine owns the dimension — SURVEY §1.2)
        dim = self._validated_dim(t, column, expect=params.pop("dim", None))

        if itype == "diskann":
            # GraphIndex.build is the reference-parity in-RAM build (every
            # vector collected to the driver). Above a row cap that is an
            # OOM, not a trade-off — route to the out-of-core builder, which
            # registers the same searchable DISKANN index. Kmeans-sharded,
            # not the unsharded two-pass: measured on 50k uniform vectors,
            # sharded search holds recall@10 = 1.0 at the default beam while
            # the pilot+partition-insert graph needs L=512 for 0.92 (weak
            # cross-partition linkage) — and shards also remove the
            # single-worker RAM ceiling on the serving side.
            cap = params.pop("driver_build_max_rows", DRIVER_BUILD_MAX_ROWS)
            if cap is not None:
                n_rows = t.df.where(F.col(column).isNotNull()).count()
                if n_rows > int(cap):
                    # explicit shards/shard_by pass through untouched;
                    # sq8 rides the sharded route like everything else
                    # (per-shard codes under index-global stats + a
                    # dequantizing probe — streaming_build.sharded_build)
                    shards = params.pop("shards", None)
                    shard_by = params.pop("shard_by", "kmeans")
                    if shards is None:
                        shards = min(64, max(2, -(-n_rows // SHARD_TARGET_ROWS)))
                    self.streaming_build(
                        name, table, column, metric=metric,
                        shards=int(shards), shard_by=shard_by, **params,
                    )
                    if covering:
                        self.attach_covering(name, covering)
                    return self.get_index(name)

        meta = IndexMeta(
            name=name,
            engine=engine,
            index_type=itype,
            table_name=table,
            column=column,
            dim=dim,
            metric=_normalize_metric(metric),
            params=params,
        )
        cls = _INDEX_CLASSES[itype]
        idx = cls.build(self.catalog, meta, t.df, t.row_id, column)
        if covering:
            self.attach_covering(name, covering)
            idx = self.get_index(name)  # meta now carries the covering list
        return idx

    def attach_covering(self, index: str, columns=True):
        """Materialize payload columns into a covering sidecar so
        ``ann_search(local=True)`` serves FULL rows in-process — reference
        parity with its in-process row fetch (``src/ann_search.cpp:31-195``),
        where the scan returns every table column, not just (row_id,
        distance).  ``columns=True`` covers every table column except the
        row key and the indexed vector; a list covers exactly those names.

        The sidecar is (row_id, <columns>) parquet under the index dir:
        appended on :meth:`insert`, filtered by tombstones at serve time,
        rewritten by :meth:`vacuum`, and part of the local-snapshot
        freshness signature.  Safe to call again to refresh/extend."""
        meta = self.catalog.load(index)
        t = self.table(meta.table_name)
        cols = self._validate_covering(t, meta.column, columns)
        t.df.select(
            F.col(t.row_id).cast("long").alias("row_id"), *cols
        ).write.mode("overwrite").parquet(self.catalog.covering_path(index))
        meta.extra["covering"] = cols
        self.catalog.save(meta)
        self._local_snapshots.pop(index, None)

    def get_index(self, name: str):
        meta = self.catalog.load(name)
        return _INDEX_CLASSES[meta.index_type](self.catalog, meta)

    def drop_index(self, name: str, if_exists: bool = False) -> None:
        if not self.catalog.exists(name):
            if if_exists:
                return
            raise KeyError(f"ANN index {name!r} does not exist")
        self.catalog.drop(name)
        # release the local-serving snapshot's arrays (staleness is already
        # signature-guarded; this is memory hygiene for dropped indexes)
        self._local_snapshots.pop(name, None)

    def unregister_table(self, name: str) -> None:
        """DROP TABLE semantics: dropping a table cascades to every index
        built on it (exercised by ``test/sql/edge_cases.test`` "Drop table
        with indexes"), ANN and FTS alike."""
        t = self.table(name)
        for meta in self.catalog.for_table(name):
            self.catalog.drop(meta.name)
        del self._tables[t.name]

    def insert(self, table: str, rows: DataFrame) -> None:
        """INSERT propagation (``BoundIndex::Append``,
        ``src/diskann_index.cpp:316-361``): new rows land in each index's
        delta parquet — the unindexed tail — which searches brute-force and
        merge into the top-k until ``vacuum``/``merge_index`` compacts.

        ``rows`` must carry the table's full schema (the reference's INSERT
        grows the table and its indexes together)."""
        t = self.table(table)
        t.parts.append(rows.select(*t.parts[0].columns))
        t.rebind()
        for meta in self.catalog.for_table(table):
            if meta.engine == "fts":
                continue
            self.catalog.add_delta(
                meta.name,
                rows.select(
                    F.col(t.row_id).alias("row_id"),
                    F.col(meta.column).alias("vector"),
                ),
            )
            cov = meta.extra.get("covering")
            if cov:
                rows.select(
                    F.col(t.row_id).cast("long").alias("row_id"), *cov
                ).write.mode("append").parquet(
                    self.catalog.covering_path(meta.name)
                )

    def delete(self, table: str, row_ids: Sequence[int] | DataFrame) -> None:
        """DELETE propagation: remove the rows from the registered relation
        AND tombstone them in every index on the table
        (``src/diskann_index.cpp:363-385``). Both must happen — index paths
        compensate via tombstones, but brute-force paths (cost-gated topk,
        vector_distances, unrewritten SQL) read the relation directly and
        would otherwise resurrect deleted rows.

        The relation is every registered or inserted row minus the ids
        deleted so far (``RegisteredTable.rebind``): literal ``NOT IN``
        filters while the driver-list ids number at most
        ``_LITERAL_DELETE_MAX_IDS``, else ONE join against every deleted
        id, so a later search pays no job or the same one join after any
        number of deletes.  A delete hides the rows that exist when it
        runs; a row a later ``insert`` brings with a deleted id is visible
        in the relation.  (An index hides such a row while its tombstones,
        which are by id, hold the id; its fetch then returns other rows,
        never fewer.)"""
        t = self.table(table)
        if not isinstance(row_ids, DataFrame):
            row_ids = list(row_ids)
        t.delete(row_ids)
        for meta in self.catalog.for_table(table):
            self.catalog.add_tombstones(meta.name, row_ids)

    def _stage_rows(self, name: str, rows: DataFrame) -> tuple[DataFrame, str]:
        """Durably stage (row_id, vector) rows to parquet BEFORE the old
        index is dropped. ``cache()`` is not a checkpoint: a lost executor
        recomputes cached partitions from the source files, and once
        ``catalog.drop`` has deleted those the index would be unrecoverable.
        Returns (staged DataFrame read back from disk, path to delete)."""
        import uuid

        path = os.path.join(self.catalog.root, "_staging", f"{name}-{uuid.uuid4().hex}")
        rows.write.mode("overwrite").parquet(path)
        return self.catalog.read_parquet(path, rows.schema), path

    @staticmethod
    def _unstage(path: str) -> None:
        import shutil

        shutil.rmtree(path, ignore_errors=True)

    def vacuum(self, name: str):
        """Rebuild without deleted rows, then drop tombstones
        (``src/diskann_index.cpp:701-741``)."""
        idx = self.get_index(name)
        live = idx.live_rows()  # artifact ∪ delta, minus tombstones
        return self._rebuild(idx.meta, live, self._stage_covering(idx.meta), "vacuum")

    def _rebuild(
        self, meta, rows: DataFrame, cov_staged: tuple | None, op: str,
        merged_tables: list[str] | None = None,
    ):
        """Rebuild index ``meta`` from (row_id, vector) ``rows`` — the
        vacuum / merge compaction: stage the rows durably, drop the old
        index (its tombstones and delta go with it), build the same index
        class under fresh metadata, restore the staged covering payload.
        The rebuilt index keeps ``meta``'s creation time and the other
        tables its rows came from (``merged_tables``, by default
        ``meta``'s), which decide whether it covers its table
        (:meth:`_covered`)."""
        if merged_tables is None:
            merged_tables = meta.extra.get("merged_tables")
        new_meta = IndexMeta(
            name=meta.name,
            engine=meta.engine,
            index_type=meta.index_type,
            table_name=meta.table_name,
            column=meta.column,
            dim=meta.dim,
            metric=meta.metric,
            params=meta.params,
            created_at=meta.created_at,
        )
        staged, stage_path = self._stage_rows(meta.name, rows)
        self.catalog.drop(meta.name)
        try:
            if meta.extra.get("shards"):
                # sharded graphs recompact with the sharded builder — falling
                # back to the driver build would silently cap the index at one
                # worker's RAM
                from duckdb_annsearch_spark.index.streaming_build import sharded_build

                by = "kmeans" if meta.extra.get("shard_centroids") else "hash"
                sharded_build(
                    self.catalog, new_meta, staged, "row_id", "vector",
                    int(meta.extra["shards"]), by=by,
                )
                rebuilt = self.get_index(meta.name)
            else:
                rebuilt = _INDEX_CLASSES[meta.index_type].build(
                    self.catalog, new_meta, staged, "row_id", "vector"
                )
        except BaseException as e:
            # the old index is gone — the staged parquet is the only copy
            # (name the covering stage too, or it leaks silently)
            cov_note = (
                f"; covering payload staged at {cov_staged[2]}"
                if cov_staged
                else ""
            )
            raise RuntimeError(
                f"{op} rebuild of {meta.name!r} failed; staged rows kept at "
                f"{stage_path}{cov_note}"
            ) from e
        self._restore_covering(meta, cov_staged)
        if merged_tables:
            m2 = self.catalog.load(meta.name)
            m2.extra["merged_tables"] = merged_tables
            self.catalog.save(m2)
            rebuilt = self.get_index(meta.name)
        self._unstage(stage_path)
        return rebuilt

    def _stage_covering(self, meta) -> tuple | None:
        """Durably stage the covering sidecar's LIVE rows (tombstoned rows
        dropped — vacuum compacts the payload alongside the vectors) before
        the index dir is deleted.  Returns (columns, staged df, path)."""
        cov_cols = meta.extra.get("covering")
        if not cov_cols:
            return None
        if not os.path.isdir(self.catalog.covering_path(meta.name)):
            # sidecar lost out-of-band: rebuild without it rather than fail
            # the vacuum; serving will name attach_covering as the remedy
            return None
        live_cov = (
            self.catalog.read_parquet(self.catalog.covering_path(meta.name))
            .join(self.catalog.tombstones(meta.name), "row_id", "left_anti")
            .dropDuplicates(["row_id"])
        )
        staged, path = self._stage_rows(meta.name + "-covering", live_cov)
        return (cov_cols, staged, path)

    def _restore_covering(self, meta, cov_staged: tuple | None) -> None:
        if cov_staged is None:
            return
        cov_cols, staged, path = cov_staged
        staged.write.mode("overwrite").parquet(
            self.catalog.covering_path(meta.name)
        )
        m2 = self.catalog.load(meta.name)
        m2.extra["covering"] = cov_cols
        self.catalog.save(m2)
        self._unstage(path)

    def merge_index(self, target: str, source: str):
        """Merge source index's live vectors into target and rebuild
        (``src/diskann_index.cpp:655-699``).  A source over another table
        is recorded in the target's ``merged_tables``: the target then
        holds rows its own table's view does not, so its searches fetch
        their rows from the view and local serving refuses it
        (:meth:`_foreign_rows`)."""
        tgt, src = self.get_index(target), self.get_index(source)
        if tgt.meta.dim != src.meta.dim or tgt.meta.metric != src.meta.metric:
            raise ValueError("cannot merge indexes with different dim/metric")
        union = (
            tgt.live_rows()
            .unionByName(src.live_rows())
            .dropDuplicates(["row_id"])
        )
        meta = tgt.meta
        # a covering target needs payloads for the incoming rows too —
        # require a source covering with the same columns (merging without
        # it would silently break local full-row serving for merged rows)
        tgt_cov, src_cov = (
            meta.extra.get("covering"), src.meta.extra.get("covering"),
        )
        cov_staged = None
        if tgt_cov and not os.path.isdir(self.catalog.covering_path(target)):
            # target sidecar lost out-of-band (same degradation as vacuum):
            # merge proceeds without covering; serving names the remedy
            tgt_cov = None
        if tgt_cov:
            if sorted(src_cov or []) != sorted(tgt_cov):
                raise ValueError(
                    f"cannot merge into covering index {target!r}: source "
                    f"{source!r} covers {src_cov or 'nothing'} but the target "
                    f"covers {tgt_cov} — attach_covering({source!r}, "
                    f"{tgt_cov}) first"
                )
            if not os.path.isdir(self.catalog.covering_path(source)):
                raise ValueError(
                    f"source index {source!r} declares covering columns but "
                    "its sidecar directory is missing — re-run "
                    f"attach_covering({source!r}, {tgt_cov}) first"
                )
            cov_union = (
                self.catalog.read_parquet(self.catalog.covering_path(target))
                .join(self.catalog.tombstones(target), "row_id", "left_anti")
                .unionByName(
                    self.catalog.read_parquet(self.catalog.covering_path(source))
                    .join(
                        self.catalog.tombstones(source), "row_id", "left_anti"
                    )
                )
                .dropDuplicates(["row_id"])
            )
            cov_staged = (
                tgt_cov, *self._stage_rows(target + "-covering", cov_union),
            )
        merged = set(meta.extra.get("merged_tables") or ())
        merged |= set(src.meta.extra.get("merged_tables") or ())
        merged |= {src.meta.table_name} - {meta.table_name}
        return self._rebuild(meta, union, cov_staged, "merge", sorted(merged))

    def streaming_build(
        self,
        name: str,
        table: str,
        column: str | None = None,
        metric: str = "l2",
        sample_size: int | None = None,
        partition_rows: int | None = None,
        shards: int | None = None,
        shard_by: str = "hash",
        if_not_exists: bool = False,
        **params,
    ) -> dict:
        """Two-pass out-of-core DiskANN build
        (``src/diskann_functions.cpp:127-211``): pilot graph from a
        ``max(sqrt(N), 1000)`` stride sample, then partition-parallel
        streaming inserts — the scale path for graph indexes; the input is
        any registered table rather than a packed binary file.  Returns
        ``{num_vectors, dimension, sample_size}`` like the reference's
        result row and registers index ``name`` (searchable exactly like a
        ``create_index`` DISKANN index).

        ``shards=N`` switches to the fully-distributed sharded build: N
        independent subgraphs built in parallel with no driver-side work,
        searched by per-shard fan-out + merge — the path for graphs too
        big for one worker's memory."""
        from duckdb_annsearch_spark.index.streaming_build import (
            DEFAULT_PARTITION_ROWS,
            sharded_build,
            streaming_build,
        )

        if self.catalog.exists(name):
            if if_not_exists:
                meta = self.catalog.load(name)
                return {
                    "num_vectors": meta.num_vectors,
                    "dimension": meta.dim,
                    "sample_size": meta.extra.get("sample_size", 0),
                }
            raise ValueError(f"Index with name {name!r} already exists")
        t = self.table(table)
        column = column or detect_vector_column(t.df)
        dim = self._validated_dim(t, column)
        quant.validate(
            params, "sharded" if shards else "graph", _normalize_metric(metric)
        )
        meta = IndexMeta(
            name=name,
            engine="diskann",
            index_type="diskann",
            table_name=table,
            column=column,
            dim=dim,
            metric=_normalize_metric(metric),
            params=params,
        )
        if shards:
            return sharded_build(
                self.catalog, meta, t.df, t.row_id, column, shards, by=shard_by
            )
        return streaming_build(
            self.catalog,
            meta,
            t.df,
            t.row_id,
            column,
            sample_size=sample_size,
            partition_rows=partition_rows or DEFAULT_PARTITION_ROWS,
        )

    def streaming_build_file(
        self,
        input_path: str,
        output_path: str | None = None,
        name: str | None = None,
        **params,
    ) -> dict:
        """The reference's ``diskann_streaming_build`` table function,
        end-to-end (``src/diskann_functions.cpp:127-211``): packed binary
        vector file ``[u32 N][u32 D][f32*N*D]`` in, ``.diskann`` file out,
        returning the reference's result row plus ``table`` (the backing
        table the index was registered against — needed for
        ``ann_search(table, name, ...)``, and for re-registering after an
        engine restart: the catalog persists the index, table
        registrations are session state, so reload with
        ``register_table(res['table'], read_packed_vectors(spark,
        input_path), row_id='row_id')``).  The read and the build both
        distribute (``vecio.read_packed_vectors`` + the two-pass
        pilot/insert builder).  ``output_path=None`` skips the binary
        export and just registers."""
        import os

        from duckdb_annsearch_spark.vecio import read_packed_vectors

        if output_path is not None and params.get("shards"):
            # validate the combination BEFORE the (potentially long) build:
            # export_dann would reject sharded graphs only afterwards
            raise ValueError(
                "streaming_build_file: shards=N has no single-file .diskann "
                "form — drop output_path or build unsharded"
            )
        df = read_packed_vectors(self.spark, input_path)
        name = name or (
            os.path.splitext(os.path.basename(output_path or input_path))[0]
            + "_idx"
        )
        tbl = f"__sbf_{name}"
        self.register_table(tbl, df, row_id="row_id")
        res = self.streaming_build(name, tbl, "vector", **params)
        res["table"] = tbl
        if output_path is not None:
            self.export_dann(name, output_path)
        return res

    def export_dann(self, name: str, out_path: str) -> dict:
        """Serialize a graph index to the reference's ``.diskann`` binary
        layout (DANN v2 — ``rust_lib/src/file_format.rs:3-18``) for interop
        with reference tooling.  The row_id map is NOT part of the format
        (the reference persists it separately in DB blocks); labels are
        written in label order, which this engine assigns by ascending
        row_id."""
        import pyarrow.parquet as pq

        from duckdb_annsearch_spark.index.dann_format import write_dann
        from duckdb_annsearch_spark.index.vamana import (
            DEFAULT_BUILD_COMPLEXITY,
            DEFAULT_MAX_DEGREE,
        )

        meta = self.catalog.load(name)
        if meta.index_type not in ("diskann", "hnsw"):
            raise ValueError("export_dann requires a graph index")
        if meta.extra.get("shards"):
            raise ValueError("sharded graphs have no single-file DANN form")
        # unsorted read + numpy gather — never Table.sort_by on artifact
        # tables (pyarrow 16.1.0 corrupts large list<float> children under
        # sort/take; see index/graph._argsorted_labels)
        from duckdb_annsearch_spark.index.graph import (
            _argsorted_labels,
            _dann_trailer,
            _label_vectors,
        )

        t = pq.read_table(self.catalog.data_path(name))
        _, order = _argsorted_labels(t, "label")
        vec_un = t.column("vector").to_pylist()
        vectors = np.asarray([vec_un[j] for j in order], dtype=np.float32)
        nb_un = t.column("neighbors").to_pylist()
        neighbors = [
            np.asarray(nb_un[j] or [], dtype=np.int64) for j in order
        ]
        dq = quant.load(self.catalog.data_path(name), meta.extra)
        codes, _ = _label_vectors(t, order, dq)
        write_dann(
            out_path,
            vectors,
            neighbors,
            [int(meta.extra.get("entry_point", 0))],
            metric=meta.metric,
            max_degree=int(meta.params.get("max_degree", DEFAULT_MAX_DEGREE)),
            build_complexity=int(
                meta.params.get("build_complexity", DEFAULT_BUILD_COMPLEXITY)
            ),
            **_dann_trailer(dq, codes),
        )
        return {"num_vectors": int(vectors.shape[0]), "path": out_path}

    def import_dann(self, name: str, table: str, path: str) -> "GraphIndex":
        """Load a ``.diskann`` file as a searchable graph index.  The format
        carries no row_id map, so row_id = label (callers with an external
        mapping can join afterwards)."""
        from duckdb_annsearch_spark.index.dann_format import read_dann
        from duckdb_annsearch_spark.index.graph import GraphIndex
        from duckdb_annsearch_spark.index.vamana import VamanaGraph

        if self.catalog.exists(name):
            raise ValueError(f"Index with name {name!r} already exists")
        d = read_dann(path)
        n, dim = d["vectors"].shape
        meta = IndexMeta(
            name=name,
            engine="diskann",
            index_type="diskann",
            table_name=table,
            column="",
            dim=int(dim),
            metric=d["metric"],
            params={
                "max_degree": d["max_degree"],
                "build_complexity": d["build_complexity"],
            },
        )
        ep = d["entry_points"][0] if d["entry_points"] else 0
        sq8 = d["sq8"]
        dq = None if sq8 is None else {"mins": sq8["mins"], "scales": sq8["scales"]}
        g = VamanaGraph(d["vectors"], d["neighbors"], ep, d["metric"])
        GraphIndex._write_artifact(
            self.catalog, meta, g, np.arange(n, dtype=np.int64), d["max_degree"], dq
        )
        meta.extra["entry_point"] = int(ep)
        meta.num_vectors = n
        self.catalog.save(meta)
        return GraphIndex(self.catalog, meta)

    # ------------------------------------------------------------ fts/hybrid
    def create_fts_index(self, name: str, table: str, id_col: str, text_col: str):
        """Engine-owned FTS artifact backing hybrid_search (the reference
        requires DuckDB's FTS extension index — ours is postings+doclens
        parquet; see operators/fts.py for the documented semantics)."""
        from duckdb_annsearch_spark.operators.fts import build_fts_artifacts

        if self.catalog.exists(name):
            raise ValueError(f"Index with name {name!r} already exists")
        t = self.table(table)
        postings, doclens = build_fts_artifacts(t.df, id_col, text_col)
        meta = IndexMeta(
            name=name,
            engine="fts",
            index_type="fts",
            table_name=table,
            column=text_col,
            dim=0,
            metric="bm25",
        )
        base = self.catalog.data_path(name)
        postings.write.mode("overwrite").parquet(os.path.join(base, "postings"))
        doclens.write.mode("overwrite").parquet(os.path.join(base, "doclens"))
        dl = self.catalog.read_parquet(os.path.join(base, "doclens"), doclens.schema)
        agg = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")).first()
        meta.extra["n_docs"] = int(agg["n"])
        meta.extra["avgdl"] = float(agg["avgdl"] or 0.0)
        meta.num_vectors = int(agg["n"])
        meta.extra["id_col"] = id_col
        self.catalog.save(meta)
        return meta

    def _fts_for_table(self, table: str):
        for m in self.catalog.for_table(table):
            if m.engine == "fts":
                return m
        return None

    def hybrid_search(
        self,
        table: str,
        index: str,
        vector_col: str,
        id_col: str,
        query_vec: Sequence[float],
        query_text: str,
        k: int = 20,
        bm25_weight: float = 0.3,
        vector_weight: float = 0.7,
        bm25_candidates: int = 50,
        vector_candidates: int = 50,
        search_complexity: int | None = None,
    ) -> DataFrame:
        """BM25 + vector + weighted RRF (``src/ann_search.cpp:894-1163``).
        Output: table columns + _rrf_score, _bm25_rank, _vector_rank,
        ``_rrf_score`` descending.

        The fusion joins BM25 doc ids with vector-index row ids, so both
        must live in the registered table's row_id space; mismatches are
        rejected rather than silently fused wrong.  The at most ``k`` fused
        ids are fetched like every bounded search (:meth:`_fetch`: broadcast
        join, one limit-sort to ``k`` rows), so a ``row_id`` repeated in the
        table drops its lowest-scored rows at that cut."""
        from duckdb_annsearch_spark.operators.fts import bm25_scores, tokenize_py
        from duckdb_annsearch_spark.operators.hybrid import rank_by, rrf_fuse

        t = self.table(table)
        idx = self.get_index(index)
        if idx.meta.column != vector_col:
            raise ValueError(
                f"index {index!r} is on column {idx.meta.column!r}, not {vector_col!r}"
            )
        if id_col != t.row_id:
            raise ValueError(
                f"hybrid_search fuses on the table's row_id ({t.row_id!r}); "
                f"id_col={id_col!r} does not match"
            )

        vec_hits = idx.search(list(query_vec), vector_candidates, search_complexity=search_complexity)
        vec_ranked = rank_by(
            vec_hits, [F.col("_distance").asc(), F.col("row_id").asc()], "_vector_rank"
        ).select("row_id", "_vector_rank")

        bm25_ranked = None
        fts = self._fts_for_table(table)
        if fts is not None and fts.extra.get("id_col", t.row_id) != t.row_id:
            raise ValueError(
                f"FTS index {fts.name!r} ids are {fts.extra['id_col']!r}, "
                f"not the table row_id {t.row_id!r} — BM25 ranks would fuse "
                "with the wrong rows"
            )
        terms = tokenize_py(query_text or "")
        if fts is not None and terms:
            base = self.catalog.data_path(fts.name)
            postings = self.catalog.read_parquet(os.path.join(base, "postings"))
            doclens = self.catalog.read_parquet(os.path.join(base, "doclens"))
            scores = bm25_scores(
                postings, doclens, fts.extra["n_docs"], fts.extra["avgdl"], terms
            )
            top = scores.orderBy(
                F.col("_bm25_score").desc(), F.col("doc_id").asc()
            ).limit(bm25_candidates)
            bm25_ranked = rank_by(
                top.withColumnRenamed("doc_id", "row_id"),
                [F.col("_bm25_score").desc(), F.col("row_id").asc()],
                "_bm25_rank",
            ).select("row_id", "_bm25_rank")

        fused = rrf_fuse(bm25_ranked, vec_ranked, k, bm25_weight, vector_weight)
        return self._fetch(
            t.df, t.row_id, fused, k, [],
            ["_rrf_score", "_bm25_rank", "_vector_rank"], [F.col("_rrf_score").desc()],
        )

    # --------------------------------------------------------------- listing
    def ann_list(self) -> DataFrame:
        """(name, engine, table_name) — ``src/ann_list.cpp:16-90``."""
        rows = [
            (m.name, m.engine, m.table_name)
            for m in self.catalog.all()
            if m.engine != "fts"
        ]
        schema = "name string, engine string, table_name string"
        return self.spark.createDataFrame(rows, schema).orderBy("name")

    def ann_index_info(self) -> DataFrame:
        """Diagnostics per index — ``src/ann_list.cpp:92-221`` (the
        reference's ``memory_bytes`` becomes ``size_bytes``: on-disk
        artifact footprint, the meaningful figure for a parquet-backed
        index)."""
        rows = []
        for m in self.catalog.all():
            if m.engine == "fts":
                continue
            size = 0
            for root, _dirs, files in os.walk(self.catalog.index_dir(m.name)):
                size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            rows.append(
                (
                    m.name,
                    m.engine,
                    m.table_name,
                    m.column,
                    int(m.num_vectors),
                    int(m.num_deleted),
                    int(size),
                    bool(m.quantized),
                )
            )
        schema = (
            "name string, engine string, table_name string, column string, "
            "num_vectors long, num_deleted long, size_bytes long, quantized boolean"
        )
        return self.spark.createDataFrame(rows, schema).orderBy("name")

    def faiss_gpu_info(self) -> DataFrame:
        """GPU availability probe (``src/faiss_fn_gpu.cpp:9-56``).  This
        engine's "accelerator" is the cluster itself — distance kernels run
        as numpy GEMMs across executors — so the GPU probe always reports
        unavailable, with the execution backend named in ``device``."""
        master = self.spark.conf.get("spark.master", "")
        return self.spark.createDataFrame(
            [(False, f"cpu[{master}]")], "available boolean, device string"
        )

    # --------------------------------------------------------------- search
    def index_scan(
        self,
        name: str,
        query: Sequence[float],
        k: int,
        search_complexity: int | None = None,
        **search_params,
    ) -> DataFrame:
        """diskann_index_scan / faiss_index_scan: raw (row_id, distance)
        (``src/diskann_functions.cpp:17-125``). Extra keyword args are
        per-query search parameters (e.g. ``nprobe``)."""
        idx = self.get_index(name)
        res = idx.search(
            list(query), k, search_complexity=search_complexity, **search_params
        )
        return res.select(F.col("row_id"), F.col("_distance").alias("distance"))

    def ann_search(
        self,
        table: str,
        index: str,
        query: Sequence[float],
        k: int,
        search_complexity: int | None = None,
        oversample: int | None = None,
        rerank: bool | None = None,
        local: bool | str = False,
        capture: dict | None = None,
        **search_params,
    ) -> DataFrame:
        """k-NN with its rows: all table columns + ``_distance``, ascending.

        Where the rows come from: when the table's columns are exactly
        the row key and the indexed ``array<float>`` column and the index
        is unquantized (a *covered* search, :meth:`_covered`), the probe
        returns each hit's raw vector and the result is built from the
        hits alone — no table scan, no join.  Otherwise the hits are
        joined to the table's rows (:meth:`_fetch`).

        ``capture``: an optional dict the distributed path fills with
        ``capture["candidates"]`` — the index's raw candidate frame
        (``row_id``, ``_distance``, and ``vector`` on a covered search),
        PERSISTED so that collecting it and
        collecting the returned result run the candidate search ONCE (the
        result plan reuses the cached frame).  Built for replay-style
        audit harnesses that must export the exact candidate set the
        serving call scored, without a second search whose bit-identity
        would be assumed rather than guaranteed.  Caller owns
        ``unpersist()``.  The local short-circuit has no candidate phase;
        it sets ``capture["candidates"] = None``.

        ``local='auto'`` serves locally when eligible and silently takes
        the distributed path otherwise (wide table / artifact above the
        cap, an index holding rows outside the table, or any per-query
        parameter passed — see below) — the serving-tier default: hot
        small indexes answer in ms, everything else distributes.

        The local path is EXACT and returns exactly ``k`` rows; it has no
        use for ``oversample`` / ``rerank`` / ``search_complexity`` / index
        search params (e.g. ``nprobe``).  Passing any of them with
        ``local=True`` raises (they would be silently ignored); with
        ``local='auto'`` they route the call to the distributed path,
        which honors them.  Note the documented divergence under
        ``'auto'``: an eligible call answers from the artifact's raw
        vectors (exact brute force, k rows), an ineligible one follows
        the distributed semantics below (``k * oversample`` rows when
        over-fetching without rerank, code distances on a lossy index
        without rerank).

        ``local=True`` is the single-query serving short-circuit: the
        reference answers one k-NN in microseconds in-process
        (``README.md:134-146``) while every distributed search pays
        ~0.5-0.9 s of Spark job overhead.  The local path probes a
        driver-cached numpy snapshot of the artifact's raw vectors
        (EXACT brute force — the same answer the rerank recipe returns)
        and wraps the k rows in a driver-made k-row relation: collecting
        it runs one in-process task over k rows — no table/artifact scan,
        no shuffle.  Requirements: every visible table column must be
        derivable from the artifact (row_id + the indexed vector column)
        or from the covering-payload sidecar (``attach_covering`` /
        ``create_index(covering=...)`` — reference parity with full-row
        in-process fetch, ``src/ann_search.cpp:31-195``), and the
        artifact+payload must fit ``LOCAL_SERVE_MAX_BYTES`` — otherwise
        this raises and the caller uses the distributed path.  Deletes
        and appended deltas are honored (tombstones filtered, delta tail
        unioned) with snapshot invalidation on any artifact change.

        Emits ``k * oversample`` results like the reference
        (``src/ann_search.cpp:118-130`` — the scan drains every fetched
        result, not just k) — cut by one limit-sort to that hit count, so
        rows drop only when a ``row_id`` repeats in the table.  Extra
        keyword args are per-query search parameters forwarded to the
        index (e.g. ``nprobe`` for IVF).

        ``rerank=True`` is the quantized-serving recipe as one call (FAISS
        ``Refine``-style): the index's ``k * oversample`` candidates are
        re-scored EXACTLY from the table's full-precision vectors
        (JVM-side ``metric_distance``, no extra probe) and the best ``k``
        returned — ``_distance`` is then the exact value, so a lossy
        index (SQ8/PQ/OPQ) serves brute-force-accurate top-k whenever the
        true neighbors are inside the over-fetched candidate set.

        Defaults resolve from the index: an ``",RFlat"`` factory index (or
        ``refine=True`` param) reranks by default, over-fetching
        ``refine_k_factor``x (default 10); otherwise ``oversample=1``,
        ``rerank=False``.  ``rerank=True`` with no explicit ``oversample``
        also over-fetches ``refine_k_factor``x (reranking exactly k
        candidates would be a no-op)."""
        t = self.table(table)
        idx = self.get_index(index)
        if local:
            per_query = self._local_incompatible_params(
                search_complexity, oversample, rerank, search_params,
                quantized=idx.meta.quantized,
            )
            if per_query and local != "auto":
                raise ValueError(
                    "ann_search(local=True) is the exact single-query "
                    "short-circuit (k rows, full-snapshot brute force) — "
                    f"{sorted(per_query)} would be silently ignored; drop "
                    "them or use local='auto'/False for the distributed "
                    "path that honors them"
                )
            if not per_query:
                try:
                    out = self._ann_search_local(t, idx, query, k)
                    if capture is not None:
                        capture["candidates"] = None
                    return out
                except (ValueError, OSError):
                    if local != "auto":
                        raise
                    # auto: ineligible (wide table / over cap) or a
                    # concurrent lifecycle op raced the snapshot scan
                    # -> distributed
        hits, rerank, n = self._probe(
            t, idx, query, k, oversample, rerank,
            search_complexity=search_complexity, **search_params,
        )
        if capture is not None:
            # persist so the audit export and the served result both read
            # ONE candidate-search execution (cache hit by plan equality)
            hits = hits.persist()
            capture["candidates"] = hits
        return self._fetch(
            t.df, t.row_id, hits, n, [],
            [self._distance(idx, rerank, [float(x) for x in query])], ["_distance"],
        )

    @staticmethod
    def _fetch(base, key, hits, n, lead, scores, order, per_query_k=None):
        """The one join from index hits to table rows, and its cut.

        ``hits`` carries ``row_id`` (matched to ``base``'s ``key`` column)
        and the hit-side ``lead`` columns.  The result is ``lead`` ++
        ``base``'s columns ++ ``scores`` (columns over the joined row: the
        index ``_distance``, an exact re-score, an ordering expression,
        fusion scores), sorted by ``order`` then ``key``.  ``per_query_k``
        first keeps the best that many rows by ``_distance`` per
        ``lead[0]`` value.

        One rule, from the input: with a known hit bound ``n`` the hits are
        broadcast and one limit-sort (``TakeOrderedAndProject``, no
        range-partitioned global sort) cuts to ``n`` rows, so a row drops
        only when ``key`` repeats in ``base``; with ``n=None`` the join is
        sized by the planner and the output is globally sorted.

        Hits that carry a ``vector`` column come from a covered probe
        (:meth:`_covered`): they are the rows.  The key is cast back to
        ``base``'s type and the vector takes the name of ``base``'s other
        column; no join runs and ``base`` is read for its schema only."""
        right = hits.withColumnRenamed("row_id", key)
        if "vector" in hits.columns:
            (column,) = (c for c in base.columns if c != key)
            rows = right.withColumnRenamed("vector", column).withColumn(
                key, F.col(key).cast(base.schema[key].dataType)
            )
        else:
            rows = base.join(
                right if n is None else F.broadcast(right), on=key, how="inner"
            )
        rows = rows.select(*lead, *base.columns, *scores)
        if per_query_k is not None:
            rows = topk_per_query(rows, per_query_k, idx_col=lead[0], row_col=key)
        rows = rows.orderBy(*order, F.col(key).asc())
        return rows if n is None else rows.limit(n)

    @staticmethod
    def _distance(idx, rerank: bool, query, column: str | None = None):
        """The fetched rows' ``_distance``: the index's own or, with
        ``rerank``, an EXACT JVM-side re-score of the full-precision
        ``column`` (default: the indexed one) against ``query`` (a vector,
        or a column holding each row's query vector)."""
        if not rerank:
            return F.col("_distance")
        return metric_distance(
            F.col(column or idx.meta.column), query, idx.meta.metric
        ).alias("_distance")

    def _probe(self, t, idx, query, k, oversample=None, rerank=None, **params):
        """One query's index probe over table ``t``'s unfiltered view, with
        the rerank defaults resolved: ``(hits, rerank, n)``, ``n`` the
        fetch's hit bound — ``k`` when the candidates are re-scored, else
        every one of the ``k * oversample`` hits.  A covered search's hits
        carry their vectors."""
        oversample, rerank = self._resolve_rerank(idx, oversample, rerank)
        hits = idx.search(
            list(query), k * oversample, with_vectors=self._covered(t, idx),
            **self._search_kw(idx, rerank, params),
        )
        return hits, rerank, k if rerank else k * oversample

    @staticmethod
    def _payload_columns(t, idx) -> set[str]:
        """The view's columns an index probe does not return: all but the
        row key and the indexed vector."""
        return set(t.df.columns) - {t.row_id, idx.meta.column}

    def _covered(self, t, idx) -> bool:
        """Whether a search of ``idx`` over ``t``'s unfiltered view is
        answered from the probe's own rows — local serving's rule with no
        covering sidecar: the index holds only the view's rows
        (:meth:`_foreign_rows`; tombstones hide by id, so at most fewer),
        the view holds no payload column, the index is unquantized (its
        probe reads the raw vectors, not codes), the key is integral (it
        round-trips through the artifact's ``long``) and the indexed
        column is ``array<float>`` (the artifact keeps its values bit for
        bit)."""
        meta = idx.meta
        types = {f.name: f.dataType for f in t.df.schema.fields}
        vec = types.get(meta.column)
        return (
            self._foreign_rows(t, idx) is None
            and not meta.quantized
            and not AnnEngine._payload_columns(t, idx)
            and isinstance(types[t.row_id], T.IntegralType)
            and isinstance(vec, T.ArrayType)
            and isinstance(vec.elementType, T.FloatType)
        )

    def _foreign_rows(self, t, idx) -> str | None:
        """Why ``idx`` may hold rows outside ``t``'s view (None: it holds
        only the view's rows) — the one provenance rule of the paths that
        answer from the index alone, covered and local serving.  The index
        took no other table's rows (``merged_tables``), is not older than
        a re-registration of its own table (``replaced_at``), and that
        table is ``t`` or a view of the same rows.  An index built in an
        earlier engine on a table since registered over other data is not
        detected."""
        meta = idx.meta
        s = self._tables.get(meta.table_name)
        if meta.extra.get("merged_tables"):
            return f"it holds rows merged from {meta.extra['merged_tables']}"
        if s is None or meta.created_at <= s.replaced_at:
            return f"table {meta.table_name!r} is unregistered or registered anew"
        if s is not t and not self._same_rows(s, t):
            return f"it was built on table {s.name!r}"
        return None

    def _same_rows(self, s, t) -> bool:
        """Whether views ``s`` and ``t`` hold the same rows under the same
        key: equal analyzed plans below any column-only projection (``t`` a
        ``select`` of ``s``, or two reads of the same files), compared once
        per pair of frames."""
        seen = self._same_rows_seen.get((s.name, t.name))
        if seen is None or seen[0] is not s.df or seen[1] is not t.df:
            plans = []
            for df in (s.df, t.df):
                p = df._jdf.queryExecution().analyzed()
                while p.nodeName() in ("Project", "SubqueryAlias") and (
                    p.outputSet().subsetOf(p.child().outputSet())
                ):
                    p = p.child()
                plans.append(p)
            same = s.row_id == t.row_id and plans[0].sameResult(plans[1])
            seen = self._same_rows_seen[(s.name, t.name)] = (s.df, t.df, same)
        return seen[2]

    @staticmethod
    def _search_kw(idx, rescored: bool, params: dict) -> dict:
        """Index search params for a probe whose candidates are re-scored
        exactly.  On a sharded graph that re-score must see the full
        per-shard candidate union (nq * shards * fetch_k rows, bounded):
        the global top-fetch_k cut by CODE distance would drop
        deep-code-ranked true neighbors before the re-score (measured at
        20M x 64: recall 0.78 -> see graph.py)."""
        if rescored and idx.meta.extra.get("shards"):
            return {**params, "merge_k": 0}
        return params

    # ---- driver-local single-query serving (see ann_search(local=True)) ----
    @staticmethod
    def _dir_sig(path: str):
        """Freshness signature of a directory TREE's files: (relpath, size,
        mtime_ns) tuples — any write/compact/delete changes it.  RECURSIVE:
        IVF artifacts live in cluster_id=N hive subdirectories and sharded
        graphs in shard dirs; a top-level-only scan would miss a vacuum
        rewriting those.  None if the directory is absent."""
        if not os.path.isdir(path):
            return None
        out = []
        for root, _dirs, files in os.walk(path):
            rel = os.path.relpath(root, path)
            for f in files:
                try:
                    st = os.stat(os.path.join(root, f))
                except FileNotFoundError:
                    # a concurrent write/vacuum removed a temp file between
                    # walk and stat — skip it; the surviving files' mtimes
                    # still change the signature
                    continue
                out.append((os.path.join(rel, f), st.st_size, st.st_mtime_ns))
        return tuple(sorted(out))

    def _local_snapshot(self, idx):
        """Driver-cached (row_ids int64, vectors (n, dim) f32, covering
        lookup or None) of the index's LIVE rows: artifact + delta tail -
        tombstones, plus the covering-payload sidecar when attached.
        Invalidated whenever any of the four directories (or meta.json)
        changes, so lifecycle ops (insert/delete/vacuum/merge) are honored
        without hooks."""
        import pyarrow.parquet as pa_pq

        name, dim = idx.meta.name, idx.meta.dim
        try:
            mst = os.stat(self.catalog.meta_path(name))
            meta_sig = (mst.st_size, mst.st_mtime_ns)
        except OSError:
            meta_sig = None
        cov_sig = self._dir_sig(self.catalog.covering_path(name))
        sig = (
            self._dir_sig(self.catalog.data_path(name)),
            self._dir_sig(self.catalog.delta_path(name)),
            self._dir_sig(self.catalog.tombstone_path(name)),
            meta_sig,
            cov_sig,
        )
        cached = self._local_snapshots.get(name)
        if cached is not None and cached[0] == sig:
            return cached[1], cached[2], cached[3]
        n_est = int(idx.meta.num_vectors) + int(
            idx.meta.extra.get("delta_rows", 0) or 0
        )
        # covering payload counts against the cap at its on-disk size
        # (compressed — a lower bound on RAM, fine for a guardrail)
        cov_bytes = sum(s for _, s, _ in (cov_sig or ()))
        est = n_est * dim * 4 + cov_bytes
        if est > LOCAL_SERVE_MAX_BYTES:
            raise ValueError(
                f"index {name!r} is ~{est >> 20} MiB of vectors+payload — "
                f"above the {LOCAL_SERVE_MAX_BYTES >> 20} MiB local-serving "
                "cap; use the distributed path (local=False)"
            )

        def load(path: str) -> tuple[np.ndarray, np.ndarray]:
            # per-CHUNK flatten, never combine_chunks/sort_by on list
            # columns (pyarrow 16.1.0 corrupts large list<float> children
            # under sort/take — index/graph._argsorted_labels), and never
            # to_pylist (Python float objects)
            from duckdb_annsearch_spark.index.scan import _fixed_matrix

            tb = pa_pq.read_table(path, columns=["row_id", "vector"])
            ids = tb.column("row_id").to_numpy(zero_copy_only=False)
            x = _fixed_matrix(tb.column("vector"), dim)
            return np.asarray(ids, dtype=np.int64), x

        ids, x = load(self.catalog.data_path(name))
        if sig[1]:  # delta tail: unindexed appends, full precision
            d_ids, d_x = load(self.catalog.delta_path(name))
            ids = np.concatenate([ids, d_ids])
            x = np.concatenate([x, d_x])
        if sig[2]:  # tombstones
            keep = ~np.isin(ids, self.catalog.tombstone_ids(name))
            ids, x = ids[keep], np.ascontiguousarray(x[keep])
        cov = None
        if cov_sig and idx.meta.extra.get("covering"):
            import pyarrow as pa

            # UNSORTED read + numpy argsort permutation, per the pyarrow-16
            # list-column hazard (never sort_by/take an arrow table here);
            # nullable pandas dtypes so int columns with NULLs don't decay
            # to float and break the Spark schema on the way back out
            tbc = pa_pq.read_table(self.catalog.covering_path(name))
            pdf = tbc.to_pandas(
                types_mapper={
                    pa.int64(): pd.Int64Dtype(),
                    pa.int32(): pd.Int32Dtype(),
                    pa.bool_(): pd.BooleanDtype(),
                    pa.string(): pd.StringDtype(),
                    pa.large_string(): pd.StringDtype(),
                    # nullable float dtypes too: plain float64 decay turns
                    # NULL payloads into NaN, diverging from the
                    # distributed path's NULL for the same row
                    pa.float32(): pd.Float32Dtype(),
                    pa.float64(): pd.Float64Dtype(),
                }.get
            )
            cov_ids = pdf["row_id"].to_numpy(dtype=np.int64)
            order = np.argsort(cov_ids, kind="stable")
            cov = (cov_ids[order], pdf.iloc[order].reset_index(drop=True))
        self._local_snapshots[name] = (sig, ids, x, cov)
        return ids, x, cov

    @staticmethod
    def _py_value(v):
        """Covering payload cell -> plain Python for createDataFrame."""
        import pandas as pd

        if v is None or v is pd.NA:
            return None
        if isinstance(v, np.generic):
            return v.item()
        if isinstance(v, np.ndarray):
            return v.tolist()
        return v

    def _local_topk_rows(self, t, idx, query: Sequence[float], k: int) -> list[tuple]:
        """The pure driver-side probe: exact top-k rows (table columns +
        _distance) as plain tuples — the µs/ms-class hot path that
        ``ann_search(local=True)`` wraps (bench times this directly).
        Payload columns resolve from the covering sidecar when attached
        (full-row in-process fetch, ``src/ann_search.cpp:31-195``)."""
        return [
            r[1:] for r in self._local_topk_rows_batch(t, idx, [query], k)
        ]

    def _local_topk_rows_batch(
        self, t, idx, queries: Sequence[Sequence[float]], k: int
    ) -> list[tuple]:
        """Batched driver-side probe: ONE GEMM scores every query against
        the snapshot (``kernels.pairwise_distances`` on the stacked query
        matrix), then per-query top-k + shared row assembly; returns
        ``(query_idx, *table_columns, _distance)`` tuples.  This is the
        CONCURRENT-serving shape: the threaded single-query path is
        GIL-bound Python glue and aggregate QPS *drops* with callers
        (measured, ROADMAP round 8) — batching amortizes the glue over
        the whole query block instead."""
        from duckdb_annsearch_spark.index import kernels

        foreign = self._foreign_rows(t, idx)
        if foreign is not None:
            raise ValueError(
                f"index {idx.meta.name!r} may hold rows outside table "
                f"{t.name!r} ({foreign}) — use local=False or 'auto'"
            )
        cov_cols = set(idx.meta.extra.get("covering") or ())
        extra = self._payload_columns(t, idx)
        uncovered = extra - cov_cols
        if uncovered:
            raise ValueError(
                "local serving answers from the index artifact + covering "
                f"sidecar (columns {sorted({t.row_id, idx.meta.column} | cov_cols)}); "
                f"table {t.name!r} also carries {sorted(uncovered)} — "
                f"attach_covering({idx.meta.name!r}, {sorted(extra)}) to "
                "serve them locally, or use the distributed row-fetch join "
                "(local=False)"
            )
        ids, x, cov = self._local_snapshot(idx)
        qm = np.asarray([list(q) for q in queries], dtype=np.float32)
        if qm.ndim != 2 or qm.shape[1] != idx.meta.dim:
            raise ValueError(
                f"query dim {qm.shape[-1]} != index dim {idx.meta.dim}"
            )
        dm = kernels.pairwise_distances(qm, x, idx.meta.metric)
        need_cov = bool(extra & cov_cols)
        if need_cov and cov is None:
            raise ValueError(
                f"index {idx.meta.name!r} declares covering columns but the "
                "sidecar is missing — re-run attach_covering, or use the "
                "distributed path (local=False)"
            )
        # Columnar assembly (round 9): one searchsorted over ALL hits and
        # one Series.take per covered column — the per-hit scalar
        # .at-lookup loop was ~10k pandas label probes per k=10 x batch=256
        # call, the next GIL bottleneck after the one-GEMM probe.
        nq = qm.shape[0]
        topks = [
            np.asarray(kernels.local_topk(dm[qi], k, ids=ids), dtype=np.int64)
            for qi in range(nq)
        ]
        counts = [len(tj) for tj in topks]
        all_j = (
            np.concatenate(topks) if topks else np.zeros(0, dtype=np.int64)
        )
        all_qi = np.repeat(np.arange(nq), counts)
        rid_arr = ids[all_j]
        pos = None
        if need_cov and rid_arr.size:
            pos = np.searchsorted(cov[0], rid_arr)
            safe = np.minimum(pos, len(cov[0]) - 1)
            bad = (pos >= len(cov[0])) | (cov[0][safe] != rid_arr)
            if bad.any():
                raise ValueError(
                    f"covering sidecar of {idx.meta.name!r} has no payload "
                    f"for row_id {int(rid_arr[np.argmax(bad)])} — re-run "
                    "attach_covering, or use the distributed path "
                    "(local=False)"
                )
        columns: list[list] = [all_qi.tolist()]
        for c in t.df.columns:
            if c == t.row_id:
                columns.append(rid_arr.tolist())
            elif c == idx.meta.column:
                columns.append(x[all_j].astype(np.float64).tolist())
            else:  # validated to be a covered payload column
                taken = cov[1][c].take(pos if pos is not None else [])
                columns.append([self._py_value(v) for v in taken.tolist()])
        columns.append(dm[all_qi, all_j].astype(np.float64).tolist())
        return list(zip(*columns))

    def _ann_search_local(self, t, idx, query: Sequence[float], k: int) -> DataFrame:
        rows = self._local_topk_rows(t, idx, query, k)
        schema = T.StructType(
            [t.df.schema[c] for c in t.df.columns]
            + [T.StructField("_distance", T.FloatType())]
        )
        # k-row driver-made relation: no table/artifact scan, no shuffle;
        # the probe itself already ran in-process (_local_topk_rows)
        return self.spark.createDataFrame(rows, schema)

    @staticmethod
    def _validate_covering(t, column: str, covering) -> list[str]:
        """Resolve + validate covering payload columns against the table:
        True = every column except the row key and the indexed vector;
        explicit lists must name real, non-reserved columns."""
        if covering is True:
            cols = [c for c in t.df.columns if c not in (t.row_id, column)]
        else:
            cols = [str(c) for c in covering]
        if not cols:
            raise ValueError(
                f"table {t.name!r} has no payload columns beyond "
                f"({t.row_id}, {column}) — local serving already answers "
                "from the artifact; nothing to cover"
            )
        bad = [c for c in cols if c not in t.df.columns]
        if bad:
            raise ValueError(f"covering columns not on table: {bad}")
        if t.row_id in cols or column in cols:
            raise ValueError(
                f"covering columns must exclude the row key ({t.row_id}) and "
                f"the indexed vector ({column}) — both always derive "
                "from the artifact"
            )
        return cols

    @staticmethod
    def _local_incompatible_params(
        search_complexity, oversample, rerank, search_params, quantized=False
    ) -> dict:
        """Per-query parameters the exact local short-circuit has no use
        for — passing any with local=True raises; local='auto' routes to
        the distributed path that honors them."""
        per_query = dict(search_params)
        if search_complexity is not None:
            per_query["search_complexity"] = search_complexity
        # explicit no-ops are NOT incompatible: rerank=False and
        # oversample=1 are exactly the local path's semantics (exact
        # answer, no re-score, k rows) — only values that would change
        # the result route away / raise.  EXCEPT on a lossy artifact:
        # there an explicit rerank=False requests the distributed path's
        # code-distance semantics, which the exact local probe would
        # silently replace with true distances — route away / raise.
        if oversample is not None and int(oversample) != 1:
            per_query["oversample"] = oversample
        if rerank or (rerank is False and quantized):
            per_query["rerank"] = rerank
        return per_query

    def _resolve_rerank(self, idx, oversample, rerank):
        """Shared default resolution for the rerank serving recipe: an
        ``,RFlat`` / ``refine=True`` index reranks by default at
        ``refine_k_factor``x over-fetch (see :meth:`ann_search`)."""
        if rerank is None:
            rerank = bool(idx.meta.params.get("refine"))
        if oversample is None:
            oversample = (
                int(idx.meta.params.get("refine_k_factor", 10)) if rerank else 1
            )
        return max(1, int(oversample)), bool(rerank)

    def ann_search_batch(
        self,
        table: str,
        index: str,
        queries: list[Sequence[float]],
        k: int,
        search_complexity: int | None = None,
        oversample: int | None = None,
        rerank: bool | None = None,
        local: bool = False,
        **search_params,
    ) -> DataFrame:
        """Multi-query batch: ``query_idx INT`` + table columns + ``_distance``
        (``src/ann_search.cpp:202-388``).

        The rows come from where :meth:`ann_search`'s do: on a covered
        search (:meth:`_covered`) from the hits themselves, else from the
        index hits (at most ``k * oversample`` per query) broadcast into a
        join with the table.  Either way ONE limit-sort
        (``TakeOrderedAndProject``) on ``(query_idx, _distance, row_id)``
        cuts the result to the hit count, ``nq * k * oversample`` — no
        range-partitioned global sort.  The cut drops rows only when a
        ``row_id`` repeats in the table, and then from the highest
        ``query_idx``.

        ``rerank``/``oversample`` follow :meth:`ann_search`: candidates are
        re-scored exactly per query (broadcast join of the tiny query list)
        and the best ``k`` per query kept, so the cut is ``nq * k``.

        ``local=True`` follows :meth:`ann_search`: every query probes the
        driver-cached snapshot (one GEMM for the whole batch) and the
        result is a k-row driver-made relation — same constraints (artifact
        columns only, size cap), exact answers."""
        t = self.table(table)
        idx = self.get_index(index)
        if local:
            per_query = self._local_incompatible_params(
                search_complexity, oversample, rerank, search_params,
                quantized=idx.meta.quantized,
            )
            if per_query:
                raise ValueError(
                    "ann_search_batch(local=True) is the exact in-process "
                    f"batch probe (k rows per query) — {sorted(per_query)} "
                    "would be silently ignored; drop them or use "
                    "local=False for the distributed path that honors them"
                )
            rows = self._local_topk_rows_batch(t, idx, queries, k)
            schema = T.StructType(
                [T.StructField("query_idx", T.IntegerType())]
                + [t.df.schema[c] for c in t.df.columns]
                + [T.StructField("_distance", T.FloatType())]
            )
            return self.spark.createDataFrame(rows, schema)
        oversample, rerank = self._resolve_rerank(idx, oversample, rerank)
        hits = idx.search_batch(
            [list(q) for q in queries], k * oversample,
            search_complexity=search_complexity,
            with_vectors=self._covered(t, idx),
            **self._search_kw(idx, rerank, search_params),
        )
        if rerank:
            qdf = self.spark.createDataFrame(
                [
                    (int(i), [float(x) for x in q])
                    for i, q in enumerate(queries)
                ],
                "query_idx int, __qvec array<float>",
            )
            hits = hits.join(F.broadcast(qdf), "query_idx")
        return self._fetch(
            t.df, t.row_id, hits, len(queries) * k * (1 if rerank else oversample),
            ["query_idx"], [self._distance(idx, rerank, F.col("__qvec"))],
            ["query_idx", "_distance"], per_query_k=k if rerank else None,
        )

    def ann_search_table(
        self,
        queries_df: DataFrame,
        table: str,
        index: str,
        k: int,
        search_complexity: int | None = None,
        query_col: str | None = None,
        oversample: int | None = None,
        rerank: bool | None = None,
    ) -> DataFrame:
        """Table-in/table-out search (``src/ann_search.cpp:390-691``):
        output = input columns ++ base columns (name collisions prefixed
        ``<table>_``) ++ ``_distance``, ordered by input row then
        ``_distance``.

        The SURVEY §3.2 translation: tag the input rows, run the
        query-distributed batch probe (``search_batch_df``), join the hits
        to their tagged input rows, and fetch the base rows through
        :meth:`_fetch`.  The query table's size is not known, so the hits
        carry no bound: the planner sizes the base join and the output is
        globally sorted.  Scales with both the query count and the base
        table — no driver materialization.

        ``rerank``/``oversample`` follow :meth:`ann_search`: each hit
        travels with its query vector, so the exact re-score is one JVM
        expression plus the per-query top-k of the fetch — no extra
        probe."""
        t = self.table(table)
        idx = self.get_index(index)
        oversample, rerank = self._resolve_rerank(idx, oversample, rerank)
        qcol = query_col or detect_vector_column(queries_df)

        # the query set never reaches the driver: tag rows, run the
        # query-distributed probe (wrong-dim / null queries yield no hits —
        # faiss_basic.test:262-269 — enforced inside the probe). Input
        # columns travel under internal names, so an input row_id or
        # _distance column cannot make the fetch ambiguous.
        # monotonically_increasing_id depends on partition layout, and the
        # tagged plan feeds TWO consumers (the probe and the join-back): a
        # nondeterministic source recomputed per branch could pair hits with
        # the wrong query rows. The lazy localCheckpoint pins one
        # materialization shared by both branches.
        qnames = [f"__q{i}" for i in range(len(queries_df.columns))]
        qvec = F.col(qnames[queries_df.columns.index(qcol)]).cast("array<float>")
        tagged = (
            queries_df.toDF(*qnames)
            .withColumn("__query_idx", F.monotonically_increasing_id())
            .localCheckpoint(eager=False)
        )
        # volume note for sharded graphs: the exact re-score's uncut
        # per-shard union (_search_kw) multiplies the fetch input by the
        # shard count; rerank=False keeps k*oversample rows per query
        hits = idx.search_batch_df(
            tagged.select("__query_idx", qvec.alias("query")),
            k * oversample,
            idx_col="__query_idx",
            search_complexity=search_complexity,
            **self._search_kw(idx, rerank, {}),
        )
        names, used = [], set(queries_df.columns) | {"__query_idx", "_distance"}
        for c in t.df.columns:
            names.append(f"{table}_{c}" if c in used else c)
            used.add(names[-1])
        rename = dict(zip(t.df.columns, names))
        return self._fetch(
            t.df.toDF(*names), rename[t.row_id], tagged.join(hits, "__query_idx"),
            None, ["__query_idx", *qnames],
            [self._distance(idx, rerank, qvec, rename[idx.meta.column])],
            ["__query_idx", "_distance"], per_query_k=k if rerank else None,
        ).drop("__query_idx").toDF(*queries_df.columns, *names, "_distance")

    def vector_distances(
        self, df: DataFrame, query: Sequence[float], metric: str = "l2", vector_col: str | None = None
    ) -> DataFrame:
        return vector_distances(df, query, metric, vector_col)

    # ---------------------------------------------------- optimizer-path topk
    def topk(
        self,
        table: str,
        query: Sequence[float],
        k: int,
        metric: str = "l2",
        column: str | None = None,
        explain: dict | None = None,
    ) -> DataFrame:
        """``SELECT * ... ORDER BY distance(col, q) LIMIT k`` with the
        reference's optimizer decision (``src/ann_optimizer.cpp:348-530``):
        use a metric-compatible index when the cost gates pass, else exact
        brute force (Catalyst plans TakeOrderedAndProject).

        ``explain``: pass a dict to capture the decision (the EXPLAIN
        annotation parity — ``ann_optimizer.cpp:510-524``)."""
        t = self.table(table)
        metric = _normalize_metric(metric)
        column = column or detect_vector_column(t.df)
        decision = {"rewritten": False, "reason": None, "index": None}

        m = self._choose_index(table, column, metric, k, decision)
        if m is not None:
            if explain is not None:
                explain.update(decision)
            # the user's original query was EXACT brute force — routing it
            # through lossy codes must not silently change the distances, so
            # a quantized index serves the rewrite via the rerank recipe (the
            # ",RFlat" serving shape; only the candidate set stays
            # approximate, matching the reference's own approximate-index
            # rewrite semantics)
            return self.ann_search(table, m.name, query, k, rerank=m.quantized)
        if explain is not None:
            explain.update(decision)
        return topk_brute_force(t.df, column, query, k, metric, tie_break=t.row_id)

    def _choose_index(self, table, column, metric, k, decision) -> IndexMeta | None:
        """The reference's index-resolution + cost gates
        (``ann_optimizer.cpp:260-345,459-472``): a metric-compatible index on
        the column, table ≥ 50 rows, k within 10% (Flat/IVF) or 30% (graph)
        of N. Mutates ``decision`` with the outcome; None means brute force."""
        # cosine never rewrites: no index type builds a cosine index
        # (src/ann_optimizer.cpp:237-258)
        candidates = [] if metric == "cosine" else self._ranked_indexes(table, column, metric)
        if not candidates:
            decision["reason"] = "no metric-compatible index"
            return None
        m = candidates[0]
        n = max(m.num_vectors - m.num_deleted, 0)
        frac = MAX_K_FRACTION_GRAPH if m.index_type in ("diskann", "hnsw") else MAX_K_FRACTION_FLAT
        if n < MIN_TABLE_SIZE_FOR_INDEX:
            decision["reason"] = f"table too small (N={n} < {MIN_TABLE_SIZE_FOR_INDEX})"
            return None
        if k > frac * n:
            decision["reason"] = f"k={k} > {frac:.0%} of N={n}"
            return None
        decision.update(
            rewritten=True,
            index=m.name,
            reason=f"ANN_INDEX_SCAN (index: {m.name}, k: {k}, engine: {m.engine}, type: {m.index_type})",
        )
        return m

    def _ranked_indexes(self, table, column, metric) -> list[IndexMeta]:
        """The table's indexes on ``column`` under ``metric``, best first:
        exact structures first (Flat, then IVF — exhaustive at full probe),
        graph last; within a type, full-precision beats quantized (a
        quantized pick forces a rerank over-fetch); name tie-break.
        Catalog listing order depends on build completion order under
        concurrent DDL, so an explicit ranking keeps the choice stable."""
        rank = {"flat": 0, "ivfflat": 1, "hnsw": 2, "diskann": 3}
        return sorted(
            (
                m
                for m in self.catalog.for_table(table)
                if m.column == column and m.metric == metric
            ),
            key=lambda c: (
                rank.get(str(c.index_type).lower(), 9),
                bool(c.quantized),
                c.name,
            ),
        )

    def sql(self, sql_text: str, explain: dict | None = None) -> DataFrame:
        """Run SQL with the transparent top-k-by-distance rewrite.

        The Spark-native twin of the reference's pre-optimizer hook
        (``src/ann_optimizer.cpp:568-576``): the *parsed* (unresolved)
        logical plan is pattern-matched for
        ``LIMIT k → ORDER BY dist_fn(col, const) ASC → PROJECT → relation``;
        on a match with a metric-compatible index passing the cost gates,
        the plan is answered by an index probe + O(k) row fetch and the sort
        runs over k rows only. Everything else — including any Filter
        between projection and scan (``ann_optimizer.cpp:478-481``) — runs
        unmodified through ``spark.sql`` (the six distance functions are
        registered as Spark SQL UDFs on first use).

        ``explain``: pass a dict to capture the decision, mirroring the
        reference's EXPLAIN annotation (``ann_optimizer.cpp:510-524``).

        Note the reference's IP convention: internally IP distance is the
        *negated* dot product (``rust_lib/src/distance.rs:20-24``), so
        ``ORDER BY array_inner_product(...) ASC LIMIT k`` is the idiom for
        "k most similar" and the rewrite returns those, most-similar first.
        """
        from duckdb_annsearch_spark.functions import distance as dfns
        from duckdb_annsearch_spark.functions.sql import register_sql_functions
        from duckdb_annsearch_spark.plans import match_topk_sql

        decision = {"rewritten": False, "reason": None, "index": None}
        m = match_topk_sql(self.spark, sql_text)
        if m is None:
            decision["reason"] = "no rewritable top-k-by-distance pattern"
        else:
            if m.table in self._tables:
                t = self._tables[m.table]
                base, tie = t.df, t.row_id
            else:
                try:
                    base, tie = self.spark.table(m.table), None
                except Exception:
                    base = None
            if base is None:
                decision["reason"] = f"unknown table {m.table!r}"
            else:
                dist = getattr(dfns, m.fn_name)(
                    F.col(m.column), dfns.vector_lit(m.query_vector)
                )
                alias = m.alias or "__ann_order"
                meta = None
                if m.filter_sql is not None:
                    # reference refuses the rewrite when a filter sits between
                    # sort and scan (ann_optimizer.cpp:478-481)
                    decision["reason"] = f"filter between sort and scan: {m.filter_sql}"
                elif m.table in self._tables:
                    meta = self._choose_index(m.table, m.column, m.metric, m.k, decision)
                else:
                    decision["reason"] = f"table {m.table!r} not registered with the engine"
                cols = base.columns  # original projection order, pre-join
                if meta is not None:
                    # index path: probe for k row ids, fetch rows, sort k
                    # rows by the query's own expression. A quantized index
                    # ranks by lossy code distance, so its probe over-fetches
                    # like the rerank recipe (only the candidate set stays
                    # approximate). Reference IP convention: index order =
                    # descending raw dot product (negated-IP distance
                    # ascending)
                    hits = self._probe(
                        t, self.get_index(meta.name), m.query_vector, m.k,
                        rerank=meta.quantized,
                    )[0].drop("_distance")
                    out = self._fetch(
                        base, tie, hits, m.k, [],
                        [dist.alias(alias)],
                        [F.col(alias).desc_nulls_last() if m.metric == "ip"
                         else F.col(alias).asc_nulls_last()],
                    )
                else:
                    # matched but unrewritten: brute force via the Column API
                    # (plain SQL semantics — ascending raw function value; it
                    # could not run through spark.sql at all, Spark 4 rejects
                    # SQL UDFs inside Sort). NULLS LAST like the index path:
                    # NULL-vector rows never rank in the top-k, so the result
                    # does not flip when an index appears (an index never
                    # returns NULL-vector rows).
                    if m.filter_sql is not None:
                        base = base.where(F.expr(m.filter_sql))
                    ties = [F.col(tie).asc()] if tie else []
                    out = (
                        base.withColumn(alias, dist)
                        .orderBy(F.col(alias).asc_nulls_last(), *ties)
                        .limit(m.k)
                    )
                if m.alias is None:
                    out = out.select(*cols)
                if explain is not None:
                    explain.update(decision)
                return out
        if explain is not None:
            explain.update(decision)
        if not getattr(self, "_sql_fns_registered", False):
            register_sql_functions(self.spark)
            self._sql_fns_registered = True
        return self.spark.sql(sql_text)

    def accelerate(self, df: DataFrame, explain: dict | None = None) -> DataFrame:
        """Transparent top-k rewrite for the *DataFrame* API — the drop-in
        twin of :meth:`sql` for users who build plans with Columns instead
        of SQL strings (the reference rewrites every query through its
        pre-optimizer hook, ``src/ann_optimizer.cpp:568-576``; Spark has no
        Python-side optimizer injection, so this is an explicit wrap)::

            eng.accelerate(df.orderBy(array_distance("emb", q)).limit(10))

        Matches the ANALYZED plan (plans/rewrite_df.py): limit-k over a
        single-key sort whose key is one of the engine's distance builders
        applied to (indexed column, constant vector), over a registered
        table, with only identity projections / one trailing withColumn
        alias in between. On a match that passes the cost gates, the sort
        is answered by an index probe and a limit-sort of its k rows —
        taken from the probe itself on a covered table (:meth:`_covered`),
        else by a broadcast row fetch from the table; otherwise
        (including any Filter between sort and scan —
        ``ann_optimizer.cpp:478-481``) the original ``df`` is returned
        unchanged, so ``accelerate`` is always semantics-preserving*.

        *One documented deviation, shared with the SQL path: NULL-vector
        rows never appear in accelerated results (an index cannot return
        them), while a plain ascending sort would rank NULL distances
        first (Spark default NULLS FIRST).

        ``explain``: dict to capture the decision (EXPLAIN annotation
        parity — ``ann_optimizer.cpp:510-524``)."""
        from duckdb_annsearch_spark.plans.rewrite_df import (
            _build_probe,
            match_topk_df,
        )

        decision = {"rewritten": False, "reason": None, "index": None}
        m = match_topk_df(self, df)
        meta = None
        if m is None:
            decision["reason"] = "no rewritable top-k-by-distance pattern"
        elif m.filter_sql is not None:
            decision["reason"] = m.filter_sql
        else:
            meta = self._choose_index(m.table, m.column, m.metric, m.k, decision)
        if meta is None:
            if explain is not None:
                explain.update(decision)
            return df

        t = self._tables[m.table]
        dist = _build_probe(m.fn_name, F.col(m.column), m.query_vector)
        alias = m.alias or "__ann_order"
        # the probe and fetch of engine.sql's index path; faithful
        # direction: the matcher only admits orderings an index serves
        # literally (sqrt/squared L2 asc, raw IP desc, neg-IP asc)
        hits = self._probe(
            t, self.get_index(meta.name), m.query_vector, m.k, rerank=meta.quantized
        )[0].drop("_distance")
        out = self._fetch(
            t.df, t.row_id, hits, m.k, [],
            [dist.alias(alias)],
            [F.col(alias).desc_nulls_last() if m.fn_name == "array_inner_product"
             else F.col(alias).asc_nulls_last()],
        )
        if m.alias is None:
            out = out.select(*t.df.columns)
        if explain is not None:
            explain.update(decision)
        return out

    def enable_auto_acceleration(self) -> None:
        """Make the transparent top-k rewrite IMPLICIT for this session —
        the reference's hook rewrites every query unasked
        (``src/ann_optimizer.cpp:568-576``); after this call so does the
        engine: ``df.orderBy(array_distance(col, q)).limit(k)`` followed by
        any action hits the index with zero engine calls in user code, and
        ``spark.sql(...)`` routes through :meth:`sql`.  Non-matching plans
        run unchanged and every hook fails open (see ``plans/auto.py``).
        Scope: DataFrame actions process-wide, ``spark.sql`` this session;
        undo with :meth:`disable_auto_acceleration`."""
        from duckdb_annsearch_spark.plans import auto

        auto.enable(self)

    def disable_auto_acceleration(self) -> None:
        """Restore the original DataFrame actions and ``spark.sql``."""
        from duckdb_annsearch_spark.plans import auto

        auto.disable()

    def explain_sql(self, sql_text: str) -> str:
        """EXPLAIN with the rewrite decision — parity with the reference's
        EXPLAIN annotation tests (``faiss_optimizer.test:171-175`` asserts
        ``ANN_INDEX_SCAN(...)`` appears when the rewrite fires and
        ``ORDER_BY`` remains when it doesn't). Returns the decision line
        followed by Spark's formatted physical plan of the query as it
        would actually execute."""
        decision: dict = {}
        df = self.sql(sql_text, explain=decision)
        header = (
            decision["reason"]
            if decision.get("rewritten")
            else f"NO_REWRITE ({decision.get('reason')})"
        )
        jvm = self.spark._jvm
        plan = jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        return f"{header}\n{plan}"

    def topk_filtered(
        self,
        table: str,
        predicate,
        query: Sequence[float],
        k: int,
        metric: str = "l2",
        column: str | None = None,
        overfetch_multiplier: int = DEFAULT_OVERFETCH_MULTIPLIER,
    ) -> DataFrame:
        """Filtered ANN: the reference skips the rewrite when a filter sits
        between projection and scan and documents over-fetch "3x + 100"
        (``README.md:164``). Spark-native version: over-fetch k·m+100 from the
        index, apply the filter, limit k; exact brute force under the filter
        when no index applies."""
        t = self.table(table)
        metric = _normalize_metric(metric)
        column = column or detect_vector_column(t.df)
        filtered = t.df.where(predicate)
        ranked = self._ranked_indexes(table, column, metric)
        if ranked:
            idx = self.get_index(ranked[0].name)
            # a quantized index's code distances must not surface as
            # `_distance` (for LSH they are not even on the L2 scale) — the
            # fetch re-scores exactly on the post-filter rows; the 3x+100
            # over-fetch already covers the candidate set
            rerank = idx.meta.quantized
            hits = idx.search(
                list(query), k * overfetch_multiplier + OVERFETCH_BONUS,
                **self._search_kw(idx, rerank, {}),
            )
            return self._fetch(
                filtered, t.row_id, hits, k, [],
                [self._distance(idx, rerank, [float(x) for x in query])], ["_distance"],
            )
        return topk_brute_force(filtered, column, query, k, metric, tie_break=t.row_id)
