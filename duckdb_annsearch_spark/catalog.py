"""Engine-owned index catalog + tombstones.

The reference persists index metadata + serialized graphs inside the .duckdb
file via a custom index type registered in the DuckDB catalog
(``/root/reference/src/ann_extension.cpp:23-27``,
``src/diskann_index.cpp:408-546``).  Spark has no extensible catalog-object
storage, so the engine owns a directory tree (local FS here; an object-store
prefix on a cluster):

    <root>/<index_name>/meta.json            index metadata (see below)
    <root>/<index_name>/data/                parquet artifact(s)
    <root>/<index_name>/tombstones/          parquet (row_id BIGINT)

Deletes are tombstones, exactly like the reference's ``deleted_labels_``
(``src/diskann_index.cpp:363-385``): search compensates by over-fetching and
anti-joining, ``vacuum`` compacts by rebuilding without deleted rows
(``src/diskann_index.cpp:701-741``).  The tombstone directory holds distinct
ids, because each write appends only ids not already tombstoned, so
``num_deleted`` is the size of that set, as the reference's count is the
size of ``deleted_labels_``.

The counts the catalog keeps (``num_vectors`` of Flat/IVF builds,
``num_deleted``, ``extra["delta_rows"]``) come from the parquet footers of
the files a write just added (``write_parquet``), read on the driver: no
Spark job re-counts what the engine just wrote.  Every read of a directory
the engine wrote passes a schema (``read_parquet``), so no read submits a
schema-inference job either.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass, field
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FORMAT_VERSION = 2  # mirrors the reference's versioned header (DANN v2)

ROW_ID = "__row_id"


class ConcurrentWriteError(RuntimeError):
    """Another engine session wrote this index's meta.json since this
    session last loaded it.  meta writes are last-writer-wins WITHIN one
    session (one Catalog = one writer id); across sessions a stale write
    would silently undo the other session's lifecycle op, so it fails
    loudly instead — re-load the index (or use one engine per catalog
    root) and retry."""

TOMBSTONE_SCHEMA = T.StructType([T.StructField("row_id", T.LongType(), False)])
DELTA_SCHEMA = T.StructType(
    [
        T.StructField("row_id", T.LongType()),
        T.StructField("vector", T.ArrayType(T.FloatType())),
    ]
)


@dataclass
class IndexMeta:
    name: str
    engine: str  # 'diskann' | 'faiss'
    index_type: str  # 'diskann' | 'flat' | 'hnsw' | 'ivfflat'
    table_name: str
    column: str
    dim: int
    metric: str  # 'l2' | 'ip' | 'cosine'
    params: dict[str, Any] = field(default_factory=dict)
    num_vectors: int = 0
    num_deleted: int = 0
    quantized: bool = False
    version: int = FORMAT_VERSION
    created_at: float = 0.0
    # engine-specific payload (centroids, entry points, sq8 stats, ...)
    extra: dict[str, Any] = field(default_factory=dict)
    # optimistic-concurrency fields (round 9): monotone write counter +
    # the writing Catalog's session id.  save() rejects a write whose
    # in-memory counter lags a DIFFERENT session's on-disk write — two
    # engines on one catalog root fail loudly instead of silently
    # clobbering each other's lifecycle metadata.
    mutation: int = 0
    writer: str = ""


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        import uuid

        self.spark = spark
        self.root = root
        # one writer id per engine session: within a session meta writes
        # stay last-writer-wins; across sessions stale writes fail loudly
        self.writer = uuid.uuid4().hex
        os.makedirs(root, exist_ok=True)

    # ---- paths ----
    def index_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def meta_path(self, name: str) -> str:
        return os.path.join(self.index_dir(name), "meta.json")

    def data_path(self, name: str) -> str:
        return os.path.join(self.index_dir(name), "data")

    def tombstone_path(self, name: str) -> str:
        return os.path.join(self.index_dir(name), "tombstones")

    def delta_path(self, name: str) -> str:
        return os.path.join(self.index_dir(name), "delta")

    def covering_path(self, name: str) -> str:
        """Covering-payload sidecar: (row_id, <payload columns>) parquet
        kept beside the vector artifact so local serving can fetch full
        rows in-process — the Spark rendering of the reference's
        in-process row fetch (src/ann_search.cpp:31-195)."""
        return os.path.join(self.index_dir(name), "covering")

    # ---- metadata CRUD ----
    def exists(self, name: str) -> bool:
        return os.path.exists(self.meta_path(name))

    def save(self, meta: IndexMeta) -> None:
        os.makedirs(self.index_dir(meta.name), exist_ok=True)
        if not meta.created_at:
            meta.created_at = time.time()
        # optimistic concurrency: a write whose counter lags ANOTHER
        # session's on-disk write would silently undo that session's
        # lifecycle op (tombstones count, delta rows, covering columns...)
        # — raise instead.  Writes from THIS session stay last-writer-wins
        # (engine code legitimately holds several loaded copies of one
        # index's meta; adopt the highest counter and move on).
        if os.path.exists(self.meta_path(meta.name)):
            try:
                with open(self.meta_path(meta.name)) as f:
                    disk = json.load(f)
            except (OSError, ValueError):
                disk = None  # racing reader of a mid-swap file: proceed
            if disk is not None:
                d_mut = int(disk.get("mutation", 0))
                d_writer = disk.get("writer", "")
                if d_mut > meta.mutation and d_writer not in ("", self.writer):
                    raise ConcurrentWriteError(
                        f"index {meta.name!r}: meta.json was written by "
                        f"another engine session (writer {d_writer[:8]}..., "
                        f"mutation {d_mut} > this session's loaded "
                        f"{meta.mutation}) — writing would silently undo "
                        "that session's lifecycle operation; re-load the "
                        "index and retry, or use one engine per catalog root"
                    )
                meta.mutation = max(meta.mutation, d_mut)
        meta.mutation += 1
        meta.writer = self.writer
        tmp = self.meta_path(meta.name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(meta), f)
        os.replace(tmp, self.meta_path(meta.name))  # atomic swap

    def load(self, name: str) -> IndexMeta:
        if not self.exists(name):
            raise KeyError(f"ANN index {name!r} does not exist")
        with open(self.meta_path(name)) as f:
            raw = json.load(f)
        version = raw.get("version", 0)
        if version > FORMAT_VERSION:
            raise ValueError(
                f"index {name!r} has format version {version}, engine supports <= {FORMAT_VERSION}"
            )
        return IndexMeta(**raw)

    def drop(self, name: str) -> None:
        if not self.exists(name):
            raise KeyError(f"ANN index {name!r} does not exist")
        shutil.rmtree(self.index_dir(name), ignore_errors=True)

    def names(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root) if os.path.exists(self.meta_path(d))
        )

    def all(self) -> list[IndexMeta]:
        return [self.load(n) for n in self.names()]

    def for_table(self, table_name: str) -> list[IndexMeta]:
        return [m for m in self.all() if m.table_name == table_name]

    # ---- engine-written parquet ----
    def write_parquet(
        self,
        df: DataFrame,
        path: str,
        mode: str = "append",
        partition_by: str | None = None,
    ) -> int:
        """Write ``df`` to the parquet directory ``path``; returns the rows
        written, summed on the driver from the footers of the files this
        write added (pyarrow, no Spark job)."""
        import pyarrow.parquet as pq

        before = _data_files(path)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(path)
        return sum(
            pq.read_metadata(f).num_rows for f in _data_files(path) - before
        )

    def read_parquet(
        self,
        path: str,
        schema: T.StructType | None = None,
        parts: list[str] | None = None,
    ) -> DataFrame:
        """Read a parquet directory the engine wrote, with a known schema:
        ``schema`` where the caller has the frame it wrote, else the one in
        the footers (driver-side pyarrow, hive partition columns such as
        IVF's ``cluster_id`` kept), so Spark submits no schema-inference
        job.  ``parts`` names hive partition directories under ``path``
        (``cluster_id=3``): only those that exist are listed and read, with
        ``path`` as the base path so the partition column is kept."""
        if schema is None:
            import pyarrow.dataset as ds
            from pyspark.sql.pandas.types import from_arrow_schema

            schema = from_arrow_schema(
                ds.dataset(path, format="parquet", partitioning="hive").schema
            )
        reader = self.spark.read.schema(schema)
        if parts is None:
            return reader.parquet(path)
        dirs = [os.path.join(path, p) for p in parts]
        dirs = [d for d in dirs if os.path.isdir(d)]
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return reader.option("basePath", path).parquet(*dirs)

    # ---- tombstones ----
    def tombstones(self, name: str) -> DataFrame:
        path = self.tombstone_path(name)
        if _data_files(path):
            return self.read_parquet(path, TOMBSTONE_SCHEMA)
        return self.spark.createDataFrame([], TOMBSTONE_SCHEMA)

    def tombstone_ids(self, name: str) -> np.ndarray:
        """Tombstoned row_ids on the driver (pyarrow, no Spark job)."""
        import pyarrow.parquet as pq

        path = self.tombstone_path(name)
        if not _data_files(path):
            return np.empty(0, dtype=np.int64)
        ids = pq.read_table(path, columns=["row_id"]).column("row_id")
        return np.asarray(ids.to_numpy(), dtype=np.int64)

    def add_tombstones(self, name: str, row_ids: DataFrame | list[int]) -> int:
        """Tombstone the ids not already tombstoned; returns ``num_deleted``,
        the number of distinct tombstoned ids.  A driver list is
        de-duplicated against the existing tombstones on the driver
        (``tombstone_ids``, pyarrow) and written as one file, or not at all
        when nothing is new; a DataFrame goes through ``distinct()`` and an
        anti-join against a broadcast of the existing tombstones.  Either
        way the count only adds the rows written."""
        meta = self.load(name)
        path = self.tombstone_path(name)
        if isinstance(row_ids, list):
            ids = np.setdiff1d(
                np.asarray([int(r) for r in row_ids], dtype=np.int64),
                self.tombstone_ids(name),
            )
            if not ids.size:
                return meta.num_deleted
            # from pandas: with Arrow on, the rows reach the JVM as Arrow
            # batches, and the one-partition write needs no Python worker
            df = self.spark.createDataFrame(
                pd.DataFrame({"row_id": ids}), TOMBSTONE_SCHEMA
            ).coalesce(1)
        else:
            df = (
                row_ids.select(
                    F.col(row_ids.columns[0]).cast("long").alias("row_id")
                )
                .where(F.col("row_id").isNotNull())
                .distinct()
            )
            if _data_files(path):
                df = df.join(
                    F.broadcast(self.tombstones(name)), "row_id", "left_anti"
                )
        meta.num_deleted += self.write_parquet(df, path)
        self.save(meta)
        return meta.num_deleted

    # ---- delta (incremental appends, reference D3 ``BoundIndex::Append``) ----
    def delta(self, name: str) -> DataFrame | None:
        """Unindexed tail appended since the last build/compaction, or None.
        Read with the fixed schema ``add_delta`` writes: no footer-reading
        job per read."""
        path = self.delta_path(name)
        if _data_files(path):
            return self.read_parquet(path, DELTA_SCHEMA)
        return None

    def add_delta(self, name: str, rows: DataFrame) -> int:
        """Append (row_id, vector) rows; returns new delta row count."""
        meta = self.load(name)
        n = int(meta.extra.get("delta_rows") or 0) + self.write_parquet(
            rows.select(
                F.col("row_id").cast("long"), F.col("vector").cast("array<float>")
            ),
            self.delta_path(name),
        )
        meta.extra["delta_rows"] = n
        self.save(meta)
        return n


def _data_files(path: str) -> set[str]:
    """Parquet data files under ``path``, hive partition directories
    included; ``_``/``.``-prefixed names (sidecars, ``_temporary``, CRCs)
    are skipped, as Spark and pyarrow skip them."""
    out = set()
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.update(
            os.path.join(root, f)
            for f in files
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return out
