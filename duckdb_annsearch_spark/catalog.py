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
(``src/diskann_index.cpp:701-741``).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass, field
from typing import Any

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

    # ---- tombstones ----
    def tombstones(self, name: str) -> DataFrame:
        path = self.tombstone_path(name)
        if os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            return self.spark.read.schema(TOMBSTONE_SCHEMA).parquet(path)
        return self.spark.createDataFrame([], TOMBSTONE_SCHEMA)

    def add_tombstones(self, name: str, row_ids: DataFrame | list[int]) -> int:
        meta = self.load(name)
        if isinstance(row_ids, list):
            df = self.spark.createDataFrame(
                [(int(r),) for r in row_ids], TOMBSTONE_SCHEMA
            )
        else:
            df = row_ids.select(F.col(row_ids.columns[0]).cast("long").alias("row_id"))
        df.write.mode("append").parquet(self.tombstone_path(name))
        n = self.tombstones(name).distinct().count()
        meta.num_deleted = n
        self.save(meta)
        return n

    # ---- delta (incremental appends, reference D3 ``BoundIndex::Append``) ----
    def delta(self, name: str) -> DataFrame | None:
        """Unindexed tail appended since the last build/compaction, or None.
        Read with the fixed schema ``add_delta`` writes: no footer-reading
        job per read."""
        path = self.delta_path(name)
        if os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        ):
            return self.spark.read.schema(DELTA_SCHEMA).parquet(path)
        return None

    def add_delta(self, name: str, rows: DataFrame) -> int:
        """Append (row_id, vector) rows; returns new delta row count."""
        meta = self.load(name)
        rows.select(
            F.col("row_id").cast("long"), F.col("vector").cast("array<float>")
        ).write.mode("append").parquet(self.delta_path(name))
        n = self.delta(name).count()
        meta.extra["delta_rows"] = n
        self.save(meta)
        return n
