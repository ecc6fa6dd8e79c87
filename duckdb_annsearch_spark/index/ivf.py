"""IVFFlat index: MLlib-KMeans-trained coarse quantizer + cell-partitioned
parquet; search probes ``nprobe`` cells via partition pruning.

Reference: FAISS IVFFlat built with deterministic stride sampling when
``train_sample`` is set (``/root/reference/src/faiss_index.cpp:295-330``),
defaults ``ivf_nlist=100, nprobe=1`` (``src/include/faiss_index.hpp:37-44``).

Spark-first mapping (SURVEY §7.1 M3): the inverted lists ARE parquet
partitions (``partitionBy("cluster_id")``) — probing nprobe cells is a
partition-pruned scan, the Spark analogue of reading nprobe posting lists.
At 100 TB each cell is a directory; a search touches nprobe/nlist of the
data and Catalyst never reads the rest.
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_annsearch_spark.catalog import Catalog, IndexMeta
from duckdb_annsearch_spark.index import kernels, quant, scan
from duckdb_annsearch_spark.index.base import BaseIndex, with_labels

DEFAULT_NLIST = 100
DEFAULT_NPROBE = 1
CENTROID_FILE = "_centroids.parquet"
# above this nlist, driver-side Lloyd's would need an O(nlist·256) sample —
# switch to two-level distributed training automatically
HIERARCHICAL_NLIST_THRESHOLD = 1024
HASH_BUCKETS = 1_000_000  # deterministic row sampling via xxhash64 % buckets


def _write_centroids(artifact_dir: str, centroids: np.ndarray) -> None:
    """Persist the centroid table as a parquet file INSIDE the artifact dir
    (underscore prefix → invisible to Spark and pyarrow dataset discovery).

    Centroids in the catalog JSON row would be an anti-pattern at scale:
    nlist=65,536 × dim=768 ≈ 50M floats ≈ a ~0.5 GB JSON document parsed on
    every catalog.load. As a parquet artifact they are written once and
    read via the process-level index cache on whichever side needs them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    c = np.ascontiguousarray(centroids, dtype=np.float32)
    n, dim = c.shape
    values = pa.array(c.reshape(-1))
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * dim)
    t = pa.table(
        {
            "cell": pa.array(np.arange(n, dtype=np.int32)),
            "centroid": pa.ListArray.from_arrays(offsets, values),
        }
    )
    import os

    pq.write_table(t, os.path.join(artifact_dir, CENTROID_FILE))


def _load_centroids(file_path: str) -> np.ndarray:
    """(nlist, dim) float32 from the artifact's centroid file, cell order.
    Unsorted read + numpy gather, never Table.sort_by (pyarrow 16.1.0
    corrupts large list<float> children under sort/take — see
    graph._argsorted_labels; centroid files are small, but every artifact
    loader uses the one safe pattern)."""
    import pyarrow.parquet as pq

    from duckdb_annsearch_spark.index.graph import _argsorted_labels
    from duckdb_annsearch_spark.index.scan import _fixed_matrix

    t = pq.read_table(file_path)
    _, order = _argsorted_labels(t, "cell")
    col = t.column("centroid")
    dim = len(col[0].as_py() or []) if len(col) else 0
    return _fixed_matrix(col, dim)[order]


def _train_kmeans(sample: np.ndarray, nlist: int, metric: str, seed: int = 42) -> np.ndarray:
    """Lloyd's KMeans on the (driver-side) training sample.

    The training sample is small by construction (``train_sample`` stride
    subset, or capped below); the heavy work — assigning every row to a cell —
    is distributed.  Uses numpy directly rather than MLlib to keep the
    centroid computation deterministic (fixed seed, fixed iteration count);
    MLlib KMeans remains a drop-in alternative at larger sample sizes.
    """
    rng = np.random.RandomState(seed)
    n = sample.shape[0]
    nlist = min(nlist, n)
    centroids = sample[rng.choice(n, size=nlist, replace=False)].copy()
    for _ in range(25):
        d = kernels.pairwise_distances(centroids, sample, metric)  # (nlist, n)
        assign = np.argmin(d, axis=0)
        new = np.empty_like(centroids)
        for c in range(nlist):
            members = sample[assign == c]
            new[c] = members.mean(axis=0) if len(members) else sample[rng.randint(n)]
        if np.allclose(new, centroids, atol=1e-7):
            centroids = new
            break
        centroids = new
    return centroids.astype(np.float32)


def _train_subcentroids(
    sample_df: DataFrame, k_for: dict[int, int], dim: int, metric: str
) -> dict[int, np.ndarray]:
    """Train k-means per group of an (already-sampled) DataFrame — the
    distributed half of two-level training: each executor task trains ONE
    group's sub-centroids on that group's sample rows, so total training
    cost is spread over the cluster instead of the driver.

    ``sample_df`` must have columns (``group_id`` int, ``row_id``,
    ``vector``); callers bound each group with
    :func:`_per_group_hash_sample` (≲ k·256 rows), so ``applyInPandas``
    group-in-memory is bounded regardless of full-table size. A
    deterministic in-trainer cap (hash-ordered by row_id, stable across
    task retries) guards against any group that slipped the bound.
    """
    kf = dict(k_for)

    def train(pdf: pd.DataFrame) -> pd.DataFrame:
        gid = int(pdf["group_id"].iloc[0])
        k = kf.get(gid, 1)
        cap = max(k * 256, 2_000)
        if len(pdf) > cap:
            key = (
                pdf["row_id"].to_numpy().astype(np.uint64)
                * np.uint64(2654435761)
            ) & np.uint64(0xFFFFFFFF)
            pdf = pdf.iloc[np.argsort(key, kind="stable")[:cap]]
        x = kernels.stack_vectors(pdf["vector"], dim)
        cents = _train_kmeans(x, k, metric, seed=42 + gid)
        return pd.DataFrame(
            {
                "group_id": np.full(cents.shape[0], gid, dtype=np.int32),
                "sub_id": np.arange(cents.shape[0], dtype=np.int32),
                "centroid": [c.tolist() for c in cents],
            }
        )

    out = (
        sample_df.select("group_id", "row_id", "vector")
        .groupBy("group_id")
        .applyInPandas(train, "group_id int, sub_id int, centroid array<float>")
        .collect()
    )
    subs: dict[int, list] = {}
    for r in out:
        subs.setdefault(r["group_id"], []).append((r["sub_id"], r["centroid"]))
    return {
        g: np.asarray([c for _, c in sorted(v)], dtype=np.float32)
        for g, v in subs.items()
    }


def _hash_sample(df: DataFrame, frac: float) -> DataFrame:
    """Deterministic row sample: xxhash64(row_id) bucket < frac·buckets.
    Unlike ``df.sample`` this is stable across retries/partitionings —
    the same rows are picked no matter how the scan is split."""
    if frac >= 1.0:
        return df
    thresh = max(1, int(frac * HASH_BUCKETS))
    return df.where(
        F.pmod(F.xxhash64(F.col("row_id")), F.lit(HASH_BUCKETS)) < thresh
    )


def _per_group_hash_sample(
    df: DataFrame, fracs: dict[int, float], group_col: str, seed: int = 1
) -> DataFrame:
    """Keep ~``fracs[g]`` of each listed group's rows; unlisted groups pass
    through untouched. Deterministic (same rows across retries) via a
    *seeded* ``xxhash64(row_id, seed)`` against a per-group threshold
    shipped by broadcast join.

    The seed matters: rows may already be a ``_hash_sample`` of the table,
    i.e. conditioned on ``xxhash64(row_id) < t`` — reusing the unseeded
    hash would make any second threshold ≥ t a no-op. A different seed
    gives an independent uniform hash."""
    if not fracs:
        return df
    spark = df.sparkSession
    thresh = F.broadcast(
        spark.createDataFrame(
            [
                (int(g), max(1, int(min(1.0, f) * HASH_BUCKETS)))
                for g, f in fracs.items()
            ],
            f"{group_col} int, __thresh long",
        )
    )
    return (
        df.join(thresh, group_col, "left")
        .where(
            F.col("__thresh").isNull()
            | (
                F.pmod(
                    F.xxhash64(F.col("row_id"), F.lit(seed)), F.lit(HASH_BUCKETS)
                )
                < F.col("__thresh")
            )
        )
        .drop("__thresh")
    )


def _hierarchical_train_assign(
    art: DataFrame, n: int, nlist: int, dim: int, metric: str
) -> tuple[DataFrame, np.ndarray]:
    """Two-level distributed k-means: sqrt-decomposition of ``nlist``.

    Driver trains k1 ≈ √nlist coarse centroids on a small sample; executors
    train k2 sub-centroids per coarse cluster in parallel
    (``applyInPandas``); full assignment is then two small GEMMs per row
    (k1 + k2 centroid distances instead of nlist) — at nlist = 65 536 that
    is ~512 distance evals per row, 128× less than flat assignment, and no
    O(nlist·256) driver-side sample ever materializes.
    Returns (assigned rows with flat ``cluster_id``, flat centroid array);
    downstream probe/partition logic is unchanged.
    """
    k1 = max(2, int(math.ceil(math.sqrt(nlist))))
    k2 = max(1, int(math.ceil(nlist / k1)))

    # level 1: small driver-side sample, as in the flat path
    cap = max(k1 * 256, 2_000)
    frac = min(1.0, cap / max(n, 1))
    coarse_sample = np.asarray(
        [
            r["vector"]
            for r in _hash_sample(art, frac).select("vector").collect()
        ],
        dtype=np.float32,
    )
    from duckdb_annsearch_spark.index.remote import run_remote

    coarse = run_remote(None, _train_kmeans, coarse_sample, k1, metric, seed=41)
    k1 = coarse.shape[0]

    # level 2: hash-sample ~256 rows per final cell, assign to coarse,
    # train each coarse group's sub-centroids on its own executors
    frac2 = min(1.0, (k1 * k2 * 256) / max(n, 1))
    sample_df = _hash_sample(art, frac2)

    def assign_coarse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = kernels.stack_vectors(pdf["vector"], dim)
            d = kernels.pairwise_distances(coarse, x, metric)
            yield pd.DataFrame(
                {
                    "group_id": np.argmin(d, axis=0).astype(np.int32),
                    "row_id": pdf["row_id"],
                    "vector": pdf["vector"],
                }
            )

    grouped0 = sample_df.select("row_id", "vector").mapInPandas(
        assign_coarse, "group_id int, row_id long, vector array<float>"
    ).persist()
    try:
        # the global fraction does not bound any single group — a skewed
        # coarse cluster could funnel most of the sample into one
        # applyInPandas group. Re-cap oversized groups with an independently
        # seeded per-group hash (counts run on the small persisted sample,
        # never the full table).
        cap2 = max(k2 * 256, 2_000)
        counts = {
            int(r["group_id"]): int(r["cnt"])
            for r in grouped0.groupBy("group_id")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        grouped = _per_group_hash_sample(
            grouped0,
            {g: cap2 / c for g, c in counts.items() if c > 2 * cap2},
            "group_id",
        )
        subs = _train_subcentroids(
            grouped, {g: k2 for g in range(k1)}, dim, metric
        )
    finally:
        grouped0.unpersist()
    # a coarse cluster that caught no sample rows keeps its own centroid
    sub_arrays = [subs.get(g, coarse[g : g + 1]) for g in range(k1)]
    offsets = np.zeros(k1, dtype=np.int64)
    off = 0
    for g, arr in enumerate(sub_arrays):
        offsets[g] = off
        off += arr.shape[0]
    flat = np.vstack(sub_arrays).astype(np.float32)
    counts = np.asarray([a.shape[0] for a in sub_arrays], dtype=np.int64)

    def assign_full(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = kernels.stack_vectors(pdf["vector"], dim)
            dc = kernels.pairwise_distances(coarse, x, metric)
            cg = np.argmin(dc, axis=0)
            cid = np.empty(len(pdf), dtype=np.int32)
            for g in np.unique(cg):
                m = cg == g
                s = flat[offsets[g] : offsets[g] + counts[g]]
                ds = kernels.pairwise_distances(s, x[m], metric)
                cid[m] = offsets[g] + np.argmin(ds, axis=0)
            pdf = pdf.copy()
            pdf["cluster_id"] = cid
            yield pdf

    assigned = art.mapInPandas(
        assign_full, "label int, row_id long, vector array<float>, cluster_id int"
    )
    return assigned, flat


def _split_oversized_cells(
    assigned: DataFrame,
    centroids: np.ndarray,
    max_cell: int,
    dim: int,
    metric: str,
    max_rounds: int = 4,
) -> tuple[DataFrame, np.ndarray]:
    """Cell-size skew handling: any cell with more than ``max_cell`` rows is
    k-means-split into ⌈size/max_cell⌉ sub-cells (trained distributedly on a
    per-cell sample), bounding the largest hive partition — at 100 TB a hot
    cell is a straggler partition AND an over-read on every probe that
    touches it.  Cell ids of untouched cells are stable: each split reuses
    its old slot for sub#0 and appends the rest, so no global reassignment.
    """
    # materialize once up front: each round's counts, sample join, and
    # reassign pass all consume `assigned`, which embeds the full-table
    # assignment GEMMs — without the checkpoint round 1 recomputes them 3x
    assigned = assigned.localCheckpoint()
    oversized: dict[int, int] = {}
    rounds_run = 0
    for _ in range(max_rounds):
        counts = {
            r["cluster_id"]: r["cnt"]
            for r in assigned.groupBy("cluster_id")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        oversized = {
            int(c): int(math.ceil(cnt / max_cell))
            for c, cnt in counts.items()
            if cnt > max_cell
        }
        if not oversized:
            break
        rounds_run += 1
        # per-cell sample (seeded hash — independent of any earlier sampling)
        sample_df = _per_group_hash_sample(
            assigned,
            {c: m * 256 / counts[c] for c, m in oversized.items()},
            "cluster_id",
        ).select(F.col("cluster_id").alias("group_id"), "row_id", "vector")
        # only the oversized cells' rows are needed for training
        sample_df = sample_df.where(
            F.col("group_id").isin([int(c) for c in oversized])
        )
        subs = _train_subcentroids(sample_df, oversized, dim, metric)
        n_old = centroids.shape[0]
        new = centroids.copy()
        tail: list[np.ndarray] = []
        id_map: dict[int, np.ndarray] = {}  # old cell -> global ids of its subs
        for c, arr in sorted(subs.items()):
            if arr.shape[0] < 2:
                continue  # could not split (e.g. all-identical vectors)
            ids = np.concatenate(
                [[c], n_old + len(tail) + np.arange(arr.shape[0] - 1)]
            ).astype(np.int64)
            new[c] = arr[0]
            tail.extend(arr[1:])
            id_map[c] = ids
        if not id_map:
            break
        centroids = np.vstack([new] + tail).astype(np.float32) if tail else new
        split_cents = {c: np.asarray([centroids[i] for i in ids], dtype=np.float32)
                       for c, ids in id_map.items()}

        # bind this round's maps as defaults — the closure is re-created per
        # split round and must not see a later round's variables
        def reassign(
            batches: Iterator[pd.DataFrame],
            _ids=id_map,
            _cents=split_cents,
        ) -> Iterator[pd.DataFrame]:
            keys = np.asarray(list(_ids), dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                cid = pdf["cluster_id"].to_numpy().astype(np.int64)
                hit = np.isin(cid, keys)
                if hit.any():
                    pdf = pdf.copy()
                    for c in np.unique(cid[hit]):
                        m = cid == c
                        x = kernels.stack_vectors(pdf.loc[m, "vector"], dim)
                        d = kernels.pairwise_distances(_cents[c], x, metric)
                        cid[m] = _ids[c][np.argmin(d, axis=0)]
                    pdf["cluster_id"] = cid.astype(np.int32)
                yield pdf

        assigned = assigned.mapInPandas(
            reassign, "label int, row_id long, vector array<float>, cluster_id int"
        ).localCheckpoint(eager=False)
    if oversized:
        # the loop ran out of rounds with splits pending; re-count once and
        # say so if the cap is still violated (k-means splits are unbalanced
        # and identical-vector cells cannot split) rather than silently
        # voiding the bound
        still = (
            assigned.groupBy("cluster_id")
            .agg(F.count("*").alias("cnt"))
            .where(F.col("cnt") > max_cell)
            .count()
        )
        if still:
            import warnings

            warnings.warn(
                f"max_cell_rows={max_cell}: {still} cell(s) still above the "
                f"cap after {rounds_run} split round(s) "
                f"(unsplittable cells, e.g. identical vectors, cannot shrink)",
                stacklevel=2,
            )
    return assigned, centroids


class IvfFlatIndex(BaseIndex):
    TYPE = "ivfflat"

    @classmethod
    def build(
        cls,
        catalog: Catalog,
        meta: IndexMeta,
        df: DataFrame,
        row_id_col: str,
        vector_col: str,
    ) -> "IvfFlatIndex":
        nlist = int(meta.params.get("ivf_nlist", DEFAULT_NLIST))
        train_sample = int(meta.params.get("train_sample", 0))
        train_mode = str(
            meta.params.get(
                "train_mode",
                "hierarchical" if nlist > HIERARCHICAL_NLIST_THRESHOLD else "flat",
            )
        ).lower()
        if train_mode not in ("flat", "hierarchical"):
            raise ValueError(
                f"unknown train_mode {train_mode!r} (flat | hierarchical)"
            )
        if train_mode == "hierarchical" and train_sample > 0:
            # the stride-sample contract is a flat-training concept — all
            # resolved BEFORE any Spark job runs
            if "train_mode" in meta.params:
                raise ValueError(
                    "train_sample is not supported with train_mode='hierarchical'"
                )
            # auto-selected hierarchical (nlist above threshold): stay on
            # the scalable path — flat training at this nlist is exactly
            # what hierarchical exists to avoid
            import warnings

            warnings.warn(
                f"train_sample ignored: ivf_nlist={nlist} > "
                f"{HIERARCHICAL_NLIST_THRESHOLD} auto-selects hierarchical "
                "training (pass train_mode='flat' to force stride-sample "
                "training)",
                stacklevel=2,
            )
            train_sample = 0
        art = with_labels(df, row_id_col, vector_col).cache()
        n = art.count()

        if train_mode == "hierarchical":
            # two-level distributed training — the large-nlist scale path
            assigned, centroids = _hierarchical_train_assign(
                art, n, nlist, meta.dim, meta.metric
            )
        elif train_mode == "flat":
            # -- train: deterministic stride sample by label order (faiss_index.cpp:302-318)
            if train_sample > 0 and train_sample < n:
                stride = n / train_sample
                wanted = {int(i * stride) for i in range(train_sample)}
                sample_df = art.where(F.col("label").isin(list(wanted)))
            else:
                # cap driver-side training work; 256 vectors per centroid matches
                # common FAISS guidance and keeps the sample O(nlist), not O(N)
                cap = max(nlist * 256, 10_000)
                if n > cap:
                    stride = n / cap
                    wanted = {int(i * stride) for i in range(cap)}
                    sample_df = art.where(F.col("label").isin(list(wanted)))
                else:
                    sample_df = art
            sample = np.asarray(
                [r["vector"] for r in sample_df.select("vector").collect()],
                dtype=np.float32,
            )
            # off-driver (r10): the Lloyd loop holds the driver GIL and
            # serializes concurrent builds (index/remote.py rationale)
            from duckdb_annsearch_spark.index.remote import run_remote

            centroids = run_remote(None, _train_kmeans, sample, nlist, meta.metric)

            # -- assign every row to its nearest centroid (distributed, one GEMM per batch)
            cent = centroids

            def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    x = kernels.stack_vectors(pdf["vector"], meta.dim)
                    d = kernels.pairwise_distances(cent, x, meta.metric)
                    pdf = pdf.copy()
                    pdf["cluster_id"] = np.argmin(d, axis=0).astype(np.int32)
                    yield pdf

            assigned = art.mapInPandas(
                assign, "label int, row_id long, vector array<float>, cluster_id int"
            )
        else:
            raise ValueError(
                f"unknown train_mode {train_mode!r} (flat | hierarchical)"
            )

        max_cell = int(meta.params.get("max_cell_rows", 0))
        if max_cell > 0:
            assigned, centroids = _split_oversized_cells(
                assigned, centroids, max_cell, meta.dim, meta.metric
            )
        meta.extra["train_mode"] = train_mode
        # IVFPQ (FAISS semantics): codebooks train on, and codes encode,
        # the residual to the assigned coarse centroid — the codes only have
        # to cover the within-cell distribution; OPQ composes as
        # encode(R @ (x - c)).  "PCA<dout>,IVF<nlist>,Flat" stores reduced
        # f32 codes in the cells while coarse assignment and serving stay
        # original-space — a DELIBERATE divergence from
        # faiss::index_factory (which wraps the IVF in the PCA pretransform,
        # so coarse centroids train and probe in the REDUCED space):
        # original-space assignment shares the assignment GEMM and cell
        # layout with every other IVF variant and is never less accurate,
        # but at partial nprobe the SELECTED cells (hence results) can
        # differ from FAISS for the same factory string.  Documented in
        # SURVEY.md next to the factory row.
        assigned, dq = quant.quantize(
            meta, assigned, stats_from=art, centroids=centroids
        )
        path = catalog.data_path(meta.name)
        meta.num_vectors = catalog.write_parquet(
            assigned, path, mode="overwrite", partition_by="cluster_id"
        )
        art.unpersist()
        quant.save(path, meta, dq)
        _write_centroids(path, centroids)
        meta.extra["nlist"] = int(centroids.shape[0])
        catalog.save(meta)
        return cls(catalog, meta)

    # ---- search ----
    def _centroids(self) -> np.ndarray:
        """Centroid matrix via the process-level cache."""
        import os

        from duckdb_annsearch_spark.index import cache as index_cache

        f = os.path.join(self.catalog.data_path(self.meta.name), CENTROID_FILE)
        return index_cache.get_or_load(f, _load_centroids)

    def _dequant_args(self) -> dict | None:
        """IVFPQ codes are residuals — ship the coarse centroids alongside
        the codebooks so the probe can add them back per cell (nlist x dim
        f32 in the task closure; small by construction)."""
        dq = super()._dequant_args()
        if self.meta.extra.get("pq_residual"):
            return {**dq, "residual_centroids": self._centroids()}
        return dq

    def _probe_cells(self, queries: np.ndarray, nprobe: int) -> list[np.ndarray]:
        cent = self._centroids()
        nprobe = min(max(1, nprobe), cent.shape[0])
        d = kernels.pairwise_distances(queries, cent, self.meta.metric)  # (nq, nlist)
        return [kernels.local_topk(d[i], nprobe) for i in range(d.shape[0])]

    def _search_batch_impl(
        self,
        queries: list[Sequence[float]],
        k: int,
        nprobe: int | None = None,
        with_vectors: bool = False,
        **kw,
    ) -> DataFrame:
        nprobe = int(nprobe or self.meta.params.get("nprobe", DEFAULT_NPROBE))
        qarr = np.asarray([list(q) for q in queries], dtype=np.float32)
        cells = self._probe_cells(qarr, nprobe)
        all_cells = sorted({int(c) for cc in cells for c in cc})
        # per-cell query lists so each query only sees its own probed cells
        cell_queries: dict[int, list[int]] = {}
        for qi, cc in enumerate(cells):
            for c in cc:
                cell_queries.setdefault(int(c), []).append(qi)

        # only the probed cell directories: listing the whole artifact is a
        # Spark job above 32 cells (parallelPartitionDiscovery.threshold)
        art = self.catalog.read_parquet(
            self.catalog.data_path(self.meta.name),
            parts=[f"cluster_id={c}" for c in all_cells],
        )
        deleted = self._deleted_rowid_array()
        dim, metric, k_ = self.meta.dim, self.meta.metric, k
        dq = self._dequant_args()
        vcol = "codes" if dq else "vector"
        # ADC route decided driver-side for the WHOLE batch (executors
        # import their own kernels copy, so the gate must be bound here;
        # and per-cell routing would let one query's merged top-k mix two
        # f32 scoring paths, making results depend on which other queries
        # share the batch): all cells score via ADC or none do
        use_adc = (
            kernels.supports_adc(dq, metric)
            and len(queries) <= kernels.ADC_MAX_NQ
        )

        def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # per-cell LUTs cached for the task's lifetime: the (query
            # subset, centroid) pair is fixed per cell, so the table is
            # built once per cell instead of once per (cell, Arrow batch)
            adc_tabs: dict[int, tuple] = {}
            for pdf in batches:
                if deleted.size:
                    pdf = pdf[~np.isin(pdf["row_id"].to_numpy(), deleted)]
                if len(pdf) == 0:
                    continue
                for c, grp in pdf.groupby("cluster_id"):
                    qids = cell_queries.get(int(c))
                    if not qids:
                        continue
                    rc = dq.get("residual_centroids") if dq else None
                    if use_adc:
                        # PQ cells score straight off the codes; the
                        # residual centroid folds into the query side
                        tabs = adc_tabs.get(int(c))
                        if tabs is None:
                            tabs = kernels.adc_tables(
                                qarr[qids], dq, metric,
                                centroid=None if rc is None else rc[int(c)],
                            )
                            adc_tabs[int(c)] = tabs
                        d = kernels.adc_distances(
                            qarr[qids], grp[vcol], dq, metric, tables=tabs
                        )
                    else:
                        if dq:
                            x = kernels.decode_codes(grp[vcol], dq)
                            if rc is not None:
                                x = x + rc[int(c)]
                        else:
                            x = kernels.stack_vectors(grp[vcol], dim)
                        d = kernels.pairwise_distances(qarr[qids], x, metric)
                    rid = grp["row_id"].to_numpy()
                    pieces = []
                    for row, qi in enumerate(qids):
                        sel = kernels.local_topk(d[row], k_, ids=rid)
                        pieces.append(
                            (qi, rid[sel], d[row, sel],
                             *([x[sel]] if with_vectors else []))
                        )
                    yield kernels.hits_frame(
                        "query_idx", np.int32, pieces, with_vectors
                    )

        partial = art.select("row_id", vcol, "cluster_id").mapInPandas(
            probe, kernels.probe_schema("query_idx int", with_vectors)
        )
        return kernels.topk_per_query(partial, k, nq=len(queries))

    def _search_batch_df_impl(
        self,
        queries_df: DataFrame,
        k: int,
        query_col: str = "query",
        idx_col: str = "query_idx",
        nprobe: int | None = None,
        with_vectors: bool = False,
        **kw,
    ) -> DataFrame:
        """Query-distributed IVF probe: each task resolves its queries' nprobe
        cells against the (small, closure-shipped) centroid table and reads
        ONLY those hive partitions via pyarrow — per-task partition pruning,
        the executor-side twin of the inverted-list read."""
        nprobe = int(nprobe or self.meta.params.get("nprobe", DEFAULT_NPROBE))
        nlist = int(self.meta.extra.get("nlist", DEFAULT_NLIST))
        nprobe = min(max(1, nprobe), nlist)
        path = self.catalog.data_path(self.meta.name)
        dim, metric = self.meta.dim, self.meta.metric
        deleted = self._deleted_rowid_array()
        dq = self._dequant_args()

        def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            # centroids load from the artifact itself, once per worker
            # process (index cache) — nothing big ships in the closure
            import os as _os

            from duckdb_annsearch_spark.index import cache as index_cache

            cent = index_cache.get_or_load(
                _os.path.join(path, CENTROID_FILE), _load_centroids
            )
            # concatenate the task's Arrow batches first — the probed cells
            # are read once per task, not once per query batch
            pdfs = [b for b in batches if len(b)]
            if not pdfs:
                return
            orig_idx, qarr = kernels.valid_queries(
                pd.concat(pdfs, ignore_index=True), query_col, idx_col, dim
            )
            if not len(orig_idx):
                return
            dc = kernels.pairwise_distances(qarr, cent, metric)
            cell_queries: dict[int, list[int]] = {}
            for qi in range(len(orig_idx)):
                for c in kernels.local_topk(dc[qi], nprobe):
                    cell_queries.setdefault(int(c), []).append(qi)
            top = scan.RunningTopK(len(orig_idx), k, dim if with_vectors else None)
            for rid, x, cid in _iter_cell_batches(
                path, dim, sorted(cell_queries), dequantize=dq
            ):
                if deleted.size:
                    keep = ~np.isin(rid, deleted)
                    rid, x = rid[keep], x[keep]
                qids = cell_queries.get(cid)
                if not qids or rid.size == 0:
                    continue
                d = kernels.pairwise_distances(qarr[qids], x, metric)
                for row, qi in enumerate(qids):
                    top.update(qi, d[row], rid, x)
            yield kernels.hits_frame(
                idx_col,
                np.int64,
                [(i, *top.result(qi)) for qi, i in enumerate(orig_idx)],
                with_vectors,
            )

        return queries_df.select(idx_col, query_col).mapInPandas(
            probe, kernels.probe_schema(f"{idx_col} long", with_vectors)
        )


def _iter_cell_batches(path: str, dim: int, cells: list[int], dequantize: dict | None = None):
    """Yield (row_ids, X, cluster_id) per batch from the probed hive cells.
    SQ8 artifacts read only the codes column and dequantize."""
    import pyarrow.dataset as ds

    data = ds.dataset(path, format="parquet", partitioning="hive")
    flt = ds.field("cluster_id").isin([int(c) for c in cells])
    vcol = "codes" if dequantize else "vector"
    for batch in data.to_batches(
        columns=["row_id", vcol, "cluster_id"], filter=flt,
        batch_size=scan.DEFAULT_BATCH_ROWS,
    ):
        if batch.num_rows == 0:
            continue
        rid = batch.column("row_id").to_numpy(zero_copy_only=False).astype(np.int64)
        cids = batch.column("cluster_id").to_numpy(zero_copy_only=False)
        if dequantize:
            x = kernels.decode_codes(
                [b.as_py() for b in batch.column(vcol)], dequantize
            )
            rc = dequantize.get("residual_centroids")
            if rc is not None:
                x = x + rc[cids.astype(np.int64)]
        else:
            x = scan._fixed_matrix(batch.column(vcol), dim)
        # a record batch can straddle cells only if pyarrow merges fragments;
        # split defensively by cluster_id
        for cid in np.unique(cids):
            m = cids == cid
            yield rid[m], x[m], int(cid)
