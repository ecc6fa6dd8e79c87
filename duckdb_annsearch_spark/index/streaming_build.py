"""Distributed two-pass DiskANN-style build — the Spark rendering of the
reference's larger-than-RAM streaming build
(``/root/reference/rust_lib/src/streaming_build.rs:42-122``,
``src/diskann_functions.cpp:127-211``):

  pass 1: build a pilot Vamana graph from a deterministic stride sample of
          ``max(sqrt(N), 1000)`` rows (driver-side, like the reference);
  pass 2: stream the remaining rows through insert — here one Spark
          partition at a time, in parallel: every partition gets the pilot
          graph (broadcast), inserts its rows locally (greedy search +
          RobustPrune + backedges), and emits its subgraph plus backedge
          patches for pilot nodes;
  merge:  pilot-node adjacency = RobustPrune over (base edges ∪ all
          partitions' patches), computed as a DataFrame job (explode →
          join dst vectors → applyInPandas per node).

The result is one graph artifact whose quality matches the reference's
two-pass recipe: pilot nodes act as global connectors, partition inserts
attach the long tail.  Recall gate ≥ 0.7 (diskann_streaming.test:44-49).
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_annsearch_spark.catalog import Catalog, IndexMeta
from duckdb_annsearch_spark.index import quant
from duckdb_annsearch_spark.index.base import with_labels
from duckdb_annsearch_spark.index.vamana import (
    DEFAULT_ALPHA,
    DEFAULT_BUILD_COMPLEXITY,
    DEFAULT_MAX_DEGREE,
    NO_NEIGHBOR,
    _dists,
    build_vamana,
    pad_neighbors,
    robust_prune,
)

DEFAULT_PARTITION_ROWS = 50_000

VERTEX_SCHEMA = (
    "label int, row_id long, vector array<float>, neighbors array<int>, "
    "is_patch boolean"
)

# insert output: vertex rows plus, on patch rows, the vectors of the
# patch's NON-PILOT neighbors aligned with ``neighbors`` (None where the
# neighbor is a pilot — those vectors ride the pilot broadcast).  Shipping
# the vectors with the patch lets the merge prune pilots from ONE groupBy
# over the patch rows instead of explode + distinct + a join against the
# full vertex relation (r10; was 3 extra exchanges carrying every dst
# vector).
INSERT_SCHEMA = VERTEX_SCHEMA + ", nbr_vecs array<array<float>>"

SHARD_SCHEMA = (
    "shard int, label int, row_id long, vector array<float>, "
    "neighbors array<int>, entry int"
)


def sharded_build(
    catalog: Catalog,
    meta: IndexMeta,
    df: DataFrame,
    row_id_col: str,
    vector_col: str,
    shards: int,
    by: str = "hash",
) -> dict:
    """Fully-distributed graph build: hash rows into ``shards`` independent
    subgraphs, build each with Vamana inside its own task (parallel across
    the cluster, NO driver-side build at all), search fans out per shard and
    merges top-k.  This is the path for graphs too big for one worker's RAM:
    each worker only ever holds one shard.  Per-shard recall is exact w.r.t.
    the shard, so global recall ≈ the single-graph recall of the same
    hyperparameters — the standard sharded-DiskANN deployment shape."""
    p = meta.params
    max_degree = int(p.get("max_degree", DEFAULT_MAX_DEGREE))
    build_L = int(p.get("build_complexity", DEFAULT_BUILD_COMPLEXITY))
    alpha = float(p.get("alpha", DEFAULT_ALPHA))
    metric = meta.metric
    spark = catalog.spark

    art = with_labels(df, row_id_col, vector_col)
    n_total: int | None = None  # counted once, shared by PQ sizing + kmeans sampling
    quantized = bool(p.get("quantization"))

    def _train_quant() -> dict | None:
        """The index-GLOBAL codes descriptor: codes from different shards
        must decode to comparable distances for the cross-shard top-k
        merge, and the reference quantizes per index
        (rust_lib/src/provider.rs:157-230).  OPQ learns one index-global
        rotation with the codebooks; shards encode x @ R, every decode
        applies R^T."""
        return quant.train(meta, art, n=n_total) if quantized else None

    def _train_centroids() -> np.ndarray:
        # SPANN-style clustered shards: rows go to their nearest
        # centroid's shard; search can then prune to the nprobe_shards
        # closest shards.  Lloyd loop off-driver (r10) — same GIL
        # rationale as the quantization trainers.
        from duckdb_annsearch_spark.index.ivf import _train_kmeans
        from duckdb_annsearch_spark.index.remote import run_remote

        cap = max(shards * 256, 10_000)
        sample_df = art
        if n_total > cap:
            # modular stride filter, not an IN (label, ...) literal list:
            # at 10^10 rows the list would be ~10k parsed literals per
            # plan; ceil keeps the match count <= cap deterministically
            stride = max(1, -(-n_total // cap))
            sample_df = art.where((F.col("label") % stride) == 0)
        sample = np.asarray(
            [r["vector"] for r in sample_df.select("vector").collect()],
            dtype=np.float32,
        )
        return run_remote(spark, _train_kmeans, sample, shards, metric)

    centroids = None
    if by == "kmeans":
        n_total = art.count()
    if quantized and by == "kmeans":
        # overlap the two independent training phases (r10, guide §2.6):
        # quant stats/codebooks and the shard centroids both derive from
        # `art` alone and ran back to back — fork the quant branch onto a
        # driver thread (propagating the caller's FAIR pool/label, both
        # thread-local) while the kmeans sample collects and trains.  The
        # count first also materializes art's label checkpoint ONCE so
        # the two branches read the same blocks.
        from concurrent.futures import ThreadPoolExecutor

        sc = spark.sparkContext
        pool = sc.getLocalProperty("spark.scheduler.pool")
        desc = sc.getLocalProperty("spark.job.description")

        def _quant_in_thread():
            sc.setLocalProperty("spark.scheduler.pool", pool)
            sc.setJobDescription(desc)
            return _train_quant()

        with ThreadPoolExecutor(1) as ex:
            fut = ex.submit(_quant_in_thread)
            centroids = _train_centroids()
            dq = fut.result()
    else:
        dq = _train_quant()
        if by == "kmeans":
            centroids = _train_centroids()
    if centroids is not None:
        cent, dim_ = centroids, meta.dim

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from duckdb_annsearch_spark.index import kernels

            for pdf in batches:
                x = kernels.stack_vectors(pdf["vector"], dim_)
                d = kernels.pairwise_distances(cent, x, metric)
                pdf = pdf.copy()
                pdf["shard"] = np.argmin(d, axis=0).astype(np.int32)
                yield pdf[["shard", "label", "row_id", "vector"]]

        sharded = art.mapInPandas(
            assign, "shard int, label int, row_id long, vector array<float>"
        )
    elif by == "hash":
        shard_col = F.pmod(F.col("label"), F.lit(shards)).cast("int").alias("shard")
        sharded = art.select(shard_col, "label", "row_id", "vector")
    else:
        raise ValueError(f"unknown shard assignment {by!r} (hash | kmeans)")

    def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["shard"].iloc[0])
        pdf = pdf.sort_values("label").reset_index(drop=True)
        x = np.asarray([np.asarray(v, dtype=np.float32) for v in pdf["vector"]])
        g = build_vamana(x, metric, max_degree, build_L, alpha)
        from duckdb_annsearch_spark.index.vamana import prune_to_degree

        prune_to_degree(g, max_degree, alpha)
        glabels = pdf["label"].to_numpy(np.int64)
        cols = {
            "shard": np.full(len(pdf), sid, dtype=np.int32),
            "label": glabels.astype(np.int32),
            "row_id": pdf["row_id"].to_numpy(np.int64),
            "vector": [x[i] for i in range(len(pdf))],
            # neighbors as global labels (within-shard only)
            "neighbors": [
                glabels[g.neighbors[i]].astype(np.int32) for i in range(len(pdf))
            ],
            "entry": np.full(len(pdf), int(glabels[g.entry_point]), dtype=np.int32),
        }
        if dq is not None:
            # per-shard codes under the GLOBAL descriptor (shipped in the
            # task closure, tens of KiB at most)
            q = quant.encode(x, dq)
            cols["codes"] = [q[i].tobytes() for i in range(len(pdf))]
        return pd.DataFrame(cols)

    out_schema = SHARD_SCHEMA + (", codes binary" if quantized else "")
    built = sharded.groupBy("shard").applyInPandas(build_shard, out_schema)
    path = catalog.data_path(meta.name)
    from duckdb_annsearch_spark.session import job_label

    with job_label(
        spark.sparkContext, f"{meta.name}: shard builds + write"
    ):
        built.write.mode("overwrite").partitionBy("shard").parquet(path)

    # entries AND the total row count in ONE job (r9: these were a
    # distinct-collect plus a separate full count — two passes over the
    # written artifact); grouping on (shard, entry) is equivalent because
    # entry is constant within a shard by construction
    shard_rows = (
        catalog.read_parquet(path)
        .groupBy("shard", "entry")
        .agg(F.count("*").alias("cnt"))
        .collect()
    )
    entries = {int(r["shard"]): int(r["entry"]) for r in shard_rows}
    n = int(sum(r["cnt"] for r in shard_rows))
    side = {"metric": metric, "shards": entries, "entry_point": 0}
    # codebooks/rotation land as npy files in the artifact root (the shard
    # sidecar post-pass and every shard load read them from there); the
    # JSON sidecar carries the described keys only
    side.update(quant.save(path, meta, dq))
    with open(os.path.join(path, "_graph_meta.json"), "w") as f:
        json.dump(side, f)

    if metric in ("l2", "ip"):
        # mmap sidecar post-pass: one task per shard writes the shard's DANN
        # binary (_graph.diskann, local-remapped adjacency) + _row_ids.bin,
        # so serving pages the shard off disk instead of materializing it
        # per worker. Plain-file writes — on storage where that can't work
        # (object store), the loader just falls back to the parquet path.
        shard_list = sorted(entries)
        md_, bl_, pth_, metric_ = max_degree, build_L, path, metric

        def _sidecars(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from duckdb_annsearch_spark.index.graph import write_shard_binary

            for pdf in batches:
                for sid in pdf["shard"]:
                    ok = True
                    try:
                        write_shard_binary(
                            os.path.join(pth_, f"shard={int(sid)}"), metric_, md_, bl_
                        )
                    except Exception:
                        ok = False
                    yield pd.DataFrame({"shard": [int(sid)], "ok": [ok]})

        sdf = spark.createDataFrame([(int(s),) for s in shard_list], "shard int")
        sdf.repartition(len(shard_list), "shard").mapInPandas(
            _sidecars, "shard int, ok boolean"
        ).count()

    meta.extra["shards"] = shards
    meta.extra["shard_ids"] = sorted(entries)
    if centroids is not None:
        # kmeans may collapse to fewer distinct shards than requested
        meta.extra["shards"] = int(centroids.shape[0])
        meta.extra["shard_centroids"] = centroids.tolist()
    meta.num_vectors = n
    catalog.save(meta)
    return {"num_vectors": n, "dimension": meta.dim, "shards": meta.extra["shards"]}


def default_sample_size(n: int) -> int:
    """max(sqrt(N), 1000) — streaming_build.rs:60-66."""
    return min(n, max(int(math.sqrt(n)), 1000))


def streaming_build(
    catalog: Catalog,
    meta: IndexMeta,
    df: DataFrame,
    row_id_col: str,
    vector_col: str,
    sample_size: int | None = None,
    partition_rows: int = DEFAULT_PARTITION_ROWS,
) -> dict:
    p = meta.params
    max_degree = int(p.get("max_degree", DEFAULT_MAX_DEGREE))
    build_L = int(p.get("build_complexity", DEFAULT_BUILD_COMPLEXITY))
    alpha = float(p.get("alpha", DEFAULT_ALPHA))
    metric = meta.metric
    dim = meta.dim
    spark = catalog.spark

    art = with_labels(df, row_id_col, vector_col).persist()
    n = art.count()
    m = sample_size or default_sample_size(n)
    m = min(m, n)

    # ---- pass 1: deterministic stride sample -> driver pilot build.
    # The pilot membership is a broadcast semi-join against a small labels
    # DataFrame, NOT an IN (...) literal list: at 100M rows the list is
    # ~10k literals inlined into every plan that references it (the
    # filter here AND the anti-join below) — parser-hostile and
    # re-serialized per stage.
    stride = n / m
    pilot_labels = sorted({min(int(i * stride), n - 1) for i in range(m)})
    # one slice, not defaultParallelism slices: this tiny local relation
    # only feeds a broadcast — 32 near-empty tasks per consuming job
    # otherwise (r9 job profile)
    labels_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(int(l),) for l in pilot_labels], 1
        ),
        "label int",
    )
    from duckdb_annsearch_spark.session import job_label

    with job_label(spark.sparkContext, f"{meta.name}: pilot sample collect"):
        # sort the collected sample on the driver: a global orderBy of the
        # pilot rows added a range exchange + sort stage for a relation
        # that is about to be collect()ed anyway (pilot is O(sqrt N) rows
        # by construction — driver-resident by design)
        pilot_rows = sorted(
            art.join(F.broadcast(labels_df), "label").collect(),
            key=lambda r: r["label"],
        )
    pilot_global = np.asarray([r["label"] for r in pilot_rows], dtype=np.int64)
    pilot_vecs = np.asarray([r["vector"] for r in pilot_rows], dtype=np.float32)
    pilot_rowids = np.asarray([r["row_id"] for r in pilot_rows], dtype=np.int64)
    # pilot build + occlusion-order prune of the 1.3x backedge slack (must
    # happen BEFORE the pilot is written or broadcast — truncation would
    # drop edges in recency order) run in ONE Spark task, not on the
    # driver: the Python-loop-heavy insert rounds otherwise hold the
    # driver GIL and serialize concurrent index builds (index/remote.py)
    from duckdb_annsearch_spark.index.remote import run_remote
    from duckdb_annsearch_spark.index.vamana import build_pruned_adjacency

    pilot_neighbors, pilot_entry = run_remote(
        spark, build_pruned_adjacency,
        pilot_vecs, metric, max_degree, build_L, alpha, True,
    )
    entry_global = int(pilot_global[pilot_entry])

    pilot_df = spark.createDataFrame(
        pd.DataFrame(
            {
                # Python lists, not numpy arrays: a session without the Arrow
                # conf routes createDataFrame through the row-at-a-time type
                # verifier, which rejects np.float32/np.int32 elements inside
                # object columns (round-1 driver failure mode)
                "label": [int(x) for x in pilot_global],
                "row_id": [int(x) for x in pilot_rowids],
                "vector": [pilot_vecs[i].tolist() for i in range(len(pilot_global))],
                "neighbors": [
                    [int(x) for x in pilot_global[pilot_neighbors[i]]]
                    for i in range(len(pilot_global))
                ],
                "is_patch": [False] * len(pilot_global),
            }
        ),
        VERTEX_SCHEMA,
    )

    rest = art.join(F.broadcast(labels_df), "label", "left_anti")
    n_rest = n - len(pilot_global)
    # the pilot adjacency as ONE padded int64 matrix: pickling a single
    # array is far cheaper than a python list of per-node arrays (paid
    # once per executor worker); shared by the insert pass AND the patch
    # merge (base edges)
    packed = pad_neighbors(
        [pilot_neighbors[i] for i in range(len(pilot_global))], max_degree
    ) if len(pilot_global) else np.zeros((0, max_degree), dtype=np.int64)
    if n_rest > 0:
        # ---- pass 2: partition-parallel streaming inserts against the pilot
        bc = spark.sparkContext.broadcast(
            (pilot_vecs, packed, pilot_global, pilot_entry)
        )
        # partition count derives from partition_rows ALONE (r9): the old
        # defaultParallelism floor blew a 4-partition toy insert up to 32
        # tasks, each paying the full pilot-graph copy + Python insert
        # rounds for ~30 rows (8x the fixed cost, measured 2.8 s/job
        # solo); at real scale ceil(n/partition_rows) exceeds any core
        # count and the floor never fired anyway.  partition_rows is the
        # documented parallelism/memory knob (reference parity: 50k).
        n_parts = max(1, min(2048, -(-n_rest // partition_rows)))

        def insert_partition(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            from duckdb_annsearch_spark.index.vamana import batched_insert

            pv, pn_packed, pglobal, entry_local = bc.value
            pdfs = [b for b in batches if len(b)]
            if not pdfs:
                return
            part = pd.concat(pdfs, ignore_index=True)
            local_vecs = np.asarray(
                [np.asarray(v, dtype=np.float32) for v in part["vector"]]
            )
            npilot, nlocal = pv.shape[0], len(part)
            x = np.vstack([pv, local_vecs])
            slack = int(max_degree * 1.3)
            ntot = npilot + nlocal
            # one padded adjacency buffer: pilot rows preloaded, local rows
            # empty; batched_insert runs the lock-step insert rounds over it
            nbr_buf = np.full((ntot, slack + 1), -1, dtype=np.int32)
            nbr_buf[:npilot, : pn_packed.shape[1]] = pn_packed
            deg = np.zeros(ntot, dtype=np.int32)
            deg[:npilot] = (pn_packed != -1).sum(axis=1)
            touched_pilot = batched_insert(
                x, nbr_buf, deg, entry_local, metric,
                np.arange(npilot, ntot, dtype=np.int64),
                max_degree, build_L, alpha,
                start_size=npilot, touched_below=npilot,
            )

            def to_global(positions: np.ndarray) -> np.ndarray:
                out = np.empty(len(positions), dtype=np.int64)
                for j, q in enumerate(positions):
                    out[j] = pglobal[q] if q < npilot else int(
                        part["label"].iloc[q - npilot]
                    )
                return out

            rows = {
                "label": part["label"].to_numpy(np.int32),
                "row_id": part["row_id"].to_numpy(np.int64),
                "vector": [local_vecs[i] for i in range(nlocal)],
                "neighbors": [
                    to_global(
                        nbr_buf[npilot + i, : deg[npilot + i]].astype(np.int64)
                    ).astype(np.int32)
                    for i in range(nlocal)
                ],
                "is_patch": [False] * nlocal,
                "nbr_vecs": [None] * nlocal,
            }
            yield pd.DataFrame(rows)
            if touched_pilot:
                tp = sorted(touched_pilot)
                # attach the vectors of non-pilot neighbors (positions >=
                # npilot are this partition's own rows — their vectors are
                # local); pilot neighbors carry None, the merge resolves
                # them from the pilot broadcast
                yield pd.DataFrame(
                    {
                        "label": [int(pglobal[q]) for q in tp],
                        "row_id": [-1] * len(tp),
                        "vector": [None] * len(tp),
                        "neighbors": [
                            to_global(
                                nbr_buf[q, : deg[q]].astype(np.int64)
                            ).astype(np.int32)
                            for q in tp
                        ],
                        "is_patch": [True] * len(tp),
                        "nbr_vecs": [
                            [
                                (x[p] if p >= npilot else None)
                                for p in nbr_buf[q, : deg[q]]
                            ]
                            for q in tp
                        ],
                    }
                )

        # eager materialization, ONE pass (r10): the write action below is
        # one query whose independent AQE stage jobs (patch groupBy, final
        # union scan) would otherwise race to first-touch a lazy cache and
        # each re-run the insert pass — profiled as 3 concurrent ~2.8 s
        # duplicate jobs at sf0.1.  localCheckpoint also truncates the
        # lineage under the write.
        with job_label(
            spark.sparkContext, f"{meta.name}: partition inserts"
        ):
            inserted = rest.repartition(n_parts).mapInPandas(
                insert_partition, INSERT_SCHEMA
            ).localCheckpoint(eager=True)
    else:
        inserted = spark.createDataFrame([], INSERT_SCHEMA)

    # ---- merge: pilot adjacency = RobustPrune(base ∪ patches) per node.
    # ONE groupBy over the patch rows (label, neighbors, nbr_vecs) — the
    # base edges and every pilot vector come from the insert broadcast, and
    # non-pilot neighbor vectors arrive attached to the patch, so no edge
    # explode, no distinct, no join against the vertex relation (r10; the
    # r9 shape shuffled every candidate edge + its vector through three
    # extra exchanges).  Untouched pilots keep their build adjacency
    # verbatim (already <= max_degree by construction — re-pruning an
    # unpatched list could only drop edges, a pure recall loss).
    locals_df = inserted.where(~F.col("is_patch"))
    patches = inserted.where(F.col("is_patch")).select(
        "label", "neighbors", "nbr_vecs"
    )

    cand_g = patches.groupBy("label").agg(
        F.collect_list(F.struct("neighbors", "nbr_vecs")).alias("patches")
    )

    bc_pilot = spark.sparkContext.broadcast((pilot_vecs, packed, pilot_global))

    def prune_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pv, base, pglobal = bc_pilot.value
        pos = {int(l): i for i, l in enumerate(pglobal)}
        for pdf in batches:
            labels, out_nb = [], []
            for i in range(len(pdf)):
                src = int(pdf["label"].iloc[i])
                sp = pos[src]
                vec_of: dict[int, np.ndarray] = {}
                cands_set: set[int] = set()
                b = base[sp]
                for lb in b[b != NO_NEIGHBOR]:
                    cands_set.add(int(pglobal[lb]))
                for patch in pdf["patches"].iloc[i]:
                    nbrs, nvecs = patch["neighbors"], patch["nbr_vecs"]
                    for j, dst in enumerate(nbrs):
                        dst = int(dst)
                        cands_set.add(dst)
                        v = nvecs[j]
                        if v is not None and dst not in vec_of:
                            vec_of[dst] = np.asarray(v, dtype=np.float32)
                cands = np.fromiter(sorted(cands_set), dtype=np.int64)
                vecs = np.asarray(
                    [
                        vec_of[d] if d in vec_of else pv[pos[d]]
                        for d in cands
                    ],
                    dtype=np.float32,
                )
                d = _dists(metric, vecs, pv[sp])
                local_ids = np.arange(len(cands), dtype=np.int64)
                keep = robust_prune(-1, local_ids, d, vecs, alpha, max_degree, metric)
                labels.append(src)
                out_nb.append(cands[keep].astype(np.int32))
            if labels:
                yield pd.DataFrame({"label": labels, "neighbors": out_nb})

    pruned = cand_g.mapInPandas(prune_batch, "label int, neighbors array<int>")
    pilot_final = pilot_df.withColumnRenamed("neighbors", "__base").join(
        pruned, "label", "left"
    ).select(
        "label",
        "row_id",
        "vector",
        F.coalesce("neighbors", "__base").alias("neighbors"),
    )

    final = locals_df.select("label", "row_id", "vector", "neighbors").unionByName(
        pilot_final
    )
    persisted_pre_codes = dq = None
    if p.get("quantization"):
        # keep a handle on the frame that is actually cached: rebinding
        # `final` to the codes projection would otherwise make the
        # unpersist below a no-op and pin the pre-codes frame forever
        persisted_pre_codes = final.persist()
        final, dq = quant.quantize(meta, persisted_pre_codes)
    path = catalog.data_path(meta.name)
    with job_label(spark.sparkContext, f"{meta.name}: patch merge + write"):
        final.write.mode("overwrite").parquet(path)
    side = {"entry_point": entry_global, "metric": metric}
    side.update(quant.save(path, meta, dq))
    with open(os.path.join(path, "_graph_meta.json"), "w") as f:
        json.dump(side, f)

    # `inserted` is a local checkpoint: its blocks are released by the
    # ContextCleaner once the frame goes out of scope (no unpersist hook)
    art.unpersist()
    if persisted_pre_codes is not None:
        persisted_pre_codes.unpersist()
    meta.extra["entry_point"] = entry_global
    meta.extra["sample_size"] = len(pilot_global)
    meta.num_vectors = n
    catalog.save(meta)
    return {"num_vectors": n, "dimension": dim, "sample_size": len(pilot_global)}
