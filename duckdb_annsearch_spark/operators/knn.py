"""k-NN join: every left row -> its k nearest right rows.

The reference reaches this shape via LATERAL per-row top-k
(``/root/reference/bench/metal_diskann_bench.sql:30-37``) and the batched
brute-force GPU path (SURVEY §2.3 R8).  Spark-first rendering: broadcast
the smaller (right) side as a numpy matrix and GEMM it against each left
partition — per-partition batched top-k, no crossJoin row explosion, no
shuffle beyond the final per-query merge (none needed: each left row's
top-k is complete within its own task).

A right side above ``max_broadcast_rows`` never reaches the driver: the
join auto-routes to a temp Flat index + the query-distributed artifact
probe (``BaseIndex.search_batch_df``) — still exact, each task streams the
artifact for its own slice of left rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_annsearch_spark.index import kernels

# right-side rows above which the broadcast-GEMM path would be a driver
# OOM hazard; same cap-plus-route discipline as dedup.max_exact_rows and
# engine.driver_build_max_rows
DEFAULT_MAX_BROADCAST_ROWS = 500_000

# engine -> [(table, index)] temp artifacts created by THIS module's routed
# path. Tracking our own creations (instead of globbing the caller's
# catalog for __knn_* names) means a user artifact that happens to share
# the prefix is never touched, and cleanup_knn_artifacts() gives callers
# an explicit hook instead of relying on drop-at-next-call.
import weakref

_TEMP_ARTIFACTS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def cleanup_knn_artifacts(engine) -> int:
    """Drop every temp table/index a prior ``knn_join(engine=...)`` routed
    call registered on ``engine``; returns how many were dropped. Safe to
    call once all earlier knn_join result DataFrames are consumed."""
    pairs = _TEMP_ARTIFACTS.pop(engine, [])
    for tbl, idx in pairs:
        try:
            engine.drop_index(idx, if_exists=True)
        except Exception:
            pass
        try:
            if tbl in engine._tables:
                engine.unregister_table(tbl)
        except Exception:
            pass
    return len(pairs)


def _knn_join_indexed(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_vec: str,
    right_id: str,
    right_vec: str,
    k: int,
    metric: str,
    engine=None,
) -> DataFrame:
    """Scale path: temp Flat index on the right side (distributed build, no
    driver materialization) + query-distributed exact probe. Same output
    contract as the broadcast path: k rows per left ROW, also when two
    rows share a ``left_id``.

    Artifact lifecycle: with ``engine=None`` the temp workdir is removed at
    process exit (atexit); with ``engine=`` passed, the temp entries THIS
    module registered on that engine in previous knn_join calls are
    dropped before new ones are created (tracked per-engine — a user
    artifact sharing the ``__knn_`` prefix is never touched), so repeated
    calls hold at most one temp artifact in the caller's catalog. The
    returned DataFrame still reads its artifact lazily, which is why
    cleanup cannot run at return time; callers wanting eager cleanup use
    :func:`cleanup_knn_artifacts` after consuming the result."""
    import atexit
    import shutil
    import tempfile
    import uuid

    from duckdb_annsearch_spark.engine import AnnEngine

    if engine is None:
        wd = tempfile.mkdtemp(prefix="knn_join_")
        atexit.register(shutil.rmtree, wd, ignore_errors=True)
        eng = AnnEngine(left.sparkSession, workdir=wd)
    else:
        eng = engine
        cleanup_knn_artifacts(eng)
    from pyspark.sql import types as T

    # the broadcast path fails loudly on non-numeric right ids (np int64
    # cast); a silent .cast('long') here would instead NULL every id —
    # keep the two routes' failure modes aligned
    rid_type = right.schema[right_id].dataType
    if not isinstance(
        rid_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            f"knn_join above max_broadcast_rows requires an integral right id "
            f"column; {right_id!r} is {rid_type.simpleString()}"
        )
    tag = uuid.uuid4().hex[:8]
    tbl, idx = f"__knn_right_{tag}", f"__knn_rix_{tag}"
    rbase = right.select(
        F.col(right_id).cast("long").alias("__rid"),
        F.col(right_vec).cast("array<float>").alias("__rvec"),
    )
    eng.register_table(tbl, rbase, row_id="__rid")
    eng.create_index(idx, tbl, "__rvec", engine="faiss", index_type="Flat", metric=metric)
    if engine is not None:
        _TEMP_ARTIFACTS.setdefault(eng, []).append((tbl, idx))
    out_r = right_id if right_id != left_id else f"r_{right_id}"
    # one query per left ROW (two rows may share an id); the lazy
    # localCheckpoint pins the partition-dependent tag for both consumers
    tagged = left.select(
        F.col(left_id).alias("__lid"),
        F.col(left_vec).cast("array<float>").alias("query"),
        F.monotonically_increasing_id().alias("query_idx"),
    ).localCheckpoint(eager=False)
    hits = eng.get_index(idx).search_batch_df(tagged.select("query_idx", "query"), k)
    # the hits carry the right ids: join back to the tags only, in the
    # broadcast path's per-query (distance, id) ascending order
    return (
        tagged.select("query_idx", "__lid")
        .join(hits, "query_idx")
        .select(F.col("__lid").alias(left_id), F.col("row_id").alias(out_r), "_distance")
        .orderBy(F.col(left_id).asc(), F.col("_distance").asc(), F.col(out_r).asc())
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_vec: str,
    right_id: str,
    right_vec: str,
    k: int,
    metric: str = "l2",
    max_broadcast_rows: int = DEFAULT_MAX_BROADCAST_ROWS,
    engine=None,
) -> DataFrame:
    """(left_id, right_id, _distance) — exact k nearest right rows per left
    row; each left id's rows are ascending by (distance, right id), global
    row order unspecified. NULL / wrong-dimension left vectors produce no
    output rows (the engine's query contract, ``search_batch_df``); an
    empty or ragged right side is a driver-side error, not an executor
    crash.

    Right sides above ``max_broadcast_rows`` auto-route to
    :func:`_knn_join_indexed` (temp Flat index + distributed probe) instead
    of collecting to the driver; pass ``None`` to disable the gate.
    NOTE when passing ``engine=`` on the routed path: each call drops the
    PREVIOUS call's temp index artifacts (only those this module created —
    tracked per engine), so consume (collect/write) one knn_join result
    before issuing the next through the same engine — an unconsumed
    earlier DataFrame lazily references the dropped files. For eager
    cleanup after consuming, call :func:`cleanup_knn_artifacts`."""
    from duckdb_annsearch_spark.shipping import ensure_shipped

    ensure_shipped(left.sparkSession)  # probe closure imports the package
    if max_broadcast_rows is not None:
        # ONE job both gates and collects: limit(cap+1) touches at most
        # cap+1 rows, and when the right side is under the cap these are
        # exactly the rows the broadcast path needs — no second execution
        # of the right side's lineage for the gate
        cap = int(max_broadcast_rows)
        rows = right.select(right_id, right_vec).limit(cap + 1).collect()
        if len(rows) > cap:
            return _knn_join_indexed(
                left, right, left_id, left_vec, right_id, right_vec,
                k, metric, engine,
            )
    else:
        rows = right.select(right_id, right_vec).collect()
    vecs = [r[1] for r in rows]
    if not rows:
        raise ValueError("knn_join: right side has no rows")
    dims = {len(v) for v in vecs if v is not None}
    if not dims:
        raise ValueError("knn_join: right side has only NULL vectors")
    if len(dims) != 1:
        raise ValueError(
            f"knn_join: right vectors must share one dimension, found {sorted(dims)}"
        )
    (dim,) = dims
    keep = [i for i, v in enumerate(vecs) if v is not None and len(v) == dim]
    rid = np.asarray([rows[i][0] for i in keep], dtype=np.int64)
    mat = np.asarray([vecs[i] for i in keep], dtype=np.float32)
    bc = left.sparkSession.sparkContext.broadcast((rid, mat))

    out_l, out_r = f"{left_id}", "__rid"
    left_id_type = left.schema[left_id].dataType.simpleString()

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rids, m = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ok = pdf[left_vec].map(lambda v: v is not None and len(v) == dim)
            pdf = pdf[ok]
            if len(pdf) == 0:
                continue
            q = kernels.stack_vectors(pdf[left_vec], dim)
            d = kernels.pairwise_distances(q, m, metric)
            outs = []
            for i in range(d.shape[0]):
                sel = kernels.local_topk(d[i], k, ids=rids)
                outs.append(
                    pd.DataFrame(
                        {
                            out_l: np.full(len(sel), pdf[left_id].iloc[i]),
                            out_r: rids[sel],
                            "_distance": d[i, sel],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    res = left.select(left_id, left_vec).mapInPandas(
        probe, f"{out_l} {left_id_type}, {out_r} long, _distance float"
    )
    return res.withColumnRenamed(out_r, right_id if right_id != left_id else f"r_{right_id}")
