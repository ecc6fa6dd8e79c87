"""Single-query serving plans: one ``ann_search`` cuts its hits with a
limit-sort (``TakeOrderedAndProject``), not a per-query window behind a
hash exchange plus a range-partitioned global sort, and the rows stay the
ones the batch (window) plan picks, ties included."""

import os

import numpy as np
import pytest
from pyspark.sql import types as T

from tests.conftest import job_count

DIM = 8
N = 400
K = 10

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("emb", T.ArrayType(T.FloatType(), False), True),
    ]
)

# (name, create_index kwargs, ann_search kwargs)
INDEXES = [
    ("sq_flat", dict(engine="faiss", index_type="Flat"), {}),
    ("sq_ivf", dict(engine="faiss", index_type="IVFFlat", ivf_nlist=8, nprobe=4), {}),
    (
        "sq_sq8",
        dict(engine="faiss", index_type="Flat", quantization="sq8"),
        dict(rerank=True),
    ),
    ("sq_graph", dict(engine="diskann"), {}),
]


def _vectors(seed=0):
    """N rows whose vectors repeat in groups of four (ids 4j..4j+3 share a
    vector), so every k-cut falls inside a group of exact distance ties."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((N // 4, DIM)).astype(np.float32)
    return np.repeat(base, 4, axis=0)


def _register(engine, x):
    df = engine.spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(len(x))], SCHEMA
    )
    engine.register_table("sq", df, row_id="id")


def _brute(x, ids, q, k):
    d = ((x - np.asarray(q, dtype=np.float32)) ** 2).sum(axis=1)
    order = sorted(range(len(ids)), key=lambda i: (d[i], ids[i]))[:k]
    return [int(ids[i]) for i in order], [float(d[i]) for i in order]


def test_single_query_plan_and_job_budget(engine):
    spark = engine.spark
    x = _vectors()
    _register(engine, x)
    for name, kw, _ in INDEXES:
        engine.create_index(name, "sq", "emb", **kw)
    # reading an artifact passes its footer schema: no Spark job, also on
    # an IVF artifact at the 32 cell directories Spark still lists serially
    engine.create_index(
        "sq_ivf32", "sq", "emb", engine="faiss", index_type="IVFFlat", ivf_nlist=32
    )
    cells = os.listdir(engine.catalog.data_path("sq_ivf32"))
    assert sum(c.startswith("cluster_id=") for c in cells) == 32
    for name in ("sq_flat", "sq_ivf32"):
        with job_count(spark) as jobs:
            engine.get_index(name).artifact()
        assert jobs[0] == 0, name
    q = (x[41] + 0.01).tolist()

    def search_all(budget):
        out = {}
        for name, _, skw in INDEXES:
            with job_count(spark) as jobs:
                df = engine.ann_search("sq", name, q, k=K, **skw)
                rows = df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Window" not in plan, (name, plan)
            assert "rangepartitioning" not in plan, (name, plan)
            limit = budget(name)
            assert jobs[0] <= limit, (name, jobs[0], limit)
            assert len(rows) == K, name
            out[name] = rows
        return out

    got = search_all(lambda name: 2)
    ids, dist = _brute(x, np.arange(N), q, K)
    assert [r["id"] for r in got["sq_flat"]] == ids
    np.testing.assert_allclose(
        [r["_distance"] for r in got["sq_flat"]], dist, rtol=1e-5, atol=1e-6
    )

    new = (x[41] + 0.005).astype(np.float32)
    engine.insert(
        "sq", spark.createDataFrame([(N, new.tolist())], SCHEMA)
    )
    gone = ids[:3]
    engine.delete("sq", gone)
    got = search_all(lambda name: 4)
    live = [i for i in range(N + 1) if i not in gone]
    xs = np.vstack([x, new[None, :]])[live]
    ids, dist = _brute(xs, np.asarray(live), q, K)
    assert [r["id"] for r in got["sq_flat"]] == ids
    np.testing.assert_allclose(
        [r["_distance"] for r in got["sq_flat"]], dist, rtol=1e-5, atol=1e-6
    )


INDEX_TYPES = INDEXES + [
    ("sq_sq8_codes", dict(engine="faiss", index_type="Flat", quantization="sq8"), {}),
    ("sq_hnsw", dict(engine="faiss", index_type="HNSW"), {}),
]


@pytest.mark.parametrize(
    "name,kw,skw", INDEX_TYPES, ids=[n for n, _, _ in INDEX_TYPES]
)
def test_single_query_matches_batch(engine, name, kw, skw):
    """One query through ``ann_search`` (limit-sort) and through
    ``ann_search_batch`` — alone (also one query) and beside a second query
    (per-query window) — returns the same (id, _distance) rows.  Beside a
    second query the distance GEMM has another shape, so its distances may
    round differently in the last bits; the ids must still match."""
    x = _vectors(seed=1)
    _register(engine, x)
    engine.create_index(name, "sq", "emb", **kw)
    q = x[42].tolist()  # ids 40..43 tie at distance 0
    other = x[300].tolist()

    def pairs(rows):
        return [(r["id"], r["_distance"]) for r in rows]

    single = pairs(engine.ann_search("sq", name, q, k=K, **skw).collect())
    assert len(single) == K
    alone = pairs(engine.ann_search_batch("sq", name, [q], k=K, **skw).collect())
    batch = engine.ann_search_batch("sq", name, [q, other], k=K, **skw).collect()
    assert alone == single
    paired = pairs(r for r in batch if r["query_idx"] == 0)
    assert [i for i, _ in paired] == [i for i, _ in single]
    np.testing.assert_allclose(
        [d for _, d in paired], [d for _, d in single], rtol=1e-5, atol=1e-5
    )
