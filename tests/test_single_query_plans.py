"""Serving plans at the single-query job floor: one ``ann_search`` cuts
its hits with a limit-sort (``TakeOrderedAndProject``), not a per-query
window behind a hash exchange plus a range-partitioned global sort, and
the rows stay the ones the batch (window) plan picks, ties included.
``ann_search_batch`` fetches through the same broadcast join and ends in
one limit-sort too; every probe drops tombstoned ids inside its closure,
so a search after writes pays no anti-join job, however many writes came
before."""

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


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


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
            plan = _plan(df)
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
    got = search_all(lambda name: 3)
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


@pytest.mark.parametrize("nq", [2, 16])
def test_batch_plan_and_job_budget(engine, nq):
    """``ann_search_batch`` has no range-partitioned sort in its executed
    plan, a read-only batch submits at most 3 jobs (the probe's window
    exchange, the hits broadcast, the collect), Flat rows equal numpy
    brute force per query, ties at the k-cut included, and SQ8 with
    rerank returns each id's true distance."""
    spark = engine.spark
    x = _vectors()
    _register(engine, x)
    rng = np.random.default_rng(nq)
    qs = [(x[i] + 0.01).tolist() for i in rng.choice(N, nq, replace=False)]
    for name, kw, skw in INDEXES:
        engine.create_index(name, "sq", "emb", **kw)
        with job_count(spark) as jobs:
            df = engine.ann_search_batch("sq", name, qs, k=K, **skw)
            rows = df.collect()
        assert "rangepartitioning" not in _plan(df), (name, _plan(df))
        if not skw:
            assert jobs[0] <= 3, (name, jobs[0])
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["query_idx"], []).append(r)
        assert sorted(got) == list(range(nq)), name
        for j, q in enumerate(qs):
            hits = got[j]
            assert len(hits) == K, (name, j)
            keys = [(r["_distance"], r["id"]) for r in hits]
            assert keys == sorted(keys), (name, j)
            if name == "sq_flat":
                ids = _brute(x, np.arange(N), q, K)[0]
                assert [r["id"] for r in hits] == ids, (name, j)
            if name in ("sq_flat", "sq_sq8"):  # exact, or exactly re-scored
                true = [
                    float(((x[r["id"]] - np.float32(q)) ** 2).sum()) for r in hits
                ]
                np.testing.assert_allclose(
                    [r["_distance"] for r in hits], true, rtol=1e-5, atol=1e-5
                )


# (name, create_index kwargs, ann_search kwargs): one of each probe route
# that filters tombstones in its closure
TOMBSTONE_INDEXES = [
    ("t_flat", dict(engine="faiss", index_type="Flat"), {}),
    ("t_ivf", dict(engine="faiss", index_type="IVFFlat", ivf_nlist=8, nprobe=8), {}),
    # ADC route of the IVF cell probe (nq <= kernels.ADC_MAX_NQ)
    ("t_ivfpq", dict(engine="faiss", description="IVF4,PQ4", nprobe=4), {}),
    # ADC route of kernels.probe_partitions
    ("t_pq", dict(engine="faiss", description="PQ4"), {}),
    (
        "t_sq8",
        dict(engine="faiss", index_type="Flat", quantization="sq8"),
        dict(rerank=True),
    ),
    ("t_graph", dict(engine="diskann"), {}),
]


def test_tombstones_filtered_inside_every_probe(engine):
    """A deleted artifact row and a deleted delta row — each the query's
    nearest — appear in no ``ann_search`` or ``ann_search_batch`` result
    on any probe route, and a fresh single query submits at most 3 jobs:
    the hits broadcast, the broadcast of the deleted ids in the table view
    and the collect, with no tombstone anti-join."""
    spark = engine.spark
    rng = np.random.default_rng(7)
    x = rng.standard_normal((N, DIM)).astype(np.float32)
    _register(engine, x)
    for name, kw, _ in TOMBSTONE_INDEXES:
        engine.create_index(name, "sq", "emb", **kw)
    q = x[41]
    new = (q + rng.normal(0, 1e-3, (3, DIM))).astype(np.float32)
    engine.insert(
        "sq",
        spark.createDataFrame(
            [(N + i, v.tolist()) for i, v in enumerate(new)], SCHEMA
        ),
    )
    gone = {41, N}  # one artifact row, one delta row
    engine.delete("sq", sorted(gone))
    other = x[300].tolist()
    for name, _, skw in TOMBSTONE_INDEXES:
        with job_count(spark) as jobs:
            single = engine.ann_search("sq", name, q.tolist(), k=K, **skw).collect()
        assert jobs[0] <= 3, (name, jobs[0])
        batch = engine.ann_search_batch(
            "sq", name, [q.tolist(), other], k=K, **skw
        ).collect()
        for rows in (single, batch):
            ids = {r["id"] for r in rows}
            assert not ids & gone, (name, ids & gone)
            assert {N + 1, N + 2} <= ids, name  # the live delta rows
        assert len(single) == K and len(batch) == 2 * K, name


def test_fresh_search_jobs_stay_flat_over_write_rounds(engine):
    """Fresh single-query searches submit the same number of jobs after one
    and after three insert/delete rounds (the table view is one anti-join
    against every deleted id, not one per delete), and Flat rows equal
    numpy brute force over the live rows after each."""
    spark = engine.spark
    rng = np.random.default_rng(3)
    x = rng.standard_normal((N, DIM)).astype(np.float32)
    _register(engine, x)
    names = ["r_flat", "r_ivf", "r_graph"]
    engine.create_index("r_flat", "sq", "emb", engine="faiss", index_type="Flat")
    engine.create_index(
        "r_ivf", "sq", "emb", engine="faiss", index_type="IVFFlat",
        ivf_nlist=8, nprobe=4,
    )
    engine.create_index("r_graph", "sq", "emb", engine="diskann")
    live = dict(enumerate(x))
    q = (x[7] + 0.01).tolist()
    counts = []
    for rnd in range(3):
        ids = N + 5 * rnd + np.arange(5)
        new = (np.float32(q) + rng.normal(0, 0.05, (5, DIM))).astype(np.float32)
        engine.insert(
            "sq",
            spark.createDataFrame(
                [(int(i), v.tolist()) for i, v in zip(ids, new)], SCHEMA
            ),
        )
        live.update(zip(ids.tolist(), new))
        # the two nearest live rows (table or delta) and one random row
        lid = np.asarray(sorted(live))
        lx = np.stack([live[i] for i in lid])
        near = _brute(lx, lid, q, 2)[0]
        gone = near + [int(rng.choice(np.setdiff1d(lid, near)))]
        engine.delete("sq", gone)
        for i in gone:
            del live[i]
        if rnd == 1:
            continue
        per = {}
        for name in names:
            with job_count(spark) as jobs:
                rows = engine.ann_search("sq", name, q, k=K).collect()
            per[name] = jobs[0]
            assert not {r["id"] for r in rows} & set(gone), name
        counts.append(per)
        lid = np.asarray(sorted(live))
        want, dist = _brute(np.stack([live[i] for i in lid]), lid, q, K)
        got = engine.ann_search("sq", "r_flat", q, k=K).collect()
        assert [r["id"] for r in got] == want
        np.testing.assert_allclose(
            [r["_distance"] for r in got], dist, rtol=1e-5, atol=1e-5
        )
    assert counts[0] == counts[1], counts
    assert max(counts[0].values()) <= 3, counts
