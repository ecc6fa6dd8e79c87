"""Write-path counts come from the footers of the files each write adds,
not from Spark jobs that re-read them.  ``insert`` and ``delete`` submit
one job per index (the write itself), a tombstone write appends only ids
not already tombstoned (a list delete of nothing new submits no job), and
the counts keep their meanings:
``num_deleted`` is the number of distinct tombstoned ids, ``delta_rows``
the delta's row count and ``num_vectors`` the artifact's row count."""

import numpy as np

from tests.conftest import job_count

DIM = 4
N = 200
INDEXES = {
    "w_flat": dict(engine="faiss", index_type="Flat"),
    "w_ivf": dict(engine="faiss", index_type="IVFFlat", ivf_nlist=4, nprobe=4),
}


def _rows(spark, ids, seed):
    x = np.random.default_rng(seed).standard_normal((len(ids), DIM))
    return spark.createDataFrame(
        [(int(i), v.astype(np.float32).tolist()) for i, v in zip(ids, x)],
        "id long, emb array<float>",
    )


def _metas(engine):
    return {n: engine.get_index(n).meta for n in INDEXES}


def test_write_path_jobs_and_counts(engine):
    spark = engine.spark
    engine.register_table("w", _rows(spark, range(N), 0), row_id="id")
    for name, kw in INDEXES.items():
        engine.create_index(name, "w", "emb", **kw)

    with job_count(spark) as jobs:
        engine.insert("w", _rows(spark, range(N, N + 5), 1))
    assert jobs[0] == len(INDEXES)

    # no tombstones yet: the write is the only job
    with job_count(spark) as jobs:
        engine.delete("w", [1, 2, 2])
    assert jobs[0] == len(INDEXES)
    assert {m.num_deleted for m in _metas(engine).values()} == {2}

    # after a delete: the old tombstones are read on the driver, the write
    # of the new ids is still the only job
    with job_count(spark) as jobs:
        engine.delete("w", [2, 3])
    assert jobs[0] == len(INDEXES)
    assert {m.num_deleted for m in _metas(engine).values()} == {3}

    with job_count(spark) as jobs:
        engine.delete("w", [3])  # already tombstoned: nothing to write
    assert jobs[0] == 0
    assert {m.num_deleted for m in _metas(engine).values()} == {3}
    engine.delete("w", spark.createDataFrame([(4,), (4,), (3,)], "id long"))
    assert {m.num_deleted for m in _metas(engine).values()} == {4}

    engine.insert("w", _rows(spark, range(N + 5, N + 8), 2))
    for name, meta in _metas(engine).items():
        assert meta.extra["delta_rows"] == 8
        assert engine.catalog.delta(name).count() == 8
        tomb = engine.catalog.tombstones(name)
        assert tomb.count() == tomb.distinct().count() == meta.num_deleted

    for name in INDEXES:
        engine.vacuum(name)
        idx = engine.get_index(name)
        assert idx.meta.num_vectors == idx.artifact().count() == N + 8 - 4
        assert idx.meta.num_deleted == 0
        assert not idx.meta.extra.get("delta_rows")
