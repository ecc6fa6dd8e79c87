"""ann_search(local=True): driver-local single-query serving.

The reference answers one k-NN in microseconds in-process
(README.md:134-146); every distributed search pays Spark job overhead.
The local path probes a driver-cached numpy snapshot of the artifact and
returns a k-row driver-made relation — same answer as the exact/rerank
path, no cluster job."""

import time

import numpy as np
import pytest

from tests.conftest import make_vectors_df


def _rows(seed=11, n=300, dim=8):
    rng = np.random.RandomState(seed)
    return [(i, rng.rand(dim).astype(np.float32).tolist()) for i in range(n)]


@pytest.fixture()
def local_engine(engine):
    rows = _rows()
    engine.register_table(
        "lv", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    engine.create_index("lv_flat", "lv", "embedding", engine="faiss", index_type="Flat")
    return engine, rows


def test_local_matches_distributed(local_engine):
    engine, rows = local_engine
    q = rows[42][1]
    dist = engine.ann_search("lv", "lv_flat", q, k=5).collect()
    loc = engine.ann_search("lv", "lv_flat", q, k=5, local=True).collect()
    assert [r["id"] for r in loc] == [r["id"] for r in dist]
    for a, b in zip(loc, dist):
        assert abs(a["_distance"] - b["_distance"]) < 1e-5
        np.testing.assert_allclose(a["embedding"], b["embedding"], rtol=1e-6)
    # schema parity: same columns, local top hit is the probe row itself
    assert loc[0]["id"] == 42
    assert [f.name for f in engine.ann_search(
        "lv", "lv_flat", q, k=5, local=True
    ).schema.fields] == ["id", "embedding", "_distance"]


def test_local_honors_lifecycle(local_engine):
    engine, rows = local_engine
    q = rows[42][1]
    # first local call warms the snapshot
    assert engine.ann_search("lv", "lv_flat", q, k=1, local=True).first()["id"] == 42
    # delete the top hit: the snapshot must invalidate and drop it
    engine.delete("lv", [42])
    got = engine.ann_search("lv", "lv_flat", q, k=3, local=True).collect()
    assert 42 not in {r["id"] for r in got}
    # insert an exact-match row: the delta tail must serve it
    new = engine.spark.createDataFrame([(999, q)], "id long, embedding array<float>")
    engine.insert("lv", new)
    assert engine.ann_search("lv", "lv_flat", q, k=1, local=True).first()["id"] == 999


def test_local_requires_artifact_columns(engine):
    rows = [(i, f"t{i}", v) for i, (_, v) in enumerate(_rows(n=60))]
    df = engine.spark.createDataFrame(rows, "id long, txt string, v array<float>")
    engine.register_table("lw", df, row_id="id")
    engine.create_index("lw_flat", "lw", "v", engine="faiss", index_type="Flat")
    with pytest.raises(ValueError, match="txt"):
        engine.ann_search("lw", "lw_flat", rows[0][2], k=3, local=True)


def test_local_size_cap(local_engine, monkeypatch):
    engine, rows = local_engine
    import duckdb_annsearch_spark.engine as eng_mod

    monkeypatch.setattr(eng_mod, "LOCAL_SERVE_MAX_BYTES", 10)
    engine._local_snapshots.clear()
    with pytest.raises(ValueError, match="local-serving cap"):
        engine.ann_search("lv", "lv_flat", rows[0][1], k=3, local=True)


def test_local_hot_path_is_fast(local_engine):
    engine, rows = local_engine
    t = engine.table("lv")
    idx = engine.get_index("lv_flat")
    q = rows[7][1]
    engine._local_topk_rows(t, idx, q, 5)  # warm the snapshot
    t0 = time.perf_counter()
    for _ in range(50):
        out = engine._local_topk_rows(t, idx, q, 5)
    per_call = (time.perf_counter() - t0) / 50
    assert out[0][0] == 7
    # ms-class, not the ~0.5-0.9 s Spark-job floor (generous bound: this
    # host's CPU speed swings several-fold between windows)
    assert per_call < 0.05, f"local probe took {per_call * 1e3:.1f} ms"


def test_local_serves_graph_and_ivf_artifacts(engine):
    # the snapshot loader projects (row_id, vector) out of ANY artifact
    # layout: sharded-graph (per-shard files + sidecars), IVF
    # (partitioned by cluster_id), flat
    rows = _rows(seed=5, n=400)
    df = engine.spark.createDataFrame(
        [(i, v) for i, v in rows], "id long, embedding array<float>"
    )
    engine.register_table("gv", df, row_id="id")
    engine.streaming_build("gv_graph", "gv", "embedding", shards=2, shard_by="kmeans")
    engine.create_index(
        "gv_ivf", "gv", "embedding", engine="faiss", index_type="IVFFlat", ivf_nlist=4
    )
    q = rows[13][1]
    got_g = engine.ann_search("gv", "gv_graph", q, k=5, local=True).collect()
    got_i = engine.ann_search("gv", "gv_ivf", q, k=5, local=True).collect()
    assert got_g[0]["id"] == 13
    assert [r["id"] for r in got_g] == [r["id"] for r in got_i]  # both exact


def test_local_batch_matches_distributed(local_engine):
    engine, rows = local_engine
    qs = [rows[3][1], rows[77][1], rows[150][1]]
    dist = engine.ann_search_batch("lv", "lv_flat", qs, k=4).collect()
    loc = engine.ann_search_batch("lv", "lv_flat", qs, k=4, local=True).collect()
    key = lambda r: (r["query_idx"], r["_distance"], r["id"])
    assert [(r["query_idx"], r["id"]) for r in sorted(loc, key=key)] == [
        (r["query_idx"], r["id"]) for r in sorted(dist, key=key)
    ]
    assert {r["query_idx"] for r in loc} == {0, 1, 2}
    assert loc[0].__fields__ == dist[0].__fields__


def test_drop_index_releases_snapshot(local_engine):
    engine, rows = local_engine
    engine.ann_search("lv", "lv_flat", rows[0][1], k=1, local=True).collect()
    assert "lv_flat" in engine._local_snapshots
    engine.drop_index("lv_flat")
    assert "lv_flat" not in engine._local_snapshots


def test_local_auto_falls_back(engine):
    # wide table (extra txt column): auto must silently take the
    # distributed path; explicit local=True keeps raising
    rows = [(i, f"t{i}", v) for i, (_, v) in enumerate(_rows(n=80))]
    df = engine.spark.createDataFrame(rows, "id long, txt string, embedding array<float>")
    engine.register_table("la", df, row_id="id")
    engine.create_index("la_flat", "la", "embedding", engine="faiss", index_type="Flat")
    got = engine.ann_search("la", "la_flat", rows[5][2], k=3, local="auto").collect()
    assert got[0]["id"] == 5 and got[0]["txt"] == "t5"
    # narrow table: auto serves locally — the plan is a k-row driver-made
    # relation (ExistingRDD), never a table/artifact scan or exchange
    engine.register_table("lan", df.select("id", "embedding"), row_id="id")
    out = engine.ann_search("lan", "la_flat", rows[5][2], k=3, local="auto")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan or "LocalTableScan" in plan
    assert "FileScan" not in plan and "Exchange" not in plan
    assert out.first()["id"] == 5


def test_local_snapshot_sees_ivf_vacuum(engine):
    # IVF artifacts live in cluster_id=N subdirectories: the snapshot
    # signature must walk the tree, or a vacuum rewriting those files
    # would serve stale (deleted) rows from the cache
    rows = _rows(seed=21, n=200)
    df = engine.spark.createDataFrame(
        [(i, v) for i, v in rows], "id long, embedding array<float>"
    )
    engine.register_table("vv", df, row_id="id")
    engine.create_index(
        "vv_ivf", "vv", "embedding", engine="faiss", index_type="IVFFlat", ivf_nlist=4
    )
    q = rows[9][1]
    assert engine.ann_search("vv", "vv_ivf", q, k=1, local=True).first()["id"] == 9
    engine.delete("vv", [9])
    engine.vacuum("vv_ivf")  # rewrites cluster_id=N files, clears tombstones
    got = engine.ann_search("vv", "vv_ivf", q, k=3, local=True).collect()
    assert 9 not in {r["id"] for r in got}


def test_local_rejects_per_query_params(local_engine):
    # local=True would silently ignore oversample/rerank/search params
    # (ADVICE r6) — it must raise instead; local='auto' must route to the
    # distributed path, which honors them (k*oversample rows, no rerank)
    engine, rows = local_engine
    q = rows[0][1]
    for kw in ({"oversample": 3}, {"rerank": True}, {"search_complexity": 32},
               {"nprobe": 2}):
        with pytest.raises(ValueError, match="silently ignored"):
            engine.ann_search("lv", "lv_flat", q, k=3, local=True, **kw)
    got = engine.ann_search("lv", "lv_flat", q, k=3, local="auto", oversample=3)
    assert got.count() == 9  # distributed non-rerank path: k * oversample


def test_local_snapshot_invalidates_on_meta_change(local_engine):
    engine, rows = local_engine
    engine.ann_search("lv", "lv_flat", rows[0][1], k=1, local=True).collect()
    sig0 = engine._local_snapshots["lv_flat"][0]
    mp = engine.catalog.meta_path("lv_flat")
    import os
    st = os.stat(mp)
    os.utime(mp, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    engine.ann_search("lv", "lv_flat", rows[0][1], k=1, local=True).collect()
    assert engine._local_snapshots["lv_flat"][0] != sig0


def test_dir_sig_survives_deletion_race(tmp_path, monkeypatch):
    # a temp file vanishing between walk and stat (concurrent vacuum) must
    # be skipped, not raise FileNotFoundError out of ann_search
    import os as _os

    from duckdb_annsearch_spark.engine import AnnEngine

    (tmp_path / "keep.parquet").write_bytes(b"x")
    ghost = tmp_path / "ghost.tmp"
    ghost.write_bytes(b"y")
    real_stat = _os.stat

    def racy_stat(path, *a, **k):
        if str(path).endswith("ghost.tmp"):
            raise FileNotFoundError(path)
        return real_stat(path, *a, **k)

    import duckdb_annsearch_spark.engine as eng_mod
    monkeypatch.setattr(eng_mod.os, "stat", racy_stat)
    sig = AnnEngine._dir_sig(str(tmp_path))
    assert len(sig) == 1 and sig[0][0].endswith("keep.parquet")


# ---------------------------------------------------------------- covering


@pytest.fixture()
def covered_engine(engine):
    # payload-bearing table: id + txt + score + embedding
    base = _rows(seed=31, n=250)
    rows = [(i, f"doc-{i}", float(i) / 10.0, v) for i, (_, v) in enumerate(base)]
    df = engine.spark.createDataFrame(
        rows, "id long, txt string, score double, embedding array<float>"
    )
    engine.register_table("cv", df, row_id="id")
    engine.create_index(
        "cv_flat", "cv", "embedding", engine="faiss", index_type="Flat",
        covering=True,
    )
    return engine, rows


def test_covering_local_matches_distributed(covered_engine):
    engine, rows = covered_engine
    q = rows[42][3]
    dist = engine.ann_search("cv", "cv_flat", q, k=5).collect()
    loc = engine.ann_search("cv", "cv_flat", q, k=5, local=True).collect()
    assert [r["id"] for r in loc] == [r["id"] for r in dist]
    for a, b in zip(loc, dist):
        assert a["txt"] == b["txt"] and a["txt"] == f"doc-{a['id']}"
        assert abs(a["score"] - b["score"]) < 1e-12
        assert abs(a["_distance"] - b["_distance"]) < 1e-5
    assert loc[0].__fields__ == dist[0].__fields__
    # the local plan stays a k-row driver-made relation: no scan/exchange
    out = engine.ann_search("cv", "cv_flat", q, k=5, local=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Exchange" not in plan


def test_covering_honors_lifecycle(covered_engine):
    engine, rows = covered_engine
    q = rows[42][3]
    assert engine.ann_search("cv", "cv_flat", q, k=1, local=True).first()["id"] == 42
    # delete: tombstones must filter the covered row too
    engine.delete("cv", [42])
    got = engine.ann_search("cv", "cv_flat", q, k=3, local=True).collect()
    assert 42 not in {r["id"] for r in got}
    # insert: the covering sidecar must gain the new payload
    new = engine.spark.createDataFrame(
        [(999, "doc-999", 99.9, q)],
        "id long, txt string, score double, embedding array<float>",
    )
    engine.insert("cv", new)
    top = engine.ann_search("cv", "cv_flat", q, k=1, local=True).first()
    assert top["id"] == 999 and top["txt"] == "doc-999" and top["score"] == 99.9
    # vacuum: rebuild keeps covering attached and compacted
    engine.vacuum("cv_flat")
    idx = engine.get_index("cv_flat")
    assert sorted(idx.meta.extra["covering"]) == ["score", "txt"]
    top = engine.ann_search("cv", "cv_flat", q, k=1, local=True).first()
    assert top["id"] == 999 and top["txt"] == "doc-999"
    got = engine.ann_search("cv", "cv_flat", q, k=3, local=True).collect()
    assert 42 not in {r["id"] for r in got}


def test_attach_covering_to_existing_index(engine):
    rows = [(i, f"t{i}", v) for i, (_, v) in enumerate(_rows(seed=7, n=80))]
    df = engine.spark.createDataFrame(rows, "id long, txt string, embedding array<float>")
    engine.register_table("ac", df, row_id="id")
    engine.create_index("ac_flat", "ac", "embedding", engine="faiss", index_type="Flat")
    q = rows[5][2]
    with pytest.raises(ValueError, match="attach_covering"):
        engine.ann_search("ac", "ac_flat", q, k=3, local=True)
    engine.attach_covering("ac_flat", ["txt"])
    top = engine.ann_search("ac", "ac_flat", q, k=1, local=True).first()
    assert top["id"] == 5 and top["txt"] == "t5"
    # validation: unknown / reserved columns rejected
    with pytest.raises(ValueError, match="not on table"):
        engine.attach_covering("ac_flat", ["nope"])
    with pytest.raises(ValueError, match="exclude the row key"):
        engine.attach_covering("ac_flat", ["id"])


def test_covering_merge_requires_matching_source(engine):
    base = _rows(seed=9, n=120)
    df = engine.spark.createDataFrame(
        [(i, f"m{i}", v) for i, (_, v) in enumerate(base)],
        "id long, txt string, embedding array<float>",
    )
    engine.register_table("mva", df.where("id < 80"), row_id="id")
    engine.register_table("mvb", df.where("id >= 80"), row_id="id")
    engine.create_index(
        "mv_main", "mva", "embedding", engine="faiss", index_type="Flat",
        covering=["txt"],
    )
    engine.create_index("mv_other", "mvb", "embedding", engine="faiss", index_type="Flat")
    with pytest.raises(ValueError, match="covers nothing"):
        engine.merge_index("mv_main", "mv_other")
    engine.attach_covering("mv_other", ["txt"])
    engine.merge_index("mv_main", "mv_other")
    # the merged index holds mvb's rows, which are not mva's: local
    # serving refuses to answer from it, 'auto' fetches from the view
    q = [float(v) for v in base[100][1]]
    with pytest.raises(ValueError, match="outside table 'mva'"):
        engine.ann_search("mva", "mv_main", q, k=5, local=True)
    auto = engine.ann_search("mva", "mv_main", q, k=5, local="auto").collect()
    dist = engine.ann_search("mva", "mv_main", q, k=5).collect()
    assert auto and all(r["id"] < 80 for r in auto)
    assert [r["id"] for r in auto] == [r["id"] for r in dist]


def test_covering_counts_against_cap(covered_engine, monkeypatch):
    engine, rows = covered_engine
    import duckdb_annsearch_spark.engine as eng_mod

    # vectors alone fit (250*8*4 = 8000 bytes) but payload pushes past
    monkeypatch.setattr(eng_mod, "LOCAL_SERVE_MAX_BYTES", 8100)
    engine._local_snapshots.clear()
    with pytest.raises(ValueError, match="local-serving cap"):
        engine.ann_search("cv", "cv_flat", rows[0][3], k=3, local=True)


def test_vacuum_survives_missing_covering_dir(covered_engine):
    # sidecar lost out-of-band: vacuum rebuilds WITHOUT it (no crash) and
    # local serving then names attach_covering as the remedy
    engine, rows = covered_engine
    import shutil
    shutil.rmtree(engine.catalog.covering_path("cv_flat"))
    engine.vacuum("cv_flat")
    assert "covering" not in engine.get_index("cv_flat").meta.extra
    with pytest.raises(ValueError, match="attach_covering"):
        engine.ann_search("cv", "cv_flat", rows[0][3], k=3, local=True)
    engine.attach_covering("cv_flat", True)
    top = engine.ann_search("cv", "cv_flat", rows[0][3], k=1, local=True).first()
    assert top["id"] == 0 and top["txt"] == "doc-0"


def test_local_batch_rejects_per_query_params(local_engine):
    engine, rows = local_engine
    with pytest.raises(ValueError, match="silently ignored"):
        engine.ann_search_batch(
            "lv", "lv_flat", [rows[0][1]], k=3, local=True, oversample=5
        )


def test_create_index_validates_covering_before_build(engine):
    rows = _rows(seed=13, n=40)
    df = engine.spark.createDataFrame(
        [(i, v) for i, v in rows], "id long, embedding array<float>"
    )
    engine.register_table("cvv", df, row_id="id")
    with pytest.raises(ValueError, match="not on table"):
        engine.create_index(
            "cvv_flat", "cvv", "embedding", engine="faiss", index_type="Flat",
            covering=["typo_col"],
        )
    # the failed call must NOT have created the index
    assert not engine.catalog.exists("cvv_flat")


def test_local_equals_distributed_under_random_lifecycle(engine):
    """Randomized lifecycle fuzz (seeded): after every random
    insert/delete/vacuum on a covering index, local serving must return
    EXACTLY the distributed answer — ids, payload, and distances — for a
    fresh random query.  One scenario per op keeps Spark wall CI-sized
    while covering op interleavings the unit tests fix in place."""
    rng = np.random.RandomState(411)
    dim = 6
    rows = {
        int(i): (f"p{i}", float(rng.rand()), rng.rand(dim).astype(np.float32).tolist())
        for i in range(120)
    }
    df = engine.spark.createDataFrame(
        [(i, t, s, v) for i, (t, s, v) in rows.items()],
        "id long, txt string, score double, embedding array<float>",
    )
    engine.register_table("fz", df, row_id="id")
    engine.create_index(
        "fz_flat", "fz", "embedding", engine="faiss", index_type="Flat",
        covering=True,
    )
    next_id = 1000
    for step in range(6):
        op = ["insert", "delete", "vacuum"][step % 3]
        if op == "insert":
            new = {
                next_id + j: (
                    f"p{next_id + j}", float(rng.rand()),
                    rng.rand(dim).astype(np.float32).tolist(),
                )
                for j in range(3)
            }
            engine.insert("fz", engine.spark.createDataFrame(
                [(i, t, s, v) for i, (t, s, v) in new.items()],
                "id long, txt string, score double, embedding array<float>",
            ))
            rows.update(new)
            next_id += 3
        elif op == "delete":
            victims = [int(i) for i in rng.choice(sorted(rows), 4, replace=False)]
            engine.delete("fz", victims)
            for v in victims:
                rows.pop(v)
        else:
            engine.vacuum("fz_flat")
        q = rng.rand(dim).astype(np.float32).tolist()
        loc = engine.ann_search("fz", "fz_flat", q, k=7, local=True).collect()
        dist = engine.ann_search("fz", "fz_flat", q, k=7).collect()
        assert [r["id"] for r in loc] == [r["id"] for r in dist], f"step {step} {op}"
        for a, b in zip(loc, dist):
            assert a["txt"] == b["txt"] == rows[a["id"]][0]
            assert abs(a["score"] - rows[a["id"]][1]) < 1e-12
            assert abs(a["_distance"] - b["_distance"]) < 1e-4
        assert {r["id"] for r in loc} <= set(rows)


def test_covering_on_sharded_graph_index(engine):
    # the covering sidecar is index-layout-agnostic: attach to a
    # kmeans-sharded streaming graph and serve full rows locally
    rows = [(i, f"g{i}", v) for i, (_, v) in enumerate(_rows(seed=17, n=300))]
    df = engine.spark.createDataFrame(rows, "id long, txt string, embedding array<float>")
    engine.register_table("gcov", df, row_id="id")
    engine.streaming_build("gcov_g", "gcov", "embedding", shards=2, shard_by="kmeans")
    engine.attach_covering("gcov_g", True)
    q = rows[21][2]
    top = engine.ann_search("gcov", "gcov_g", q, k=3, local=True).collect()
    assert top[0]["id"] == 21 and top[0]["txt"] == "g21"
    dist = engine.ann_search("gcov", "gcov_g", q, k=3).collect()
    assert [(r["id"], r["txt"]) for r in top] == [(r["id"], r["txt"]) for r in dist]


def test_local_accepts_explicit_noop_params(local_engine):
    # rerank=False / oversample=1 ARE the local semantics: exact answer,
    # no re-score, k rows (ADVICE r7) — local=True must accept them, and
    # local='auto' must keep the fast path instead of silently routing
    # to the slower distributed one
    engine, rows = local_engine
    q = rows[0][1]
    base = engine.ann_search("lv", "lv_flat", q, k=3, local=True).collect()
    for kw in ({"rerank": False}, {"oversample": 1},
               {"rerank": False, "oversample": 1}):
        got = engine.ann_search("lv", "lv_flat", q, k=3, local=True, **kw)
        assert [r["id"] for r in got.collect()] == [r["id"] for r in base]
    out = engine.ann_search("lv", "lv_flat", q, k=3, local="auto", rerank=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Exchange" not in plan


def test_local_rerank_false_routes_away_on_lossy_index(local_engine):
    # On a LOSSY artifact an explicit rerank=False requests the
    # distributed path's code-distance semantics; the exact local probe
    # would silently substitute true distances (ADVICE r8) — so
    # local=True raises and local='auto' serves distributed.
    engine, rows = local_engine
    engine.create_index("lv_sq8", "lv", "embedding", engine="faiss",
                        description="SQ8")
    q = rows[0][1]
    with pytest.raises(ValueError, match="rerank"):
        engine.ann_search("lv", "lv_sq8", q, k=3, local=True, rerank=False)
    auto = engine.ann_search("lv", "lv_sq8", q, k=3, local="auto", rerank=False)
    dist = engine.ann_search("lv", "lv_sq8", q, k=3, rerank=False)
    assert [(r["id"], r["_distance"]) for r in auto.collect()] == [
        (r["id"], r["_distance"]) for r in dist.collect()
    ]
    # default rerank=None still takes the local fast path on lossy indexes
    out = engine.ann_search("lv", "lv_sq8", q, k=3, local="auto")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Exchange" not in plan


def test_capture_exposes_served_candidates(local_engine):
    # the capture hook hands back the PERSISTED candidate frame the
    # served result reranks — the replay-oracle export reads the same
    # single search execution, so served ⊆ captured by construction
    engine, rows = local_engine
    q = rows[7][1]
    cap: dict = {}
    hits = engine.ann_search(
        "lv", "lv_flat", q, k=5, oversample=4, rerank=True, capture=cap
    )
    cand = {r["row_id"] for r in cap["candidates"].select("row_id").collect()}
    assert len(cand) == 20  # k * oversample candidates from Flat
    assert cap["candidates"].storageLevel.useMemory  # persisted
    served = {r["id"] for r in hits.collect()}
    assert served <= cand and len(served) == 5
    cap["candidates"].unpersist()
    # the local short-circuit has no candidate phase
    cap2: dict = {}
    engine.ann_search("lv", "lv_flat", q, k=5, local=True, capture=cap2)
    assert cap2["candidates"] is None


def test_covering_null_float_payload_roundtrips(engine):
    # NULL float payloads must serve as NULL locally, not NaN (ADVICE r7:
    # plain float64 decay turned NULLs into NaN in the covering snapshot)
    base = _rows(seed=41, n=60)
    rows = [
        (i, None if i % 3 == 0 else float(i) / 4.0, v)
        for i, (_, v) in enumerate(base)
    ]
    df = engine.spark.createDataFrame(
        rows, "id long, fscore float, embedding array<float>"
    )
    engine.register_table("nf", df, row_id="id")
    engine.create_index(
        "nf_flat", "nf", "embedding", engine="faiss", index_type="Flat",
        covering=True,
    )
    q = rows[9][2]
    loc = engine.ann_search("nf", "nf_flat", q, k=8, local=True).collect()
    dist = engine.ann_search("nf", "nf_flat", q, k=8).collect()
    assert [r["id"] for r in loc] == [r["id"] for r in dist]
    for a, b in zip(loc, dist):
        if a["id"] % 3 == 0:
            assert a["fscore"] is None and b["fscore"] is None
        else:
            assert abs(a["fscore"] - b["fscore"]) < 1e-6


@pytest.mark.parametrize("op", ["vacuum", "merge_index"])
def test_vacuum_failure_names_covering_stage(covered_engine, monkeypatch, op):
    # a failed rebuild of a covering index must name BOTH staged paths —
    # the covering sidecar stage leaked silently before (ADVICE r7)
    engine, rows = covered_engine
    import duckdb_annsearch_spark.engine as eng_mod

    args = ["cv_flat"]
    if op == "merge_index":
        engine.create_index(
            "cv_src", "cv", "embedding", engine="faiss", index_type="Flat",
            covering=True,
        )
        args.append("cv_src")

    def boom(*a, **k):
        raise RuntimeError("injected build failure")

    monkeypatch.setattr(
        eng_mod._INDEX_CLASSES["flat"], "build", staticmethod(boom)
    )
    verb = op.split("_")[0]
    with pytest.raises(
        RuntimeError,
        match=rf"{verb} rebuild of 'cv_flat' failed; staged rows kept at "
        r"\S+; covering payload staged at \S+",
    ):
        getattr(engine, op)(*args)


def test_covering_serves_during_concurrent_lifecycle(engine):
    """Local payload serving RACING lifecycle mutations (r7 verdict
    item 7): a server thread answers local='auto' queries continuously
    while the main thread interleaves insert / delete / vacuum /
    attach_covering.  Every successful answer must be internally
    consistent — the payload a row serves must be THE payload of that id
    (payloads are immutable per id here), k rows, no duplicate ids.
    Transient errors during the vacuum swap window (index briefly
    unregistered, artifact dir mid-replace) are tolerated and counted;
    wrong DATA is not.  At the end, serving must be fully consistent
    with the distributed answer again."""
    import threading

    rng = np.random.RandomState(97)
    dim = 6
    rows = {
        int(i): (f"p{i}", rng.rand(dim).astype(np.float32).tolist())
        for i in range(150)
    }
    df = engine.spark.createDataFrame(
        [(i, t, v) for i, (t, v) in rows.items()],
        "id long, txt string, embedding array<float>",
    )
    engine.register_table("cc", df, row_id="id")
    engine.create_index(
        "cc_flat", "cc", "embedding", engine="faiss", index_type="Flat",
        covering=True,
    )
    stop = threading.Event()
    bad: list = []
    stats = {"ok": 0, "transient": 0}
    q_fixed = rows[3][1]

    def serve():
        while not stop.is_set():
            try:
                got = engine.ann_search(
                    "cc", "cc_flat", q_fixed, k=5, local="auto"
                ).collect()
            except Exception:
                stats["transient"] += 1  # swap-window race: allowed
                continue
            ids = [r["id"] for r in got]
            if len(ids) != 5 or len(set(ids)) != 5:
                bad.append(f"shape {ids}")
            for r in got:
                # id>=1000 rows are mid-test inserts: txt == f"p{id}" too
                if r["txt"] != f"p{r['id']}":
                    bad.append(f"payload {r['id']} -> {r['txt']}")
            stats["ok"] += 1

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    next_id = 1000
    try:
        for step in range(8):
            op = ["insert", "delete", "vacuum", "attach"][step % 4]
            if op == "insert":
                new = {
                    next_id + j: (
                        f"p{next_id + j}",
                        rng.rand(dim).astype(np.float32).tolist(),
                    )
                    for j in range(3)
                }
                engine.insert("cc", engine.spark.createDataFrame(
                    [(i, t_, v) for i, (t_, v) in new.items()],
                    "id long, txt string, embedding array<float>",
                ))
                rows.update(new)
                next_id += 3
            elif op == "delete":
                victims = [int(i) for i in rng.choice(sorted(rows), 3, replace=False)]
                engine.delete("cc", victims)
                for v in victims:
                    rows.pop(v)
            elif op == "vacuum":
                engine.vacuum("cc_flat")
            else:
                engine.attach_covering("cc_flat", True)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not bad, bad[:5]
    assert stats["ok"] >= 5, stats  # serving made real progress
    # settled state: local == distributed exactly, payloads included
    loc = engine.ann_search("cc", "cc_flat", q_fixed, k=7, local=True).collect()
    dist = engine.ann_search("cc", "cc_flat", q_fixed, k=7).collect()
    assert [(r["id"], r["txt"]) for r in loc] == [(r["id"], r["txt"]) for r in dist]
