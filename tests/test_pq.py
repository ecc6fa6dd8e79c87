"""Product quantization: PQ codebooks/codes/ADC search and the FAISS
factory composites the reference's parser accepts
(``src/faiss_index.cpp:39-60``) mapped to native machinery."""

import numpy as np
import pytest

from tests.conftest import make_vectors_df


def _rand_rows(seed, n, dim):
    rng = np.random.RandomState(seed)
    return [(i, rng.rand(dim).astype(np.float32).tolist()) for i in range(n)]


def test_pq_flat_flag_top1_and_recall(engine):
    rows = _rand_rows(3, 200, 16)
    engine.register_table("pv", make_vectors_df(engine.spark, rows, dim=16), row_id="id")
    engine.create_index("pq_full", "pv", engine="faiss", index_type="Flat")
    engine.create_index(
        "pqidx", "pv", engine="faiss", index_type="Flat",
        quantization="pq", pq_m=4,
    )
    info = {r["name"]: r for r in engine.ann_index_info().collect()}
    assert info["pqidx"]["quantized"] is True
    # exact-match top-1 survives the code granularity (the probe vector is
    # itself a dataset row, so its reconstruction is the nearest centroid
    # tuple by construction)
    for probe_id in (0, 77, 199):
        q = rows[probe_id][1]
        res = engine.ann_search("pv", "pqidx", q, k=1).collect()
        assert res[0]["id"] == probe_id
    # candidate recall: PQ top-10 vs exact top-10
    q = rows[5][1]
    full = {r["id"] for r in engine.ann_search("pv", "pq_full", q, k=10).collect()}
    quant = {r["id"] for r in engine.ann_search("pv", "pqidx", q, k=10).collect()}
    assert len(full & quant) >= 6


def test_pq_adc_equals_reconstruction_distance(engine):
    """The GEMM-on-reconstruction distance must equal the classical ADC
    lookup-table sum — disjoint subspaces make them the same number."""
    from duckdb_annsearch_spark.index import pq

    rng = np.random.RandomState(9)
    x = rng.rand(64, 12).astype(np.float32)
    books = pq.train_pq(x, m=3)
    codes = pq.encode_pq(x, books)
    recon = pq.decode_pq(codes, books)
    q = rng.rand(12).astype(np.float32)
    # ADC: per-subspace lookup tables
    dsub = 4
    lut = np.stack(
        [
            ((books[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1)
            for j in range(3)
        ]
    )  # (m, ksub)
    adc = lut[np.arange(3)[:, None], codes.T].sum(axis=0)
    rec = ((recon - q) ** 2).sum(axis=1)
    np.testing.assert_allclose(adc, rec, rtol=1e-4, atol=1e-5)


def test_pq_ivf_and_query_distributed_parity(engine):
    rows = _rand_rows(21, 300, 8)
    engine.register_table("pv2", make_vectors_df(engine.spark, rows, dim=8), row_id="id")
    engine.create_index(
        "pq_ivf", "pv2", engine="faiss", index_type="IVFFlat",
        ivf_nlist=4, nprobe=4, quantization="pq", pq_m=4,
    )
    q = rows[8][1]
    res = engine.ann_search("pv2", "pq_ivf", q, k=5).collect()
    assert res[0]["id"] == 8
    # query-distributed twin returns the same rows as the driver-list path
    idx = engine.get_index("pq_ivf")
    qdf = engine.spark.createDataFrame(
        [(0, q)], "query_idx long, query array<float>"
    )
    dist = idx.search_batch_df(qdf, 5).collect()
    assert sorted(r["row_id"] for r in dist) == sorted(r["id"] for r in res)


def test_ivfpq_residual_encoding(engine):
    """IVFPQ codes encode residuals to the coarse centroid (FAISS
    semantics): flag persisted, full-probe distances approximate exact
    within the residual-code granularity, and both search paths agree."""
    rng = np.random.RandomState(77)
    # clustered data: residual coding shines when cells are tight
    centers = rng.rand(4, 8).astype(np.float32) * 10
    rows = [
        (i, (centers[i % 4] + rng.rand(8).astype(np.float32) * 0.5).tolist())
        for i in range(240)
    ]
    engine.register_table("rv", make_vectors_df(engine.spark, rows, dim=8), row_id="id")
    engine.create_index("rv_full", "rv", engine="faiss", index_type="Flat")
    engine.create_index(
        "rv_ivfpq", "rv", engine="faiss", description="IVF4,PQ4", nprobe=4
    )
    assert engine.catalog.load("rv_ivfpq").extra["pq_residual"] is True
    q = rows[17][1]
    full = engine.ann_search("rv", "rv_full", q, k=10).collect()
    quant = engine.ann_search("rv", "rv_ivfpq", q, k=10).collect()
    overlap = len({r["id"] for r in full} & {r["id"] for r in quant})
    assert overlap >= 8
    # ADC-on-residual distance tracks the exact distance closely on
    # clustered data (cell spread 0.5 per dim -> residual error << 1)
    for fr, qr in zip(full, quant):
        assert abs(fr["_distance"] - qr["_distance"]) < 0.5


def test_pq_persistence_reload(engine):
    """Codebooks live in the artifact dir; a fresh engine over the same
    workdir must search identically (D8 restart semantics)."""
    from duckdb_annsearch_spark.engine import AnnEngine

    rows = _rand_rows(31, 120, 8)
    df = make_vectors_df(engine.spark, rows, dim=8)
    engine.register_table("pv3", df, row_id="id")
    engine.create_index(
        "pq_p", "pv3", engine="faiss", index_type="Flat",
        quantization="pq", pq_m=2,
    )
    q = rows[3][1]
    before = [(r["id"], r["_distance"]) for r in engine.ann_search("pv3", "pq_p", q, k=5).collect()]
    eng2 = AnnEngine(engine.spark, workdir=engine.workdir)
    eng2.register_table("pv3", df, row_id="id")
    after = [(r["id"], r["_distance"]) for r in eng2.ann_search("pv3", "pq_p", q, k=5).collect()]
    assert after == before


def test_pq_lifecycle_delete_vacuum(engine):
    """D4/D5 on a quantized index: tombstoned rows vanish from results,
    vacuum retrains codebooks on the live rows and stays quantized."""
    rows = _rand_rows(61, 150, 8)
    engine.register_table("pv6", make_vectors_df(engine.spark, rows, dim=8), row_id="id")
    engine.create_index(
        "pq_lc", "pv6", engine="faiss", description="IVF4,PQ4", nprobe=4
    )
    q = rows[10][1]
    engine.delete("pv6", [10])
    got = [r["id"] for r in engine.ann_search("pv6", "pq_lc", q, k=5).collect()]
    assert 10 not in got
    engine.vacuum("pq_lc")
    meta = engine.catalog.load("pq_lc")
    assert meta.quantized and meta.extra.get("pq_residual") is True
    assert meta.num_deleted == 0
    got2 = [r["id"] for r in engine.ann_search("pv6", "pq_lc", q, k=5).collect()]
    assert 10 not in got2 and len(got2) == 5


def test_factory_composites(engine):
    rows = _rand_rows(41, 80, 8)
    engine.register_table("pv4", make_vectors_df(engine.spark, rows, dim=8), row_id="id")
    engine.create_index("f_sq8", "pv4", engine="faiss", description="SQ8")
    engine.create_index("f_pq", "pv4", engine="faiss", description="PQ4")
    engine.create_index("f_ivfsq", "pv4", engine="faiss", description="IVF4,SQ8", nprobe=4)
    engine.create_index("f_ivfpq", "pv4", engine="faiss", description="IVF4,PQ2", nprobe=4)
    info = {r["name"]: r for r in engine.ann_index_info().collect()}
    assert all(info[n]["quantized"] for n in ("f_sq8", "f_pq", "f_ivfsq", "f_ivfpq"))
    assert engine.catalog.load("f_ivfpq").index_type == "ivfflat"
    assert engine.catalog.load("f_pq").extra["pq_m"] == 4
    q = rows[7][1]
    for n in ("f_sq8", "f_pq", "f_ivfsq", "f_ivfpq"):
        assert engine.ann_search("pv4", n, q, k=1).collect()[0]["id"] == 7


def test_quantization_rejections(engine):
    rows = _rand_rows(51, 30, 6)
    engine.register_table("pv5", make_vectors_df(engine.spark, rows, dim=6), row_id="id")
    with pytest.raises(ValueError, match="unknown quantization"):
        engine.create_index("bad_q", "pv5", engine="faiss", quantization="int4")
    with pytest.raises(ValueError, match="sq8"):
        engine.create_index("bad_gq", "pv5", engine="diskann", quantization="pq")
    with pytest.raises(ValueError, match="divisor"):
        engine.create_index(
            "bad_m", "pv5", engine="faiss", quantization="pq", pq_m=4
        )
    with pytest.raises(ValueError, match="unsupported FAISS factory"):
        engine.create_index("bad_f", "pv5", engine="faiss", description="PCA32,IVF64,PQ16")
    # OPQ,IVF,PQ now parses (round 5) but still validates the divisor
    with pytest.raises(ValueError, match="divisor"):
        engine.create_index("bad_f2", "pv5", engine="faiss", description="OPQ16,IVF64,PQ16")
    # non-sharded streaming builds keep rejecting pq (sharded-only path)
    with pytest.raises(ValueError, match="shards"):
        engine.streaming_build("bad_sb", "pv5", quantization="pq")


def test_quantized_empty_table_build_and_lifecycle(engine):
    """CREATE INDEX on a zero-row table with quantization (sq8 and pq) must
    build (identity stats / zero codebooks), serve empty results, accept
    inserts via the full-precision delta, and retrain on vacuum."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.ArrayType(T.FloatType())),
        ]
    )
    empty = engine.spark.createDataFrame([], schema)
    engine.register_table("eq", empty, row_id="id")
    engine.create_index(
        "eq_sq8", "eq", "v", engine="faiss", index_type="Flat",
        quantization="sq8", dim=4,
    )
    engine.create_index(
        "eq_pq", "eq", "v", engine="faiss", index_type="Flat",
        quantization="pq", dim=4, pq_m=2,
    )
    for n in ("eq_sq8", "eq_pq"):
        assert engine.ann_search("eq", n, [0.0] * 4, k=3).count() == 0
    rows = [(i, [float(i)] * 4) for i in range(12)]
    engine.insert("eq", engine.spark.createDataFrame(rows, schema))
    got = [r["id"] for r in engine.ann_search("eq", "eq_pq", [5.0] * 4, k=3).collect()]
    assert got[0] == 5
    engine.vacuum("eq_pq")
    meta = engine.catalog.load("eq_pq")
    assert meta.quantized and meta.num_vectors == 12
    got2 = [r["id"] for r in engine.ann_search("eq", "eq_pq", [5.0] * 4, k=3).collect()]
    assert got2[0] == 5


def test_opq_rotation_reduces_error_and_serves(engine):
    """OPQ (Ge et al. 2013): the learned rotation must be orthogonal, must
    not increase PQ reconstruction error on correlated data, and the
    OPQm,PQm factory composite must build and search correctly."""
    from duckdb_annsearch_spark.index.pq import (
        decode_pq,
        encode_pq,
        train_opq,
        train_pq,
    )

    rng = np.random.RandomState(13)
    # correlated dims (random linear mix) — the case rotation exists for
    base = rng.rand(300, 8).astype(np.float32)
    mix = rng.rand(8, 8).astype(np.float32)
    x = (base @ mix).astype(np.float32)
    r, books = train_opq(x, m=4, iters=6)
    np.testing.assert_allclose(r @ r.T, np.eye(8), atol=1e-4)  # orthogonal
    err_opq = ((decode_pq(encode_pq(x @ r, books), books) - x @ r) ** 2).sum()
    books_pq = train_pq(x, m=4)
    err_pq = ((decode_pq(encode_pq(x, books_pq), books_pq) - x) ** 2).sum()
    assert err_opq <= err_pq * 1.05  # never meaningfully worse

    rows = [(i, x[i].tolist()) for i in range(300)]
    engine.register_table("ov", make_vectors_df(engine.spark, rows, dim=8), row_id="id")
    engine.create_index("opq_idx", "ov", engine="faiss", description="OPQ4,PQ4")
    meta = engine.catalog.load("opq_idx")
    assert meta.quantized and meta.extra.get("opq") is True
    for probe_id in (0, 123, 299):
        got = engine.ann_search("ov", "opq_idx", rows[probe_id][1], k=1).collect()
        assert got[0]["id"] == probe_id
    # restart reload includes the rotation
    from duckdb_annsearch_spark.engine import AnnEngine

    eng2 = AnnEngine(engine.spark, workdir=engine.workdir)
    eng2.register_table("ov", make_vectors_df(engine.spark, rows, dim=8), row_id="id")
    got = eng2.ann_search("ov", "opq_idx", rows[7][1], k=1).collect()
    assert got[0]["id"] == 7


def test_opq_rejections(engine):
    rows = _rand_rows(71, 40, 8)
    engine.register_table("ov2", make_vectors_df(engine.spark, rows, dim=8), row_id="id")
    with pytest.raises(ValueError, match="must match"):
        engine.create_index("bad_opq", "ov2", engine="faiss", description="OPQ2,PQ4")
    with pytest.raises(ValueError, match="must match"):
        engine.create_index("bad_opq2", "ov2", engine="faiss", description="OPQ2,IVF8,PQ4")
    # LSH and PCA grew native machinery in round 5; IMI (multi-index) chains
    # remain unsupported and must still reject loudly
    with pytest.raises(ValueError, match="unsupported FAISS factory"):
        engine.create_index("bad_opq3", "ov2", engine="faiss", description="IMI2x8,PQ4")
    with pytest.raises(ValueError, match="HNSW quantizes"):
        engine.create_index(
            "bad_opq4", "ov2", engine="faiss", index_type="HNSW",
            quantization="pq", pq_m=4, opq=True,
        )


def test_opq_over_ivf_factory(engine):
    """"OPQ<m>,IVF<n>,PQ<m>" (round 5): the learned rotation composes with
    residual coding — codes = encode(R @ (x - c)); the probe decodes with
    R^T then adds the coarse centroid back, so serving is original-space
    and self-queries resolve through the lossy codes."""
    rng = np.random.RandomState(29)
    base = rng.rand(240, 8).astype(np.float32)
    mix = rng.rand(8, 8).astype(np.float32)  # correlated dims
    x = (base @ mix).astype(np.float32)
    rows = [(i, x[i].tolist()) for i in range(240)]
    engine.register_table("oiv", make_vectors_df(engine.spark, rows, dim=8), row_id="id")
    engine.create_index(
        "opq_ivf", "oiv", engine="faiss", description="OPQ4,IVF4,PQ4", nprobe=4
    )
    meta = engine.catalog.load("opq_ivf")
    assert meta.index_type == "ivfflat"
    assert meta.quantized and meta.extra.get("opq") is True
    assert meta.extra.get("pq_residual") is True
    import os

    from duckdb_annsearch_spark.index.quant import ROTATION_FILE

    assert os.path.exists(
        os.path.join(engine.catalog.data_path("opq_ivf"), ROTATION_FILE)
    )
    for probe_id in (0, 101, 239):
        got = engine.ann_search("oiv", "opq_ivf", rows[probe_id][1], k=1).collect()
        assert got[0]["id"] == probe_id
    # rerank recipe over the composed index matches exact brute force
    q = x[55]
    d = ((x - q) ** 2).sum(axis=1)
    exact = np.argsort(d, kind="stable")[:5].tolist()
    got = engine.ann_search(
        "oiv", "opq_ivf", q.tolist(), 5, oversample=20, rerank=True
    ).collect()
    assert [r["id"] for r in got] == exact


def test_pq_inner_product_metric(engine):
    """PQ codes are metric-agnostic (L2-nearest codewords); the probe
    applies the index's metric to the reconstruction — IP ranking must
    surface the max-dot-product row."""
    rng = np.random.RandomState(91)
    rows = [(i, rng.rand(8).astype(np.float32).tolist()) for i in range(150)]
    engine.register_table("ipv", make_vectors_df(engine.spark, rows, dim=8), row_id="id")
    engine.create_index(
        "pq_ip", "ipv", engine="faiss", index_type="Flat",
        metric="ip", quantization="pq", pq_m=4,
    )
    q = [1.0] * 8
    x = np.asarray([v for _, v in rows], dtype=np.float32)
    best = int(np.argmax(x @ np.asarray(q, dtype=np.float32)))
    got = engine.ann_search("ipv", "pq_ip", q, k=3).collect()
    assert got[0]["id"] == best
    # negated-IP convention: distances ascend (more-negative = better)
    ds = [r["_distance"] for r in got]
    assert ds == sorted(ds)


def test_rflat_refine_factory(engine):
    """",RFlat" (faiss IndexRefineFlat, round 5): the factory suffix makes
    rerank the index's serving default — ann_search over-fetches
    refine_k_factor x from the codes and re-scores exactly, so the lossy
    index answers with exact distances and exact top-k (candidate set
    permitting) with ZERO caller opt-in."""
    rng = np.random.RandomState(37)
    rows = [(i, rng.rand(8).astype(np.float32).tolist()) for i in range(300)]
    engine.register_table("rf", make_vectors_df(engine.spark, rows, dim=8), row_id="id")
    engine.create_index(
        "rf_idx", "rf", engine="faiss", description="IVF4,PQ4,RFlat",
        nprobe=4, refine_k_factor=20,
    )
    meta = engine.catalog.load("rf_idx")
    assert meta.params.get("refine") is True and meta.quantized

    x = np.asarray([r[1] for r in rows], dtype=np.float32)
    q = x[77]
    d = ((x - q) ** 2).sum(axis=1)
    exact = np.argsort(d, kind="stable")[:5].tolist()
    got = engine.ann_search("rf", "rf_idx", q.tolist(), 5).collect()  # defaults
    assert len(got) == 5  # rerank default returns exactly k
    assert [r["id"] for r in got] == exact
    assert abs(got[0]["_distance"] - float(d[exact[0]])) < 1e-4  # exact value

    # explicit opt-out still serves raw code distances, k*1 rows
    raw = engine.ann_search("rf", "rf_idx", q.tolist(), 5, rerank=False).collect()
    assert len(raw) == 5

    # non-Flat refiners keep rejecting
    with pytest.raises(ValueError, match="unsupported FAISS factory"):
        engine.create_index("bad_rf", "rf", engine="faiss", description="PQ4,Refine(SQ8)")


def test_pq_m_auto_scales_with_row_count():
    """The scale-aware default code width (ROADMAP 20M certification):
    pq_m=16 at 64-d passes the >=0.7 recall floor through 10M rows but
    fails it at 20M; dim//2 restores 0.985/0.9 measured at 10M.  The auto
    rule must widen codes at the measured thresholds, snap to a divisor of
    dim, and never override an explicit pq_m."""
    from duckdb_annsearch_spark.index.pq import pq_m_auto, pq_m_for

    # measured tiers at dim=64
    assert pq_m_auto(64, 0) == 8
    assert pq_m_auto(64, 1_999_999) == 8
    assert pq_m_auto(64, 2_000_000) == 16
    assert pq_m_auto(64, 9_999_999) == 16
    assert pq_m_auto(64, 10_000_000) == 32
    assert pq_m_auto(64, 200_000_000) == 32
    # snaps DOWN to a divisor of dim (dim=48: target 24 divides; dim=50:
    # target 25 divides; dim=12 small-n target 8 -> largest divisor 6)
    assert pq_m_auto(48, 10_000_000) == 24
    assert pq_m_auto(12, 0) == 6
    assert pq_m_auto(4, 0) == 4  # never exceeds dim
    # pq_m_for: explicit m is strict, default routes through the auto rule
    assert pq_m_for(64, None, n=20_000_000) == 32
    assert pq_m_for(64, None) == 8
    assert pq_m_for(64, 16, n=20_000_000) == 16  # explicit wins
    with pytest.raises(ValueError, match="divisor"):
        pq_m_for(64, 7)


def test_sharded_build_uses_auto_pq_m(engine, monkeypatch):
    """The sharded builder must route its default code width through the
    scale-aware rule (the 20M-certification knob).  Tiers are monkeypatched
    driver-side (the decision is made before anything ships to executors)
    so the >=10M branch is exercised at CI scale."""
    from duckdb_annsearch_spark.index import pq as pq_mod

    monkeypatch.setattr(
        pq_mod, "PQ_AUTO_TIERS", ((300, 2), (100, 4), (0, 8))
    )
    # dim=8 here: drop the max(DEFAULT_PQ_M, ...) floor so the tier is visible
    monkeypatch.setattr(pq_mod, "DEFAULT_PQ_M", 2)
    rows = _rand_rows(9, 400, 8)
    engine.register_table(
        "apm", make_vectors_df(engine.spark, rows, dim=8), row_id="id"
    )
    engine.streaming_build(
        "apm_g", "apm", "embedding", shards=2, shard_by="kmeans",
        quantization="pq",
    )
    meta = engine.catalog.load("apm_g")
    assert meta.extra["pq_m"] == 4  # n=400 >= 300 -> dim//2
    got = engine.ann_search(
        "apm", "apm_g", rows[7][1], 5, oversample=10, rerank=True
    ).collect()
    assert got[0]["id"] == 7


@pytest.mark.parametrize("opq", [False, True], ids=["pq", "pq+opq"])
def test_sharded_pq_graph_search_after_insert(engine, opq):
    """A sharded PQ/OPQ graph records its quantization, so the delta merge
    after an insert loads the codebooks instead of guessing SQ8 (it raised
    KeyError: 'sq8_mins'); the inserted row equal to the query ranks first."""
    rng = np.random.RandomState(31)
    n, dim = 600, 16
    rows = [(i, rng.rand(dim).astype(np.float32).tolist()) for i in range(n)]
    engine.register_table("spi", make_vectors_df(engine.spark, rows, dim=dim), row_id="id")
    engine.streaming_build(
        "spi_g", "spi", shards=3, shard_by="kmeans", quantization="pq", opq=opq
    )
    q = rng.rand(dim).astype(np.float32).tolist()
    engine.insert("spi", make_vectors_df(engine.spark, [(n, q)], dim=dim))
    got = engine.ann_search("spi", "spi_g", q, k=5).collect()
    assert got[0]["id"] == n
